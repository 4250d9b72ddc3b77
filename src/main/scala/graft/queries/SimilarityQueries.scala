package graft
package queries

import org.apache.spark.sql.{DataFrame => SDF, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.Similarity
import org.apache.spark.sql.types.DecimalType

import Glue._

/** Query records of the similarity: `Similarity` (exact and approximate
  * top-k, IVF and PQ indexes, k-means, embedding statistics). */
object SimilarityQueries {

  /** Shared scaffold for the ANN recall-contract twins
    * (q_ann_recall / q_ivf_recall): batch recall@k of `approx` against
    * the exact top-k over the same query set, claimed at num/den —
    * ONE definition so the two contracts cannot silently diverge. */
  private def recallContract(exact: SDF, approx: SDF,
                             num: Long, den: Long): SDF = {
    val hits = exact.select(col("query_id"), col("neighbor_id"))
      .join(approx.select(col("query_id"), col("neighbor_id")),
        Seq("query_id", "neighbor_id"))
      .groupBy("query_id").agg(count(lit(1)).as("__hit"))
    exact.groupBy("query_id").agg(count(lit(1)).as("__ex"))
      .join(hits, Seq("query_id"), "left")
      .agg(count(lit(1)).as("n_queries"),
        coalesce(sum("__ex"), lit(0L)).as("n_exact"),
        coalesce(sum("__hit"), lit(0L)).as("__hits"))
      .select(col("n_queries"), col("n_exact"),
        (col("__hits") * den >= col("n_exact") * num).as("recall_ok"))
  }

  /** Deterministic CLUSTERED embedding fixture for the IVF-PQ recall
    * contract: 16 md5-derived cluster centers (components uniform in
    * [−1, 1]) + 0.1× the real embedding as residual. The corpus's own
    * near-uniform embeddings collapse the PQ codebook (every vector
    * quantizes to the same codes — zero ADC discrimination), so the
    * q_ivfpq_topk oracle pins only ADC mechanics; this fixture makes
    * quantization error non-degenerate (codes vary across clusters).
    * The md5 fold runs ONCE on the driver (16×64 doubles) and both
    * engines consume the identical LITERAL matrix — the in-plan md5
    * form cost ~768 md5 evaluations per row per consumer, which put
    * q_ivfpq_recall at the top of the bench for pure fixture synthesis. */
  private[graft] lazy val PqClusterCenters: Seq[Seq[Double]] =
    (0 until 16).map { c =>
      (1 to 64).map { i =>
        val hex = java.security.MessageDigest.getInstance("MD5")
          .digest(s"pqc_${c}_$i".getBytes("UTF-8"))
          .map("%02x".format(_)).mkString
        val h = hex.take(12).foldLeft(0L)((acc, ch) =>
          acc * 16 + (if (ch >= 'a') ch - 87 else ch - 48))
        ((h % 2001L).toDouble - 1000.0) / 1000.0
      }
    }

  private def clusteredEmb(s: SparkSession, dir: String): SDF = {
    val centers = typedlit(PqClusterCenters)
    table(s, dir, "embeddings").select(col("vec_id"),
      transform(sequence(lit(1), lit(64)), i =>
        element_at(element_at(centers, (col("vec_id") % 16).cast("int") + 1), i) +
          element_at(col("embedding"), i).cast("double") * lit(0.1))
        .as("embedding"))
  }

  /** [[clusteredEmb]] as a DuckDB CTE body `ce(vec_id, embedding)` —
    * the same literal center matrix, rendered as a nested list. */
  private lazy val ClusteredEmbCte: String = {
    val m = PqClusterCenters.map(_.mkString("[", ", ", "]"))
      .mkString("[", ", ", "]")
    s"""ce AS (SELECT vec_id, list_transform(generate_series(1, 64), i ->
       |    ($m)[(vec_id % 16) + 1][i]
       |      + CAST(embedding[i] AS DOUBLE) * 0.1) AS embedding
       |  FROM embeddings)""".stripMargin
  }

  /** Shared exact side of the ANN recall contracts — the approx claim
    * is Spark's to prove, so both oracles are the identical exhaustive
    * top-10 count + TRUE. */
  private lazy val AnnRecallOracle: String =
    """WITH q AS (SELECT vec_id AS query_id, embedding AS qv
      |           FROM embeddings WHERE vec_id < 10),
      |scored AS (
      |  SELECT q.query_id, e.vec_id AS neighbor_id,
      |    list_sum(list_transform(list_zip(e.embedding, q.qv),
      |      x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE))) /
      |    (sqrt(list_sum(list_transform(e.embedding, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE)))) *
      |     sqrt(list_sum(list_transform(q.qv, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE))))) AS sim
      |  FROM embeddings e, q WHERE e.vec_id <> q.query_id),
      |ranked AS (SELECT query_id, neighbor_id,
      |  row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rank
      |  FROM scored)
      |SELECT CAST(count(DISTINCT query_id) AS BIGINT) AS n_queries,
      |  CAST(count(*) AS BIGINT) AS n_exact,
      |  TRUE AS recall_ok
      |FROM ranked WHERE rank <= 10""".stripMargin

  /** [[AnnRecallOracle]] over the CLUSTERED PQ fixture — the exact side
    * q_ivfpq_recall and q_ivfpq_rerank both answer to. */
  private lazy val ClusteredRecallOracle: String =
    s"""WITH $ClusteredEmbCte,
       |q AS (SELECT vec_id AS query_id, embedding AS qv
       |      FROM ce WHERE vec_id < 10),
       |scored AS (
       |  SELECT q.query_id, e.vec_id AS neighbor_id,
       |    list_sum(list_transform(list_zip(e.embedding, q.qv),
       |      x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE))) /
       |    (sqrt(list_sum(list_transform(e.embedding, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE)))) *
       |     sqrt(list_sum(list_transform(q.qv, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE))))) AS sim
       |  FROM ce e, q WHERE e.vec_id <> q.query_id),
       |ranked AS (SELECT query_id, neighbor_id,
       |  row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rank
       |  FROM scored)
       |SELECT CAST(count(DISTINCT query_id) AS BIGINT) AS n_queries,
       |  CAST(count(*) AS BIGINT) AS n_exact,
       |  TRUE AS recall_ok
       |FROM ranked WHERE rank <= 10""".stripMargin

  val all: Seq[Q] = Seq(
    // pipeline: random-projection dim reduction (JL pre-step before ANN);
    // seeded planes inline into the oracle, dot accumulation bit-exact
    Q("q_rand_proj", (s, dir) => {
      val rp = Similarity.randomProjection(col("embedding"),
        outDim = 4, dim = 64, seed = 7L)
      table(s, dir, "embeddings")
        .select(col("vec_id") +: rp.zipWithIndex.map {
          case (c, i) => c.as(s"rp$i") }: _*)
        .orderBy("vec_id")
    }, {
      val es = graft.operators.Similarity
        .randomProjectionOracleSqlExprs("embedding", 4, 64, 7L)
      s"""SELECT vec_id, ${es.zipWithIndex.map { case (e, i) => s"$e AS rp$i" }.mkString(", ")}
         |FROM embeddings ORDER BY vec_id""".stripMargin
    }),

    // pipeline: symmetric int8 embedding quantization — floor-based so the
    // quantized codes are bit-exact across engines; exploded for hashing
    Q("q_quantize", (s, dir) => {
      table(s, dir, "embeddings")
        .select(col("vec_id"), Similarity.quantScale(col("embedding")).as("scale"),
          posexplode(Similarity.quantizeInt8(col("embedding"))).as(Seq("pos0", "q")))
        .select(col("vec_id"), col("scale"), (col("pos0") + 1).as("pos"), col("q"))
        .orderBy("vec_id", "pos")
    },
      """WITH s AS (SELECT vec_id, embedding,
        |  list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) AS scale
        |  FROM embeddings)
        |SELECT vec_id, scale, generate_subscripts(embedding, 1) AS pos,
        |  CASE WHEN scale = 0 THEN 0 ELSE
        |    CAST(greatest(-127.0, least(127.0,
        |      floor(CAST(unnest(embedding) AS DOUBLE) * 127.0 / scale))) AS INT)
        |  END AS q
        |FROM s ORDER BY vec_id, pos""".stripMargin),

    // k-means assign step: nearest of 8 centroids per embedding
    // (broadcast centroids, map-side argmax fold)
    Q("q_kmeans_assign", (s, dir) => {
      val emb = table(s, dir, "embeddings")
      val cents = emb.where(col("vec_id") < 8)
      Similarity.assignCentroids(emb, "vec_id", "embedding",
        cents, "vec_id", "embedding")
        .select(col("vec_id"), col("centroid_id"),
          round(col("cosine"), 6).as("cosine"))
        .orderBy("vec_id")
    },
      """WITH c AS (SELECT vec_id AS centroid_id, embedding AS cv
        |           FROM embeddings WHERE vec_id < 8),
        |scored AS (
        |  SELECT e.vec_id, c.centroid_id,
        |    list_sum(list_transform(list_zip(e.embedding, c.cv),
        |      x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE))) /
        |    (sqrt(list_sum(list_transform(e.embedding, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE)))) *
        |     sqrt(list_sum(list_transform(c.cv, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE))))) AS cos
        |  FROM embeddings e, c)
        |SELECT vec_id, arg_max(centroid_id, cos) AS centroid_id,
        | round(max(cos), 6) AS cosine
        |FROM scored GROUP BY vec_id ORDER BY vec_id""".stripMargin),

    // one full Lloyd's k-means iteration: assign + quantized-exact mean
    // update, two shuffles, no assignment-back join
    Q("q_kmeans_iter", (s, dir) => {
      val emb = table(s, dir, "embeddings")
      Similarity.kmeansIterate(emb, "vec_id", "embedding",
        emb.where(col("vec_id") < 8), "vec_id", "embedding")
        .select(col("centroid_id"), col("pos"),
          round(col("mean"), 9).as("mean"))
        .orderBy("centroid_id", "pos")
    },
      """WITH c AS (SELECT vec_id AS cid, embedding AS cv
        |           FROM embeddings WHERE vec_id < 8),
        |scored AS (
        |  SELECT e.vec_id, e.embedding, c.cid,
        |    list_sum(list_transform(list_zip(e.embedding, c.cv),
        |      x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE))) /
        |    (sqrt(list_sum(list_transform(e.embedding, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE)))) *
        |     sqrt(list_sum(list_transform(c.cv, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE))))) AS cos
        |  FROM embeddings e, c),
        |a AS (SELECT vec_id, arg_max(cid, cos) AS centroid_id,
        |      any_value(embedding) AS embedding
        |      FROM scored GROUP BY vec_id)
        |SELECT centroid_id, i AS pos,
        | round(CAST(sum(CAST(floor(CAST(embedding[i] AS DOUBLE) * 1e9) AS BIGINT)) AS DOUBLE)
        |   / (count(*) * 1e9), 9) AS mean
        |FROM a, generate_series(1, 64) t(i)
        |GROUP BY centroid_id, i ORDER BY centroid_id, pos""".stripMargin),

    // brute-force cosine top-k similarity (broadcast queries, window top-k)
    Q("q_cosine_topk", (s, dir) => {
      val emb = table(s, dir, "embeddings")
      val queries = emb.where(col("vec_id") < 10)
      Similarity.bruteForceTopK(emb, "vec_id", "embedding",
        queries, "vec_id", "embedding", k = 5)
        .select(col("query_id"), col("rank"), col("neighbor_id"),
          round(col("cosine"), 6).as("cosine"))
        .orderBy("query_id", "rank")
    },
      """WITH q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < 10),
        |scored AS (
        |  SELECT q.query_id, e.vec_id AS neighbor_id,
        |    list_sum(list_transform(list_zip(e.embedding, q.qv),
        |      x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE))) /
        |    (sqrt(list_sum(list_transform(e.embedding, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE)))) *
        |     sqrt(list_sum(list_transform(q.qv, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE))))) AS sim
        |  FROM embeddings e, q WHERE e.vec_id <> q.query_id),
        |ranked AS (SELECT query_id, neighbor_id, sim,
        |  row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rank
        |  FROM scored)
        |SELECT query_id, rank, neighbor_id, round(sim, 6) AS cosine
        |FROM ranked WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin),

    // margin-based pair mining (CCMatrix ratio criterion): even vs odd
    // vec_ids as the two corpora; each even id keeps its best-margin
    // odd partner at margin >= 1.02 — hub-normalized, not raw cosine
    Q("q_margin_pairs", (s, dir) => {
      val emb = table(s, dir, "embeddings")
      val a = emb.where(col("vec_id") % 2 === 0)
      val b = emb.where(col("vec_id") % 2 === 1)
      Similarity.marginPairs(a, b, "vec_id", "embedding",
          k = 4, threshold = 1.02)
        .select(col("a_id"), col("b_id"), round(col("cosine"), 6).as("cosine"),
          round(col("margin"), 6).as("margin"))
        .orderBy("a_id")
    },
      // margin mining mirrored brute-force: all A×B cosines once, k-NN
      // both directions, nano-quantized k-averages, ratio margin, best
      // partner per a — arithmetic matches Similarity.marginPairs op for op
      """WITH a AS (SELECT vec_id AS a_id, embedding AS av FROM embeddings
        |    WHERE vec_id % 2 = 0),
        |b AS (SELECT vec_id AS b_id, embedding AS bv FROM embeddings
        |    WHERE vec_id % 2 = 1),
        |s AS (SELECT a_id, b_id,
        |    list_sum(list_transform(list_zip(av, bv),
        |      x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE))) /
        |    (sqrt(list_sum(list_transform(av, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE)))) *
        |     sqrt(list_sum(list_transform(bv, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE))))) AS sim
        |  FROM a, b),
        |fwd AS (SELECT a_id, b_id, sim, row_number() OVER
        |    (PARTITION BY a_id ORDER BY sim DESC, b_id) AS rn FROM s),
        |bwd AS (SELECT a_id, b_id, sim, row_number() OVER
        |    (PARTITION BY b_id ORDER BY sim DESC, a_id) AS rn FROM s),
        |avga AS (SELECT a_id, CAST(sum(CAST(floor(sim * 1e9) AS BIGINT))
        |    AS DOUBLE) / (count(*) * 1e9) AS avg_a
        |  FROM fwd WHERE rn <= 4 GROUP BY a_id),
        |avgb AS (SELECT b_id, CAST(sum(CAST(floor(sim * 1e9) AS BIGINT))
        |    AS DOUBLE) / (count(*) * 1e9) AS avg_b
        |  FROM bwd WHERE rn <= 4 GROUP BY b_id),
        |cand AS (SELECT f.a_id, f.b_id, f.sim,
        |    f.sim / ((avg_a + avg_b) / 2) AS margin
        |  FROM fwd f JOIN avga USING (a_id) JOIN avgb USING (b_id)
        |  WHERE f.rn <= 4),
        |best AS (SELECT a_id, b_id, sim, margin, row_number() OVER
        |    (PARTITION BY a_id ORDER BY margin DESC, b_id) AS rn FROM cand)
        |SELECT a_id, b_id, round(sim, 6) AS cosine,
        |  round(margin, 6) AS margin
        |FROM best WHERE rn = 1 AND margin >= 1.02
        |ORDER BY a_id""".stripMargin),

    // hybrid retrieval: dense cosine + sparse token-Jaccard candidate
    // lists (20 per side, map-side partial top-k each) fused by
    // reciprocal rank 1/(60+r) — rank-only fusion, no score calibration
    Q("q_hybrid_topk", (s, dir) => {
      val docs = table(s, dir, "documents").select("doc_id", "text")
      val emb = table(s, dir, "embeddings").select("vec_id", "embedding")
      val corpus = docs.join(emb, docs("doc_id") === emb("vec_id"))
        .select(col("doc_id"), col("text"), col("embedding"))
      val queries = corpus.where(col("doc_id") < 8)
      Similarity.hybridTopK(corpus, "doc_id", "embedding", "text",
        queries, "doc_id", "embedding", "text", k = 5, perSide = 20)
        .select(col("query_id"), col("rank"), col("neighbor_id"),
          round(col("rrf"), 9).as("rrf"))
        .orderBy("query_id", "rank")
    },
      """WITH corpus AS (
        |  SELECT d.doc_id, d.text, e.embedding
        |  FROM documents d JOIN embeddings e ON d.doc_id = e.vec_id),
        |tok AS (SELECT doc_id, list_distinct(list_filter(
        |    string_split_regex(trim(lower(text)), '\s+'), w -> len(w) > 0)) AS toks
        |  FROM corpus),
        |qs AS (SELECT doc_id AS qid, embedding AS qv FROM corpus WHERE doc_id < 8),
        |qtok AS (SELECT doc_id AS qid, toks AS qtoks FROM tok WHERE doc_id < 8),
        |dense AS (
        |  SELECT qid, nid, row_number() OVER (PARTITION BY qid ORDER BY sim DESC, nid) AS r
        |  FROM (
        |    SELECT q.qid, c.doc_id AS nid,
        |      list_sum(list_transform(list_zip(c.embedding, q.qv),
        |        x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE))) /
        |      (sqrt(list_sum(list_transform(c.embedding, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE)))) *
        |       sqrt(list_sum(list_transform(q.qv, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE))))) AS sim
        |    FROM corpus c, qs q WHERE c.doc_id <> q.qid)
        |  QUALIFY r <= 20),
        |sparse AS (
        |  SELECT qid, nid, row_number() OVER (PARTITION BY qid ORDER BY sim DESC, nid) AS r
        |  FROM (
        |    SELECT q.qid, t.doc_id AS nid,
        |      CASE WHEN len(t.toks) + len(q.qtoks) - len(list_intersect(t.toks, q.qtoks)) = 0
        |        THEN CAST(0.0 AS DOUBLE)
        |        ELSE CAST(len(list_intersect(t.toks, q.qtoks)) AS DOUBLE)
        |           / CAST(len(t.toks) + len(q.qtoks) - len(list_intersect(t.toks, q.qtoks)) AS DOUBLE)
        |      END AS sim
        |    FROM tok t, qtok q WHERE t.doc_id <> q.qid)
        |  QUALIFY r <= 20),
        |fused AS (
        |  SELECT COALESCE(d.qid, s.qid) AS query_id,
        |    COALESCE(d.nid, s.nid) AS neighbor_id,
        |    COALESCE(CAST(1.0 AS DOUBLE)/(60 + d.r), CAST(0.0 AS DOUBLE)) +
        |    COALESCE(CAST(1.0 AS DOUBLE)/(60 + s.r), CAST(0.0 AS DOUBLE)) AS rrf
        |  FROM dense d FULL JOIN sparse s ON d.qid = s.qid AND d.nid = s.nid),
        |ranked AS (SELECT query_id, neighbor_id, rrf,
        |  row_number() OVER (PARTITION BY query_id ORDER BY rrf DESC, neighbor_id) AS rank
        |  FROM fused)
        |SELECT query_id, rank, neighbor_id, round(rrf, 9) AS rrf
        |FROM ranked WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin),

    // dense + BM25 hybrid (the standard RRF pairing): both candidate
    // generators avoid corpus × query work where possible — BM25 via the
    // postings join, dense via map-side partial top-k
    Q("q_hybrid_bm25", (s, dir) => {
      val docs = table(s, dir, "documents").select("doc_id", "text")
      val emb = table(s, dir, "embeddings").select("vec_id", "embedding")
      val corpus = docs.join(emb, docs("doc_id") === emb("vec_id"))
        .select(col("doc_id"), col("text"), col("embedding"))
      val queries = corpus.where(col("doc_id") < 8)
      Similarity.hybridTopKBm25(corpus, "doc_id", "embedding", "text",
        queries, "doc_id", "embedding", "text", k = 5, perSide = 20)
        .select(col("query_id"), col("rank"), col("neighbor_id"),
          round(col("rrf"), 9).as("rrf"))
        .orderBy("query_id", "rank")
    }, {
      s"""WITH corpus AS (
         |  SELECT d.doc_id, d.text, e.embedding
         |  FROM documents d JOIN embeddings e ON d.doc_id = e.vec_id),
         |docs AS (SELECT doc_id, text FROM corpus),
         |qs AS (SELECT doc_id, text FROM corpus WHERE doc_id < 8),
         |${graft.operators.TextAnalysis.bm25CtesSql()},
         |sparse AS (SELECT query_id AS qid, doc_id AS nid, rank AS r
         |  FROM rk WHERE rank <= 20),
         |qe AS (SELECT doc_id AS qid, embedding AS qv FROM corpus WHERE doc_id < 8),
         |dense AS (
         |  SELECT qid, nid, row_number() OVER (PARTITION BY qid ORDER BY sim DESC, nid) AS r
         |  FROM (
         |    SELECT q.qid, c.doc_id AS nid,
         |      list_sum(list_transform(list_zip(c.embedding, q.qv),
         |        x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE))) /
         |      (sqrt(list_sum(list_transform(c.embedding, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE)))) *
         |       sqrt(list_sum(list_transform(q.qv, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE))))) AS sim
         |    FROM corpus c, qe q WHERE c.doc_id <> q.qid)
         |  QUALIFY r <= 20),
         |fused AS (
         |  SELECT COALESCE(d.qid, s.qid) AS query_id,
         |    COALESCE(d.nid, s.nid) AS neighbor_id,
         |    COALESCE(CAST(1.0 AS DOUBLE)/(60 + d.r), CAST(0.0 AS DOUBLE)) +
         |    COALESCE(CAST(1.0 AS DOUBLE)/(60 + s.r), CAST(0.0 AS DOUBLE)) AS rrf
         |  FROM dense d FULL JOIN sparse s ON d.qid = s.qid AND d.nid = s.nid),
         |ranked AS (SELECT query_id, neighbor_id, rrf,
         |  row_number() OVER (PARTITION BY query_id ORDER BY rrf DESC, neighbor_id) AS rank
         |  FROM fused)
         |SELECT query_id, rank, neighbor_id, round(rrf, 9) AS rrf
         |FROM ranked WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin
    }),

    // LSH-bucketed approximate nearest neighbors with hamming-1
    // multi-probe; the hyperplanes are seed-deterministic so the oracle
    // inlines them as literals and recomputes the exact same buckets and
    // probe masks
    Q("q_ann_topk", (s, dir) => {
      val emb = table(s, dir, "embeddings")
      val queries = emb.where(col("vec_id") < 20)
      Similarity.annTopK(emb, "vec_id", "embedding",
        queries, "vec_id", "embedding", k = 5, planes = 3, probeBits = 1)
        .select(col("query_id"), col("rank"), col("neighbor_id"),
          round(col("cosine"), 6).as("cosine"))
        .orderBy("query_id", "rank")
    }, {
      val bucket = graft.operators.Similarity.lshBucketOracleSqlExpr("embedding", 3, 64, 42L)
      s"""WITH c AS (SELECT vec_id, embedding, $bucket AS bucket FROM embeddings),
         |q0 AS (SELECT vec_id AS query_id, embedding AS qv, $bucket AS b
         |      FROM embeddings WHERE vec_id < 20),
         |q AS (SELECT query_id, qv, unnest([b, xor(b, 1), xor(b, 2), xor(b, 4)]) AS bucket
         |      FROM q0),
         |scored AS (
         |  SELECT q.query_id, c.vec_id AS neighbor_id,
         |    list_sum(list_transform(list_zip(c.embedding, q.qv),
         |      x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE))) /
         |    (sqrt(list_sum(list_transform(c.embedding, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE)))) *
         |     sqrt(list_sum(list_transform(q.qv, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE))))) AS sim
         |  FROM c JOIN q ON c.bucket = q.bucket AND c.vec_id <> q.query_id),
         |ranked AS (SELECT query_id, neighbor_id, sim,
         |  row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rank
         |  FROM scored)
         |SELECT query_id, rank, neighbor_id, round(sim, 6) AS cosine
         |FROM ranked WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin
    }),

    // IVF-Flat at nprobe = nlist: every inverted list is probed, so the
    // result is provably the exact top-k (the oracle is the exhaustive
    // computation); partial-probe recall is spec-tested
    Q("q_ivf_topk", (s, dir) => {
      val emb = table(s, dir, "embeddings")
      val queries = emb.where(col("vec_id") >= 10 && col("vec_id") < 25)
      Similarity.ivfTopK(emb, "vec_id", "embedding",
        queries, "vec_id", "embedding", k = 5, nlist = 16, nprobe = 16)
        .select(col("query_id"), col("rank"), col("neighbor_id"),
          round(col("cosine"), 6).as("cosine"))
        .orderBy("query_id", "rank")
    },
      """WITH q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings
        |           WHERE vec_id >= 10 AND vec_id < 25),
        |scored AS (
        |  SELECT q.query_id, e.vec_id AS neighbor_id,
        |    list_sum(list_transform(list_zip(e.embedding, q.qv),
        |      x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE))) /
        |    (sqrt(list_sum(list_transform(e.embedding, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE)))) *
        |     sqrt(list_sum(list_transform(q.qv, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE))))) AS sim
        |  FROM embeddings e, q WHERE e.vec_id <> q.query_id),
        |ranked AS (SELECT query_id, neighbor_id, sim,
        |  row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rank
        |  FROM scored)
        |SELECT query_id, rank, neighbor_id, round(sim, 6) AS cosine
        |FROM ranked WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin),

    // the hyperplane-LSH and PQ siblings of q_ivf_recall: batch
    // recall@10 of each approximate path vs the exact brute force,
    // pinned by the oracle as a TRUE claim — every ANN variant now
    // carries an executable speed/recall contract
    Q("q_ann_recall", (s, dir) => {
      val emb = table(s, dir, "embeddings")
      val queries = emb.where(col("vec_id") < 10)
      recallContract(
        Similarity.bruteForceTopK(emb, "vec_id", "embedding",
          queries, "vec_id", "embedding", k = 10),
        Similarity.annTopK(emb, "vec_id", "embedding",
          queries, "vec_id", "embedding", k = 10, planes = 3,
          probeBits = 1),
        num = 4L, den = 10L) // recall@10 >= 0.4
    },
      // the LSH / PQ siblings share the identical exact side
      AnnRecallOracle),


    // the PARTIAL-probe honesty check (the q_approx_quantile pattern
    // applied to ANN): IVF at nprobe < nlist vs the exact brute force —
    // the oracle recomputes the exact side and pins the recall claim
    // TRUE, making "probe a quarter of the lists, keep most of the
    // neighbors" an executable contract instead of a doc sentence
    Q("q_ivf_recall", (s, dir) => {
      val emb = table(s, dir, "embeddings")
      val queries = emb.where(col("vec_id") < 10)
      recallContract(
        Similarity.bruteForceTopK(emb, "vec_id", "embedding",
          queries, "vec_id", "embedding", k = 10),
        Similarity.ivfTopK(emb, "vec_id", "embedding",
          queries, "vec_id", "embedding", k = 10, nlist = 16,
          nprobe = 4),
        num = 4L, den = 10L) // recall@10 >= 0.4
    },
      // exact side recomputed; the partial-probe recall claim is Spark's
      // to prove (oracle asserts it TRUE)
      AnnRecallOracle),

    // the PERSISTED IVF path: build the bucketed-by-list index + trained
    // centroids once, then probe it. At nprobe = nlist every inverted
    // list is probed, so the result is provably the exact top-k whatever
    // the training produced (the oracle is the exhaustive computation);
    // bucket pruning + zero corpus-side shuffle are plan-asserted in
    // OperatorsSpec.
    Q("q_ivf_indexed", (s, dir) => {
      val emb = table(s, dir, "embeddings")
      Similarity.buildIvfIndex(emb, "vec_id", "embedding",
        "graft_ivf_idx", nlist = 16, buckets = 8)
      val queries = emb.where(col("vec_id") >= 30 && col("vec_id") < 40)
      Similarity.ivfTopKIndexed(s, "graft_ivf_idx",
        queries, "vec_id", "embedding", k = 5, nprobe = 16)
        .select(col("query_id"), col("rank"), col("neighbor_id"),
          round(col("cosine"), 6).as("cosine"))
        .orderBy("query_id", "rank")
    },
      """WITH q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings
        |           WHERE vec_id >= 30 AND vec_id < 40),
        |scored AS (
        |  SELECT q.query_id, e.vec_id AS neighbor_id,
        |    list_sum(list_transform(list_zip(e.embedding, q.qv),
        |      x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE))) /
        |    (sqrt(list_sum(list_transform(e.embedding, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE)))) *
        |     sqrt(list_sum(list_transform(q.qv, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE))))) AS sim
        |  FROM embeddings e, q WHERE e.vec_id <> q.query_id),
        |ranked AS (SELECT query_id, neighbor_id, sim,
        |  row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rank
        |  FROM scored)
        |SELECT query_id, rank, neighbor_id, round(sim, 6) AS cosine
        |FROM ranked WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin),

    // INCREMENTAL index growth: build the IVF index on vec_id < 400,
    // append the 400+ batch against the frozen centroids, then probe at
    // nprobe = nlist — exactness over old + new rows proves appended
    // files joined the right inverted lists (oracle = brute force over
    // the full corpus).
    Q("q_ivf_append", (s, dir) => {
      val emb = table(s, dir, "embeddings")
      Similarity.buildIvfIndex(emb.where(col("vec_id") < 400),
        "vec_id", "embedding", "graft_ivf_app", nlist = 16, buckets = 8)
      Similarity.appendToIvfIndex(emb.where(col("vec_id") >= 400),
        "vec_id", "embedding", "graft_ivf_app")
      val queries = emb.where(col("vec_id") >= 70 && col("vec_id") < 80)
      Similarity.ivfTopKIndexed(s, "graft_ivf_app",
        queries, "vec_id", "embedding", k = 5, nprobe = 16)
        .select(col("query_id"), col("rank"), col("neighbor_id"),
          round(col("cosine"), 6).as("cosine"))
        .orderBy("query_id", "rank")
    },
      """WITH q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings
        |           WHERE vec_id >= 70 AND vec_id < 80),
        |scored AS (
        |  SELECT q.query_id, e.vec_id AS neighbor_id,
        |    list_sum(list_transform(list_zip(e.embedding, q.qv),
        |      x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE))) /
        |    (sqrt(list_sum(list_transform(e.embedding, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE)))) *
        |     sqrt(list_sum(list_transform(q.qv, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE))))) AS sim
        |  FROM embeddings e, q WHERE e.vec_id <> q.query_id),
        |ranked AS (SELECT query_id, neighbor_id, sim,
        |  row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rank
        |  FROM scored)
        |SELECT query_id, rank, neighbor_id, round(sim, 6) AS cosine
        |FROM ranked WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin),

    // embedding TAKEDOWNS: build the IVF index over everything, delete
    // vec_id % 9 = 0, probe at nprobe = nlist — exactness against the
    // brute-force oracle over the SURVIVORS proves the rewrite removed
    // precisely the tombstoned rows and nothing else (and the bucketed
    // layout kept probing, or the scan would miss lists)
    Q("q_ivf_delete", (s, dir) => {
      val emb = table(s, dir, "embeddings")
      Similarity.buildIvfIndex(emb, "vec_id", "embedding",
        "graft_ivf_del", nlist = 16, buckets = 8)
      Similarity.deleteFromVectorIndex(s, "graft_ivf_del",
        emb.where(col("vec_id") % 9 === 0).select("vec_id"), "vec_id")
      val queries = emb.where(col("vec_id") >= 80 && col("vec_id") < 90)
      Similarity.ivfTopKIndexed(s, "graft_ivf_del",
        queries, "vec_id", "embedding", k = 5, nprobe = 16)
        .select(col("query_id"), col("rank"), col("neighbor_id"),
          round(col("cosine"), 6).as("cosine"))
        .orderBy("query_id", "rank")
    },
      // delete ≡ never-ingested: brute force over the surviving vectors
      """WITH q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings
        |           WHERE vec_id >= 80 AND vec_id < 90),
        |scored AS (
        |  SELECT q.query_id, e.vec_id AS neighbor_id,
        |    list_sum(list_transform(list_zip(e.embedding, q.qv),
        |      x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE))) /
        |    (sqrt(list_sum(list_transform(e.embedding, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE)))) *
        |     sqrt(list_sum(list_transform(q.qv, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE))))) AS sim
        |  FROM embeddings e, q
        |  WHERE e.vec_id <> q.query_id AND e.vec_id % 9 <> 0),
        |ranked AS (SELECT query_id, neighbor_id, sim,
        |  row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rank
        |  FROM scored)
        |SELECT query_id, rank, neighbor_id, round(sim, 6) AS cosine
        |FROM ranked WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin),

    // FILTERED vector search on the persisted IVF index: `label` rides
    // in the index as a payload column and the predicate pushes to the
    // index's parquet scan (PushedFilters, plan-asserted in
    // OperatorsSpec) — pre-filter, so k survivors are k MATCHING rows.
    // nprobe = nlist makes the result provably the exact filtered top-k;
    // oracle = brute force WHERE label = 3.
    Q("q_filtered_topk", (s, dir) => {
      val emb = table(s, dir, "embeddings")
      Similarity.buildIvfIndex(emb, "vec_id", "embedding",
        "graft_ivf_filt", nlist = 16, buckets = 8,
        payloadCols = Seq("label"))
      val queries = emb.where(col("vec_id") >= 50 && col("vec_id") < 60)
      Similarity.ivfTopKIndexed(s, "graft_ivf_filt",
        queries, "vec_id", "embedding", k = 5, nprobe = 16,
        filter = Some(col("label") === 3))
        .select(col("query_id"), col("rank"), col("neighbor_id"),
          round(col("cosine"), 6).as("cosine"))
        .orderBy("query_id", "rank")
    },
      """WITH q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings
        |           WHERE vec_id >= 50 AND vec_id < 60),
        |scored AS (
        |  SELECT q.query_id, e.vec_id AS neighbor_id,
        |    list_sum(list_transform(list_zip(e.embedding, q.qv),
        |      x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE))) /
        |    (sqrt(list_sum(list_transform(e.embedding, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE)))) *
        |     sqrt(list_sum(list_transform(q.qv, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE))))) AS sim
        |  FROM embeddings e, q WHERE e.vec_id <> q.query_id AND e.label = 3),
        |ranked AS (SELECT query_id, neighbor_id, sim,
        |  row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rank
        |  FROM scored)
        |SELECT query_id, rank, neighbor_id, round(sim, 6) AS cosine
        |FROM ranked WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin),

    // product-quantization codes: every vector compressed to m=4 codes
    // (nearest of 8 seeded sub-centroids per 16-dim subspace); codes
    // joined to a string so the compare stays scalar
    Q("q_pq_codes", (s, dir) => {
      Similarity.pqEncode(table(s, dir, "embeddings"), "vec_id", "embedding")
        .select(col("vec_id"),
          array_join(transform(col("codes"), c => c.cast("string")), "-")
            .as("code_str"))
        .orderBy("vec_id")
    }, {
      val codes = graft.operators.Similarity.pqCodesOracleSqlExpr("embedding")
      s"""SELECT vec_id, array_to_string($codes, '-') AS code_str
         |FROM embeddings ORDER BY vec_id""".stripMargin
    }),

    // ADC top-k over the PQ codes: corpus side is codes-only (m table
    // lookups per row), query side carries the distance table. ADC ties
    // are REAL here (4096 possible code combos over the corpus) so the
    // (adc asc, id asc) tiebreak is exercised, not incidental.
    Q("q_pq_topk", (s, dir) => {
      val emb = table(s, dir, "embeddings")
      val queries = emb.where(col("vec_id") < 15)
      Similarity.pqTopK(emb, "vec_id", "embedding",
        queries, "vec_id", "embedding", k = 5)
        .select(col("query_id"), col("rank"), col("neighbor_id"),
          round(col("adc"), 6).as("adc"))
        .orderBy("query_id", "rank")
    }, {
      val codes = graft.operators.Similarity.pqCodesOracleSqlExpr("embedding")
      val adc = graft.operators.Similarity.pqAdcOracleSqlExpr(
        "q.embedding", "e.codes")
      s"""WITH enc AS (SELECT vec_id, $codes AS codes FROM embeddings),
         |q AS (SELECT vec_id AS query_id, embedding FROM embeddings
         |      WHERE vec_id < 15),
         |scored AS (SELECT q.query_id, e.vec_id AS neighbor_id,
         |    $adc AS adc
         |  FROM enc e, q),
         |r AS (SELECT query_id, neighbor_id, adc,
         |    row_number() OVER (PARTITION BY query_id
         |                       ORDER BY adc, neighbor_id) AS rank
         |  FROM scored)
         |SELECT query_id, rank, neighbor_id, round(adc, 6) AS adc FROM r
         |WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin
    }),

    // the IVF-PQ composition: bucket-pruned probe over a persisted index
    // holding m-byte PQ codes instead of vectors. At nprobe = nlist every
    // list is probed, so the result is provably pqTopK over the whole
    // corpus — the same ADC oracle re-derives it exhaustively.
    Q("q_ivfpq_topk", (s, dir) => {
      val emb = table(s, dir, "embeddings")
      Similarity.buildIvfPqIndex(emb, "vec_id", "embedding",
        "graft_ivfpq_idx", nlist = 16, buckets = 8)
      val queries = emb.where(col("vec_id") >= 40 && col("vec_id") < 50)
      Similarity.ivfPqTopKIndexed(s, "graft_ivfpq_idx",
        queries, "vec_id", "embedding", k = 5, nprobe = 16)
        .select(col("query_id"), col("rank"), col("neighbor_id"),
          round(col("adc"), 6).as("adc"))
        .orderBy("query_id", "rank")
    }, {
      val codes = graft.operators.Similarity.pqCodesOracleSqlExpr("embedding")
      val adc = graft.operators.Similarity.pqAdcOracleSqlExpr(
        "q.embedding", "e.codes")
      s"""WITH enc AS (SELECT vec_id, $codes AS codes FROM embeddings),
         |q AS (SELECT vec_id AS query_id, embedding FROM embeddings
         |      WHERE vec_id >= 40 AND vec_id < 50),
         |scored AS (SELECT q.query_id, e.vec_id AS neighbor_id,
         |    $adc AS adc
         |  FROM enc e, q),
         |r AS (SELECT query_id, neighbor_id, adc,
         |    row_number() OVER (PARTITION BY query_id
         |                       ORDER BY adc, neighbor_id) AS rank
         |  FROM scored)
         |SELECT query_id, rank, neighbor_id, round(adc, 6) AS adc FROM r
         |WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin
    }),

    // INCREMENTAL growth for the codes-only index: build IVF-PQ on
    // vec_id < 400 (codebook + centroids persisted WITH the index),
    // append the 400+ batch — assigned against the frozen centroids,
    // encoded with the persisted codebook — then probe at nprobe =
    // nlist: exactness over old + new rows proves the appended codes
    // match what a from-scratch encode would have minted (the oracle
    // is the exhaustive ADC computation over the full corpus; the seed
    // codebook is corpus-independent, so partial-build + append must
    // hash-equal it bit for bit)
    Q("q_ivfpq_append", (s, dir) => {
      val emb = table(s, dir, "embeddings")
      Similarity.buildIvfPqIndex(emb.where(col("vec_id") < 400),
        "vec_id", "embedding", "graft_ivfpq_app", nlist = 16, buckets = 8)
      Similarity.appendToIvfPqIndex(emb.where(col("vec_id") >= 400),
        "vec_id", "embedding", "graft_ivfpq_app")
      val queries = emb.where(col("vec_id") >= 60 && col("vec_id") < 70)
      Similarity.ivfPqTopKIndexed(s, "graft_ivfpq_app",
        queries, "vec_id", "embedding", k = 5, nprobe = 16)
        .select(col("query_id"), col("rank"), col("neighbor_id"),
          round(col("adc"), 6).as("adc"))
        .orderBy("query_id", "rank")
    }, {
      // exhaustive ADC over the FULL corpus: the partial build + append
      // must reproduce it exactly (append encodes with the persisted,
      // corpus-independent seed codebook — any drift hash-fails)
      val codes = graft.operators.Similarity.pqCodesOracleSqlExpr("embedding")
      val adc = graft.operators.Similarity.pqAdcOracleSqlExpr(
        "q.embedding", "e.codes")
      s"""WITH enc AS (SELECT vec_id, $codes AS codes FROM embeddings),
         |q AS (SELECT vec_id AS query_id, embedding FROM embeddings
         |      WHERE vec_id >= 60 AND vec_id < 70),
         |scored AS (SELECT q.query_id, e.vec_id AS neighbor_id,
         |    $adc AS adc
         |  FROM enc e, q),
         |r AS (SELECT query_id, neighbor_id, adc,
         |    row_number() OVER (PARTITION BY query_id
         |                       ORDER BY adc, neighbor_id) AS rank
         |  FROM scored)
         |SELECT query_id, rank, neighbor_id, round(adc, 6) AS adc FROM r
         |WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin
    }),

    // the IVF-PQ recall contract on the CLUSTERED fixture (the last
    // un-contracted retrieval approximation): probe a quarter of the
    // lists over m-byte PQ codes and still keep >= 80% of the exact
    // cosine top-10 — executable because the fixture's 16 separated
    // clusters make both the coarse quantizer and the PQ codebook
    // non-degenerate. Oracle recomputes the exact side on the same
    // synthesized relation and pins recall_ok TRUE.
    Q("q_ivfpq_recall", (s, dir) => {
      val ce = clusteredEmb(s, dir)
      Similarity.buildIvfPqIndex(ce, "vec_id", "embedding",
        "graft_ivfpq_rec", nlist = 16, buckets = 8)
      val queries = ce.where(col("vec_id") < 10)
      recallContract(
        Similarity.bruteForceTopK(ce, "vec_id", "embedding",
          queries, "vec_id", "embedding", k = 10),
        Similarity.ivfPqTopKIndexed(s, "graft_ivfpq_rec",
          queries, "vec_id", "embedding", k = 40, nprobe = 4),
        num = 8L, den = 10L) // recall@10 >= 0.8 at nprobe 4/16
    },
      // same exhaustive-count shape over the clustered fixture; the
      // partial-probe PQ recall claim is Spark's to prove
      ClusteredRecallOracle),

    // IVF-PQ + exact re-rank (the FAISS refine stage): 6·k ADC
    // candidates fetch their RAW vectors back by id (candidate-bounded
    // broadcast join — the 100 TB corpus is scanned, never shuffled)
    // and the final top-10 is true cosine — which must CLEAR a recall
    // bar strictly above q_ivfpq_recall's unrefined 0.8 on the same
    // clustered fixture, same nprobe. The oracle recomputes the exact
    // side and pins the claim TRUE
    Q("q_ivfpq_rerank", (s, dir) => {
      val ce = clusteredEmb(s, dir)
      Similarity.buildIvfPqIndex(ce, "vec_id", "embedding",
        "graft_ivfpq_rr", nlist = 16, buckets = 8)
      val queries = ce.where(col("vec_id") < 10)
      recallContract(
        Similarity.bruteForceTopK(ce, "vec_id", "embedding",
          queries, "vec_id", "embedding", k = 10),
        Similarity.ivfPqTopKRefined(s, "graft_ivfpq_rr",
          queries, "vec_id", "embedding", ce, "vec_id", "embedding",
          k = 10, refine = 6, nprobe = 4),
        num = 9L, den = 10L) // recall@10 >= 0.9: re-rank must beat 0.8
    },
      // the refine stage answers to the SAME clustered-fixture exact-side
      // oracle as q_ivfpq_recall, at the higher bar its re-rank must clear
      ClusteredRecallOracle),

    // PQ with TRAINED codebooks — Lloyd over each subspace's sliced
    // vectors runs in-engine (one argmin-when-chain job per iteration,
    // codebook model-sized on the driver), then the SAME encode/ADC
    // expressions consume the trained literals; recall@10 of the
    // 40-candidate ADC sweep must clear 0.9 on the clustered fixture.
    // The oracle recomputes the exact side and pins the claim TRUE
    Q("q_pq_trained", (s, dir) => {
      val ce = clusteredEmb(s, dir)
      val cb = Similarity.trainPqCodebooks(ce, "vec_id", "embedding",
        m = 4, ksub = 8, dim = 64, lloydIters = 2)
      val queries = ce.where(col("vec_id") < 10)
      recallContract(
        Similarity.bruteForceTopK(ce, "vec_id", "embedding",
          queries, "vec_id", "embedding", k = 10),
        Similarity.pqTopK(ce, "vec_id", "embedding",
          queries, "vec_id", "embedding", k = 40, codebook = Some(cb)),
        num = 9L, den = 10L)
    },
      // trained-codebook ADC answers to the same exact side; the recall
      // bar is Spark's to prove (training runs in-engine, deterministic)
      ClusteredRecallOracle),

    // semantic decontamination: training embeddings vs the broadcast
    // benchmark set, flag pairs at cosine >= 0.95 — the paraphrase-
    // robust companion to q_decontaminate's exact-n-gram check (the
    // benchmark here is a verbatim id-shifted slice, so every planted
    // leak scores 1.0 and must be flagged)
    Q("q_semantic_decon", (s, dir) => {
      val emb = table(s, dir, "embeddings").select("vec_id", "embedding")
      val ev = emb.where(col("vec_id") % 53 === 0)
        .select((col("vec_id") + 1000000L).as("eval_id"),
          col("embedding").as("ev"))
      Similarity.semanticDecontaminate(emb, "vec_id", "embedding",
          ev, "eval_id", "ev", threshold = 0.95)
        .select(col("train_id"), col("eval_id"),
          round(col("cosine"), 6).as("cosine"))
        .orderBy("train_id", "eval_id")
    },
      // exhaustive train×benchmark cosine cross — the oracle proves the
      // broadcast-filter flags EXACTLY the >= threshold pairs
      """WITH q AS (SELECT vec_id + 1000000 AS eval_id, embedding AS qv
        |  FROM embeddings WHERE vec_id % 53 = 0),
        |scored AS (
        |  SELECT e.vec_id AS train_id, q.eval_id,
        |    list_sum(list_transform(list_zip(e.embedding, q.qv),
        |      x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE))) /
        |    (sqrt(list_sum(list_transform(e.embedding, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE)))) *
        |     sqrt(list_sum(list_transform(q.qv, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE))))) AS sim
        |  FROM embeddings e, q)
        |SELECT train_id, eval_id, round(sim, 6) AS cosine FROM scored
        |WHERE sim >= 0.95 ORDER BY train_id, eval_id""".stripMargin),

    // embedding analytics: per-label centroids, decimal-exact means
    Q("q_centroids", (s, dir) => {
      val emb = table(s, dir, "embeddings")
      Similarity.centroids(emb, Seq("label"), "embedding")
        .orderBy("label", "pos")
    },
      """SELECT label, i AS pos,
        | CAST(sum(CAST(floor(CAST(embedding[i] AS DOUBLE) * 1e9) AS BIGINT)) AS DOUBLE)
        |   / (count(*) * 1e9) AS mean
        |FROM embeddings, generate_series(1, 64) t(i)
        |GROUP BY label, i ORDER BY label, pos""".stripMargin),

    // embedding preprocessing: per-dimension corpus mean/variance — the
    // probe before centering/whitening/quantizer training; 1e-9-quantized
    // exact long sums make it bit-reproducible across engines
    Q("q_emb_stats", (s, dir) => {
      Similarity.dimStats(table(s, dir, "embeddings"), "embedding")
        .orderBy("pos")
    },
      """WITH e AS (SELECT generate_subscripts(embedding, 1) AS pos,
        |             CAST(unnest(embedding) AS DOUBLE) AS x FROM embeddings),
        |s AS (SELECT pos, count(*) AS n,
        |        sum(CAST(floor(x * 1e9) AS BIGINT)) AS s1,
        |        sum(CAST(floor(x * x * 1e9) AS BIGINT)) AS s2
        |      FROM e GROUP BY pos)
        |SELECT pos, n,
        |  CAST(s1 AS DOUBLE) / (n * 1e9) AS mean,
        |  CAST(s2 AS DOUBLE) / (n * 1e9)
        |    - (CAST(s1 AS DOUBLE) / (n * 1e9)) * (CAST(s1 AS DOUBLE) / (n * 1e9))
        |    AS variance
        |FROM s ORDER BY pos""".stripMargin),

    // embedding preprocessing: center on corpus means (broadcast means
    // array, narrow zip_with) — exploded and 1e-6-floored for hashing
    Q("q_emb_center", (s, dir) => {
      val c = Similarity.centerVectors(table(s, dir, "embeddings"),
        "embedding", "c")
      c.select(col("vec_id"), posexplode(col("c")).as(Seq("pos0", "cx")))
        .select(col("vec_id"), (col("pos0") + 1).as("pos"),
          floor(col("cx") * 1e6).cast("long").as("c6"))
        .orderBy("vec_id", "pos")
    },
      """WITH e AS (SELECT vec_id, generate_subscripts(embedding, 1) AS pos,
        |             CAST(unnest(embedding) AS DOUBLE) AS x FROM embeddings),
        |m AS (SELECT pos, CAST(sum(CAST(floor(x * 1e9) AS BIGINT)) AS DOUBLE)
        |        / (count(*) * 1e9) AS mean FROM e GROUP BY pos)
        |SELECT e.vec_id, e.pos,
        |  CAST(floor((e.x - m.mean) * 1e6) AS BIGINT) AS c6
        |FROM e JOIN m USING (pos) ORDER BY vec_id, pos""".stripMargin),

    // embedding preprocessing: L2 norm of the centered vector + first
    // unit-sphere element; DECIMAL-exact square accumulation so the norm
    // is aggregation-order- and engine-independent
    Q("q_emb_unit", (s, dir) => {
      val c = Similarity.centerVectors(table(s, dir, "embeddings"),
        "embedding", "c")
      val ex = c.select(col("vec_id"), posexplode(col("c")).as(Seq("pos0", "cx")))
      val agg = ex.groupBy("vec_id").agg(
        sqrt(sum((col("cx") * col("cx")).cast(DecimalType(38, 18)))
          .cast("double")).as("nrm"),
        max(when(col("pos0") === 0, col("cx"))).as("cx1"))
      agg.select(col("vec_id"),
          floor(col("nrm") * 1e6).cast("long").as("norm6"),
          floor(when(col("nrm") === 0, lit(0.0))
            .otherwise(col("cx1") / col("nrm")) * 1e6).cast("long").as("u6"))
        .orderBy("vec_id")
    },
      """WITH e AS (SELECT vec_id, generate_subscripts(embedding, 1) AS pos,
        |             CAST(unnest(embedding) AS DOUBLE) AS x FROM embeddings),
        |m AS (SELECT pos, CAST(sum(CAST(floor(x * 1e9) AS BIGINT)) AS DOUBLE)
        |        / (count(*) * 1e9) AS mean FROM e GROUP BY pos),
        |c AS (SELECT e.vec_id, e.pos, e.x - m.mean AS cx
        |      FROM e JOIN m USING (pos)),
        |a AS (SELECT vec_id,
        |        sqrt(CAST(sum(CAST(cx * cx AS DECIMAL(38,18))) AS DOUBLE)) AS nrm,
        |        max(CASE WHEN pos = 1 THEN cx END) AS cx1
        |      FROM c GROUP BY vec_id)
        |SELECT vec_id, CAST(floor(nrm * 1e6) AS BIGINT) AS norm6,
        |  CAST(floor((CASE WHEN nrm = 0 THEN 0 ELSE cx1 / nrm END) * 1e6)
        |    AS BIGINT) AS u6
        |FROM a ORDER BY vec_id""".stripMargin),

    // embedding analytics: dominant eigenvector of the corpus second
    // moment by distributed power iteration — two matvec joins per pass
    // over the exploded relation, DECIMAL-exact sums, 1e-9-quantized
    // iterates (bit-reproducible trajectory, no driver collect)
    Q("q_power_iter", (s, dir) => {
      Similarity.powerIteration(table(s, dir, "embeddings"),
          "vec_id", "embedding", dim = 64, iters = 3)
        .select(col("pos"), floor(col("v") * 1e6).cast("long").as("v6"))
        .orderBy("pos")
    },
      Similarity.powerIterationOracleSql(dim = 64, iters = 3)),

    // contrastive training: hard negatives — per anchor, the k most
    // cosine-similar vectors with a DIFFERENT label (label-mismatch
    // predicate applied map-side before scoring; bounded-heap partial
    // top-k truncates to k pre-shuffle)
    Q("q_hard_neg", (s, dir) => {
      val emb = table(s, dir, "embeddings")
      val anchors = emb.where(col("vec_id") < 10)
      graft.operators.Similarity.hardNegatives(
          emb, "vec_id", "embedding", "label",
          anchors, "vec_id", "embedding", "label", k = 5)
        .select(col("anchor_id"), col("rank"), col("neg_id"),
          round(col("cosine"), 6).as("cosine"))
        .orderBy("anchor_id", "rank")
    },
      """WITH q AS (SELECT vec_id AS anchor_id, embedding AS qv, label AS ql
        |  FROM embeddings WHERE vec_id < 10),
        |scored AS (
        |  SELECT q.anchor_id, e.vec_id AS neg_id,
        |    list_sum(list_transform(list_zip(e.embedding, q.qv),
        |      x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE))) /
        |    (sqrt(list_sum(list_transform(e.embedding, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE)))) *
        |     sqrt(list_sum(list_transform(q.qv, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE))))) AS sim
        |  FROM embeddings e, q WHERE e.label <> q.ql),
        |ranked AS (SELECT anchor_id, neg_id, sim,
        |  row_number() OVER (PARTITION BY anchor_id ORDER BY sim DESC, neg_id) AS rank
        |  FROM scored)
        |SELECT anchor_id, rank, neg_id, round(sim, 6) AS cosine
        |FROM ranked WHERE rank <= 5 ORDER BY anchor_id, rank""".stripMargin),

    // embedding-space drift between snapshots: per-dim mean shift /
    // variance movement — the vector-space companion to q_vocab_drift
    // and q_profile_drift (both dimStats aggregates, dim-sized join)
    Q("q_emb_drift", (s, dir) => {
      val emb = table(s, dir, "embeddings")
      Similarity.embeddingDrift(
          emb.where(col("vec_id") % 2 === 0),
          emb.where(col("vec_id") % 2 === 1), "embedding")
        .select(col("pos"), col("old_n"), col("new_n"),
          round(col("old_mean"), 9).as("old_mean"),
          round(col("new_mean"), 9).as("new_mean"),
          round(col("mean_shift"), 9).as("mean_shift"),
          round(col("old_var"), 9).as("old_var"),
          round(col("new_var"), 9).as("new_var"))
        .orderBy("pos")
    }, {
      def statsCte(tag: String, parity: Int): String =
        s"""e$tag AS (SELECT generate_subscripts(embedding, 1) AS pos,
           |    CAST(unnest(embedding) AS DOUBLE) AS x FROM embeddings
           |  WHERE vec_id % 2 = $parity),
           |s$tag AS (SELECT pos, count(*) AS n,
           |    sum(CAST(floor(x * 1e9) AS BIGINT)) AS s1,
           |    sum(CAST(floor(x * x * 1e9) AS BIGINT)) AS s2
           |  FROM e$tag GROUP BY pos),
           |d$tag AS (SELECT pos, n,
           |    CAST(s1 AS DOUBLE) / (n * 1e9) AS mean,
           |    CAST(s2 AS DOUBLE) / (n * 1e9)
           |      - (CAST(s1 AS DOUBLE) / (n * 1e9))
           |        * (CAST(s1 AS DOUBLE) / (n * 1e9)) AS variance
           |  FROM s$tag)""".stripMargin
      s"""WITH ${statsCte("old", 0)},
         |${statsCte("new", 1)}
         |SELECT dold.pos, dold.n AS old_n, dnew.n AS new_n,
         |  round(dold.mean, 9) AS old_mean, round(dnew.mean, 9) AS new_mean,
         |  round(dnew.mean - dold.mean, 9) AS mean_shift,
         |  round(dold.variance, 9) AS old_var,
         |  round(dnew.variance, 9) AS new_var
         |FROM dold JOIN dnew USING (pos) ORDER BY pos""".stripMargin
    }),

    // clustering-quality readout: per-cluster simplified silhouette of
    // all embeddings against the first-8 centroids — exact integer
    // squared distances on nano-quantized coordinates, nano-quantized
    // per-point silhouette fold
    Q("q_silhouette", (s, dir) => {
      val emb = table(s, dir, "embeddings")
      Similarity.simplifiedSilhouette(emb, "vec_id", "embedding",
        emb.where(col("vec_id") < 8), "vec_id", "embedding")
        .select(col("centroid_id"), col("n_points"),
          round(col("silhouette"), 9).as("silhouette"))
        .orderBy("centroid_id")
    },
      s"""SELECT centroid_id, n_points, round(silhouette, 9) AS silhouette
         |FROM (
         |${graft.operators.Similarity.silhouetteOracleSql("vec_id < 8")}
         |)""".stripMargin)
  )
}
