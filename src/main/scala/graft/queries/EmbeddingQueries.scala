package graft
package queries

import org.apache.spark.sql.functions._
import graft.operators.TextAnalysis

import Glue._

/** Query records of the embedding and trainers: `Embedding` (SGNS/node2vec)
  * and `LinearModel`. */
object EmbeddingQueries {

  val all: Seq[Q] = Seq(
    // graph embeddings END TO END — DeepWalk: the deterministic walk
    // corpus becomes skip-gram pairs (window 1, both directions), and
    // an in-engine SGNS trainer (word2vec objective, md5-uniform
    // negatives, DECIMAL-exact gradients, 1e-9-grid updates) learns
    // node vectors the oracle replays iteration by iteration
    Q("q_node2vec", (s, dir) => {
      import graft.operators.{Embedding, GraphOps, UrlOps}
      val ev = table(s, dir, "events")
      val u = UrlOps.syntheticUrl(col("event_id"), col("user_id"), col("event_type"))
      val edges = ev.select(UrlOps.hostOf(u).as("src"),
        UrlOps.syntheticLinkHost(col("event_id"), col("user_id")).as("dst"))
      // walks keep the default per-step snapshots: the trainer consumes
      // the pair lineage several times (positives, negatives, vocab),
      // so each re-read must be a parquet scan, not a frontier-join
      // replay
      val walks = GraphOps.deterministicWalks(edges, "src", "dst",
        steps = 3, walksPerNode = 1)
      val pairs = Embedding.skipGramPairs(walks, "walk_id", "step", "node",
        window = 1)
      Embedding.sgnsFit(pairs, "a", "b", dim = 4, iters = 2, lr = 0.5,
          negs = 1, materializeEvery = 2)
        .select(col("node"), col("pos"), round(col("v"), 9).as("v"))
        .orderBy("node", "pos")
    }, {
      // the full DeepWalk chain replayed: walks CTEs -> pair CTEs -> the
      // SGNS trajectory unrolled (md5 init, md5 negatives, DECIMAL sums,
      // q9 updates) — three generators COMPOSED, like q_textrank
      import graft.operators.{Embedding, GraphOps, UrlOps}
      s"""WITH u AS (SELECT ${UrlOps.hostSqlExpr(UrlOps.syntheticUrlSqlExpr)} AS src,
         |        ${UrlOps.syntheticLinkHostSqlExpr} AS dst FROM events),
         |e AS (SELECT DISTINCT src, dst FROM u WHERE src <> dst),
         |${GraphOps.deterministicWalksOracleCtes(steps = 3, walksPerNode = 1)},
         |seqs AS (SELECT walk_id AS sid, step AS p, node AS tok FROM walks),
         |${Embedding.skipGramPairsOracleCtes(window = 1)},
         |${Embedding.sgnsOracleCtes(dim = 4, iters = 2, lr = 0.5, negs = 1)}
         |SELECT node, pos, round(v, 9) AS v FROM vin2
         |ORDER BY node, pos""".stripMargin
    }),

    // DeepWalk, production posture: word2vec's unigram^0.75 negative
    // TABLE (exact integer inverted-CDF over context counts — Spark
    // executes it as a cell-decomposed equi-join, the oracle as a
    // readable range join over the same integers) + WARM START — one
    // iteration trains, a second run CONTINUES from the returned
    // matrices. The oracle replays the composed trajectory as a cold
    // 2-iteration run, so fit(1) → fit(1, init) ≡ fit(2) is
    // hash-verified cross-engine, not just spec-pinned
    Q("q_node2vec2", (s, dir) => {
      import graft.operators.{Embedding, GraphOps, UrlOps}
      val ev = table(s, dir, "events")
      val u = UrlOps.syntheticUrl(col("event_id"), col("user_id"), col("event_type"))
      val edges = ev.select(UrlOps.hostOf(u).as("src"),
        UrlOps.syntheticLinkHost(col("event_id"), col("user_id")).as("dst"))
      val walks = GraphOps.deterministicWalks(edges, "src", "dst",
        steps = 3, walksPerNode = 1)
      val pairs = Embedding.skipGramPairs(walks, "walk_id", "step", "node",
        window = 1)
      // the training relation, vocab and unigram75 negative table are
      // pure functions of `pairs` — identical for both fits — so the
      // warm-start chain prepares ONCE and trains twice (guide §5);
      // EmbeddingSpec pins shared-prepare ≡ two full fits, and the
      // oracle hash still replays the composed trajectory cold
      val prep = Embedding.sgnsPrepare(pairs, "a", "b", negs = 1,
        negDist = "unigram75")
      val (m1i, m1o) = Embedding.sgnsFitPrepared(prep, dim = 4,
        iters = 1, lr = 0.5)
      Embedding.sgnsFitPrepared(prep, dim = 4, iters = 1, lr = 0.5,
          initIn = Some(m1i), initOut = Some(m1o))._1
        .select(col("node"), col("pos"), round(col("v"), 9).as("v"))
        .orderBy("node", "pos")
    }, {
      // the warm-started two-phase Spark run must equal this COLD
      // 2-iteration replay with the weighted negative table — iteration
      // composition and the unigram^0.75 draw verified in one hash
      import graft.operators.{Embedding, GraphOps, UrlOps}
      s"""WITH u AS (SELECT ${UrlOps.hostSqlExpr(UrlOps.syntheticUrlSqlExpr)} AS src,
         |        ${UrlOps.syntheticLinkHostSqlExpr} AS dst FROM events),
         |e AS (SELECT DISTINCT src, dst FROM u WHERE src <> dst),
         |${GraphOps.deterministicWalksOracleCtes(steps = 3, walksPerNode = 1)},
         |seqs AS (SELECT walk_id AS sid, step AS p, node AS tok FROM walks),
         |${Embedding.skipGramPairsOracleCtes(window = 1)},
         |${Embedding.sgnsOracleCtes(dim = 4, iters = 2, lr = 0.5, negs = 1,
             negDist = "unigram75")}
         |SELECT node, pos, round(v, 9) AS v FROM vin2
         |ORDER BY node, pos""".stripMargin
    }),

    // DeepWalk with word2vec's FREQUENT-WORD SUBSAMPLING: hub nodes
    // dominate a walk-pair relation exactly the way hot words dominate
    // text, so pairs thin by Mikolov's per-occurrence discard —
    // P(keep pair) = √(t/f(a))·√(t/f(b)) as an exact integer-threshold
    // md5 draw — BEFORE training. The oracle replays the same discard
    // set (same quantized thresholds, same draws), then the same SGNS
    // trajectory over the thinned pairs: the composition is
    // hash-verified cross-engine
    Q("q_node2vec3", (s, dir) => {
      import graft.operators.{Embedding, GraphOps, UrlOps}
      val ev = table(s, dir, "events")
      val u = UrlOps.syntheticUrl(col("event_id"), col("user_id"), col("event_type"))
      val edges = ev.select(UrlOps.hostOf(u).as("src"),
        UrlOps.syntheticLinkHost(col("event_id"), col("user_id")).as("dst"))
      val walks = GraphOps.deterministicWalks(edges, "src", "dst",
        steps = 3, walksPerNode = 1)
      val pairs = Embedding.skipGramPairs(walks, "walk_id", "step", "node",
        window = 1)
      val thinned = Embedding.subsamplePairs(pairs, "a", "b", t = 0.05)
      Embedding.sgnsFit(thinned, "a", "b", dim = 4, iters = 2, lr = 0.5,
          negs = 1, materializeEvery = 2)
        .select(col("node"), col("pos"), round(col("v"), 9).as("v"))
        .orderBy("node", "pos")
    }, {
      // same discard set, same thinned-pair trajectory: the subsample
      // CTEs feed sgns through its pairsRel hook
      import graft.operators.{Embedding, GraphOps, UrlOps}
      s"""WITH u AS (SELECT ${UrlOps.hostSqlExpr(UrlOps.syntheticUrlSqlExpr)} AS src,
         |        ${UrlOps.syntheticLinkHostSqlExpr} AS dst FROM events),
         |e AS (SELECT DISTINCT src, dst FROM u WHERE src <> dst),
         |${GraphOps.deterministicWalksOracleCtes(steps = 3, walksPerNode = 1)},
         |seqs AS (SELECT walk_id AS sid, step AS p, node AS tok FROM walks),
         |${Embedding.skipGramPairsOracleCtes(window = 1)},
         |${Embedding.subsamplePairsOracleCtes(t = 0.05)},
         |${Embedding.sgnsOracleCtes(dim = 4, iters = 2, lr = 0.5, negs = 1,
             pairsRel = "spairs")}
         |SELECT node, pos, round(v, 9) AS v FROM vin2
         |ORDER BY node, pos""".stripMargin
    }),

    // in-engine gradient-descent training: 5 full-batch logistic steps
    // on the embeddings predicting the sign of the first coordinate (a
    // linearly separable target, so the fit demonstrably learns) —
    // DECIMAL-exact gradient sums, 1e-9-grid weights, bit-replayable
    // trajectory; output = the weight relation (pos 0 = bias)
    Q("q_logreg", (s, dir) => {
      val pts = table(s, dir, "embeddings")
        .select(col("embedding"),
          (element_at(col("embedding"), 1).cast("double") > 0.0)
            .cast("int").as("y"))
      graft.operators.LinearModel.logisticFit(pts, "embedding", "y",
        dim = 64, iters = 5, lr = 0.5)
        .orderBy("pos")
    },
      s"""SELECT pos, weight FROM (
         |${graft.operators.LinearModel.logisticFitOracleSql("embeddings",
             "CASE WHEN CAST(embedding[1] AS DOUBLE) > 0.0 THEN 1.0 ELSE 0.0 END",
             dim = 64, iters = 5, lr = 0.5)}
         |) ORDER BY pos""".stripMargin),

    // ...and the fitted model's training-set confusion matrix — the
    // accuracy readout a filter-training pipeline gates deployment on
    Q("q_logreg_acc", (s, dir) => {
      val pts = table(s, dir, "embeddings")
        .select(col("embedding"),
          (element_at(col("embedding"), 1).cast("double") > 0.0)
            .cast("int").as("y"))
      val w = graft.operators.LinearModel.logisticFit(pts, "embedding",
        "y", dim = 64, iters = 5, lr = 0.5)
      graft.operators.LinearModel.logisticConfusion(pts, "embedding",
        "y", w)
        .orderBy("label", "pred")
    },
      s"""SELECT label, pred, n FROM (
         |${graft.operators.LinearModel.logisticConfusionOracleSql(
             "embeddings",
             "CASE WHEN CAST(embedding[1] AS DOUBLE) > 0.0 THEN 1.0 ELSE 0.0 END",
             dim = 64, iters = 5, lr = 0.5)}
         |) ORDER BY label, pred""".stripMargin),

    // the full text-classifier pipeline in-engine: distill a keyword
    // rule (docs containing 'spark') into a hashed-TF linear model —
    // md5 buckets (no vocabulary), 16 GD logistic steps, training-set
    // confusion; the synthetic corpus's near-uniform vocabulary makes
    // this genuinely hard, so the mid-trajectory confusion (not a
    // saturated diagonal) is the honest readout
    Q("q_text_lr", (s, dir) => {
      val docs = table(s, dir, "documents")
      // the featurization feeds BOTH the 16-iteration fit (eager) and
      // the confusion readout — cache it for the query's lifetime and
      // materialize the ≤4-row confusion EAGERLY so the cache releases
      // deterministically before return (a lazily-returned plan over
      // the cache would either leak the blocks or recompute the
      // featurization on the driver's terminal action)
      val pairs = TextAnalysis.hashedTfPairs(docs, "doc_id", "text",
          dim = 256)
        .join(docs.select(col("doc_id"),
          array_contains(TextAnalysis.tokens(col("text")), "spark")
            .cast("int").as("y")), "doc_id")
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      try {
        val w = graft.operators.LinearModel.logisticFitSparse(pairs,
          "doc_id", "pos", "x", "y", dim = 256, iters = 16, lr = 1.0)
        val out = graft.operators.LinearModel.logisticConfusionSparse(
          pairs, "doc_id", "pos", "x", "y", w).orderBy("label", "pred")
        s.createDataFrame(
          java.util.Arrays.asList(out.collect(): _*), out.schema)
      } finally pairs.unpersist(blocking = false)
    },
      s"""SELECT label, pred, n FROM (
         |WITH fdoc AS (SELECT doc_id, text,
         |    CASE WHEN list_contains(list_filter(string_split_regex(trim(text),
         |        '\\s+'), w -> len(w) > 0), 'spark')
         |      THEN 1.0 ELSE 0.0 END AS y
         |  FROM documents),
         |${graft.operators.LinearModel.logisticConfusionFromSql(
             graft.operators.TextAnalysis.hashedTfOracleSql(dim = 256),
             "n AS (SELECT CAST(count(*) AS BIGINT) AS n FROM flen)",
             dim = 256, iters = 16, lr = 1.0).replaceFirst("^WITH ", "")}
         |) ORDER BY label, pred""".stripMargin)
  )
}
