package graft
package queries

import org.apache.spark.sql.{DataFrame => SDF, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.{Dedup, Multimodal, Similarity, TextAnalysis, WindowOps}
import graft.streaming.GraftStreaming
import org.apache.spark.sql.types.DecimalType

import Glue._

/** Query records of the stream: every `q_stream_*` micro-batch query. */
object StreamQueries {

  /** Shared micro-batch harness glue for the q_stream_* queries: start
    * `streamed` into a uniquely-named memory sink, run to completion
    * (AvailableNow trigger inside [[GraftStreaming.runToMemory]]), and
    * return the sink table — one definition for the nanoTime-sink +
    * awaitTermination + `s.table` triple every stream block previously
    * inlined. */
  private def runStreamQuery(s: SparkSession, prefix: String, streamed: SDF,
                             outputMode: String = "append"): SDF = {
    val out = s"${prefix}_${System.nanoTime()}"
    val q = GraftStreaming.runToMemory(streamed, out, outputMode)
    assert(q.awaitTermination(300000), "stream did not finish within 300s")
    s.table(out)
  }

  /** The serving-loop twin of [[runStreamQuery]]: drain `qs` through
    * `probe` one micro-batch at a time ([[GraftStreaming.probeEachBatch]])
    * into a managed temp dir named by `prefix`, and read the drained
    * batches back as one frame. */
  private def runProbeQuery(s: SparkSession, prefix: String, qs: SDF)
                           (probe: SDF => SDF): SDF = {
    val out = org.apache.spark.sql.GraftSqlBridge
      .managedTempDir(prefix).getAbsolutePath
    val q = GraftStreaming.probeEachBatch(qs, out)(probe)
    assert(q.awaitTermination(300000), "stream did not finish within 300s")
    s.read.parquet(out)
  }

  val all: Seq[Q] = Seq(
    // the Bloom novelty gate on a STREAM: the corpus sketch is an
    // eager batch scalar riding the streaming plan as a literal, so the
    // stream filter is stateless map-side work — ingest-time dedup
    // against a static corpus with zero streaming state
    Q("q_stream_novel", (s, dir) => {
      val docs = table(s, dir, "documents").select("doc_id", "text")
      val corpus = docs.where(pmod(col("doc_id"), lit(10)) < 8)
      val stream = GraftStreaming.readDocumentsGlob(s, dir, "documents.parquet")
        .where(pmod(col("doc_id"), lit(10)) >= 7)
        .select("doc_id", "text")
      val novel = Dedup.novelAgainstBloom(stream, corpus, "text")
      runStreamQuery(s, "stream_novel", novel).select("doc_id").orderBy("doc_id")
    },
      """WITH fp AS (SELECT doc_id,
        |  md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS f
        |  FROM documents),
        |b AS (SELECT doc_id, f FROM fp WHERE doc_id % 10 >= 7),
        |c AS (SELECT DISTINCT f FROM fp WHERE doc_id % 10 < 8)
        |SELECT doc_id FROM b ANTI JOIN c USING (f) ORDER BY doc_id""".stripMargin),

    // the SERVING loop of the persisted sparse index: a STREAM of query
    // docs scores per micro-batch against the stored BM25 postings
    // (foreachBatch probe — zero streaming state, the index IS the
    // state; each batch pays only its own broadcast-probe joins).
    // Query ids are disjoint across micro-batches, so the drained
    // stream ≡ one batch probe of the union — the q_bm25_indexed
    // single-shot oracle gates it bit for bit.
    Q("q_stream_bm25", (s, dir) => {
      val docs = table(s, dir, "documents").select("doc_id", "text")
      TextAnalysis.buildBm25Index(docs, "doc_id", "text",
        "graft_bm25_srv", buckets = graft.operators.Bucketing.bucketsFor(docs))
      val qs = GraftStreaming.readDocumentsGlob(s, dir, "documents.parquet")
        .where(col("doc_id") < 5).select("doc_id", "text")
      runProbeQuery(s, "graft-bm25-srv", qs)(b =>
        TextAnalysis.bm25AgainstIndex(s, "graft_bm25_srv",
          b, "doc_id", "text", topK = 10))
        .select(col("query_id"), col("rank"), col("doc_id"),
          TextAnalysis.bm25Micro(col("bm25")).as("bm25"))
        .orderBy("query_id", "rank")
    }, {
      // streamed probe drain ≡ single batch probe ≡ single-shot bm25:
      // the q_bm25_indexed oracle verbatim
      s"""WITH docs AS (SELECT doc_id, text FROM documents),
         |qs AS (SELECT doc_id, text FROM documents WHERE doc_id < 5),
         |${graft.operators.TextAnalysis.bm25OracleSql()}
         |ORDER BY query_id, rank""".stripMargin
    }),

    // the SERVING loop of the persisted dense index: streamed probe
    // vectors score per micro-batch against the stored IVF inverted
    // lists at nprobe = nlist (provably exact whatever the training),
    // via the same zero-state foreachBatch probe — the q_ivf_indexed
    // exhaustive oracle gates the drain.
    Q("q_stream_ivf", (s, dir) => {
      val emb = table(s, dir, "embeddings")
      Similarity.buildIvfIndex(emb, "vec_id", "embedding",
        "graft_ivf_srv", nlist = 16, buckets = 8)
      val qs = GraftStreaming.readEmbeddingsGlob(s, dir, "embeddings.parquet")
        .where(col("vec_id") >= 30 && col("vec_id") < 40)
      runProbeQuery(s, "graft-ivf-srv", qs)(b =>
        Similarity.ivfTopKIndexed(s, "graft_ivf_srv",
          b, "vec_id", "embedding", k = 5, nprobe = 16))
        .select(col("query_id"), col("rank"), col("neighbor_id"),
          round(col("cosine"), 6).as("cosine"))
        .orderBy("query_id", "rank")
    },
      // streamed probe drain ≡ single batch probe at nprobe = nlist:
      // the q_ivf_indexed exhaustive oracle verbatim
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

    // the SERVING loop of the persisted image index: a STREAM of image
    // payloads (JPEG re-encodes of the corpus texts) checks each
    // micro-batch against the stored PNG-built signatures — ingest-time
    // perceptual dedup with zero streaming state (the index IS the
    // state); batch ids are disjoint across micro-batches so the
    // drained stream ≡ one batch probe, gated by the text-equality
    // oracle (q_image_index's pattern through the stream)
    Q("q_stream_image", (s, dir) => {
      val docs = table(s, dir, "documents").select("doc_id", "text")
        .where(col("doc_id") < 60)
      val corpus = Multimodal.withEncodedImagePayload(docs, "text", "png",
        minPartitions = Some(s.sparkContext.defaultParallelism))
      Multimodal.buildImageDupIndex(corpus, "doc_id", "content",
        "graft_img_srv", dim = 8, buckets = 8)
      val qs = GraftStreaming.readDocumentsGlob(s, dir, "documents.parquet")
        .where(col("doc_id") < 60).select("doc_id", "text")
      runProbeQuery(s, "graft-img-srv", qs)(b =>
        Multimodal.imageDupAgainstIndex(s, "graft_img_srv",
          Multimodal.withEncodedImagePayload(
            b.select((col("doc_id") + 500000L).as("doc_id"), col("text")),
            "text", "jpeg"),
          "doc_id", "content", dim = 8, maxHamming = 3))
        .select("corpus_id", "batch_id")
        .orderBy("corpus_id", "batch_id")
    },
      // stream ≡ batch probe of the union: the same text-equality truth
      """WITH d AS (SELECT doc_id, text FROM documents WHERE doc_id < 60)
        |SELECT c.doc_id AS corpus_id, b.doc_id + 500000 AS batch_id
        |FROM d c JOIN d b ON c.text = b.text
        |ORDER BY corpus_id, batch_id""".stripMargin),

    // streaming INGEST-TIME metadata extraction: container probes run
    // per micro-batch in the serving loop (probeEachBatch — zero
    // streaming state, the probe is a pure row kernel), so crawl
    // payloads carry typed metadata from the moment they land. The
    // probe is row-deterministic, so the drained stream ≡ the batch
    // probe of the union — gated by the same header-arithmetic oracle
    // as q_audio2
    Q("q_stream_probe", (s, dir) => {
      val qs = GraftStreaming.readDocumentsGlob(s, dir, "documents.parquet")
      runProbeQuery(s, "graft-probe-srv", qs)(b =>
        Multimodal.probeAudio(Multimodal.withMp3Payload(b, "text"),
            "content")
          .select(col("doc_id"),
            col("probed_audio.sample_rate").as("sample_rate"),
            col("probed_audio.channels").as("channels"),
            col("probed_audio.n_samples").as("n_samples"),
            col("probed_audio.format").as("format")))
        .select("doc_id", "sample_rate", "channels", "n_samples", "format")
        .orderBy("doc_id")
    },
      // the stream ≡ batch: same header arithmetic as q_audio2
      """WITH m AS (SELECT doc_id, strlen(text) AS ds FROM documents)
        |SELECT doc_id,
        |  CAST([44100, 48000, 32000][CAST(ds % 3 AS INT) + 1] AS INT)
        |    AS sample_rate,
        |  CAST(1 + ds % 2 AS INT) AS channels,
        |  CAST((1 + ds % 5) * 1152 AS BIGINT) AS n_samples,
        |  'mp3' AS format
        |FROM m ORDER BY doc_id""".stripMargin),

    // streaming strict-order funnel: per-key step progress tracked live
    // (state = monotone prefix of reach times, <= |steps| longs/key);
    // distinct keys per emitted step == the batch funnel counts. The
    // step list left-joins the counts so a step NO key reached still
    // reports 0 (the oracle always emits every step row)
    Q("q_stream_funnel", (s, dir) => {
      val steps = Seq("view", "click", "purchase")
      val stream = GraftStreaming.readEventsGlob(s, dir, "events.parquet")
      val hits = GraftStreaming.funnelStream(stream, steps)
      val counts = runStreamQuery(s, "stream_funnel", hits)
        .groupBy(col("step"), col("stepType").as("event_type"))
        .agg(countDistinct(col("userId")).as("__n"))
      steps.zipWithIndex.map { case (name, i) =>
          s.range(1).select(lit(i + 1).cast("int").as("step"),
            lit(name).as("event_type"))
        }.reduce(_ unionAll _)
        .join(counts, Seq("step", "event_type"), "left")
        .select(col("step"), col("event_type"),
          coalesce(col("__n"), lit(0L)).as("n_users"))
        .orderBy("step")
    },
      funnelOracleSql),

    // streaming last-touch attribution: each purchase credited at
    // ingest to the key's latest touch since the previous purchase —
    // state is ONE pending-touch triple per key
    Q("q_stream_attribution", (s, dir) => {
      val stream = GraftStreaming.readEventsGlob(s, dir, "events.parquet")
      val hits = GraftStreaming.lastTouchStream(stream, "purchase")
      runStreamQuery(s, "stream_attr", hits)
        .select(col("convId").as("conv_id"), col("touchType").as("touch_type"),
          col("touchTs").as("touch_tsu"))
        .orderBy("conv_id")
    },
      """WITH e AS (SELECT user_id, event_id, event_type, epoch_us(ts) AS tsu
        |  FROM events),
        |j AS (SELECT *, sum(CASE WHEN event_type = 'purchase'
        |    THEN 1 ELSE 0 END)
        |  OVER (PARTITION BY user_id ORDER BY tsu, event_id
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |    AS conv_seq FROM e),
        |p AS (SELECT user_id, event_id AS conv_id, conv_seq FROM j
        |  WHERE event_type = 'purchase'),
        |t AS (SELECT user_id, conv_seq AS tj, event_type, tsu, event_id
        |  FROM j WHERE event_type <> 'purchase'),
        |lt AS (SELECT p.conv_id, t.event_type, t.tsu,
        |  row_number() OVER (PARTITION BY p.conv_id
        |    ORDER BY t.tsu DESC, t.event_id DESC) AS rn
        |  FROM p JOIN t ON t.user_id = p.user_id
        |    AND t.tj = p.conv_seq - 1)
        |SELECT conv_id, event_type AS touch_type, tsu AS touch_tsu
        |FROM lt WHERE rn = 1 ORDER BY conv_id""".stripMargin),

    // streaming OHLC bars at ingest: the resample aggregate as a
    // watermarked stateful windowed aggregate — state is one buffer per
    // live (window, type), pruned by the watermark
    Q("q_stream_ohlc", (s, dir) => {
      val stream = GraftStreaming.readEventsGlob(s, dir, "events.parquet")
      val agg = GraftStreaming.ohlcStream(stream,
        watermark = "1 hour", window_ = "1 hour")
      runStreamQuery(s, "stream_ohlc", agg, "complete")
        .select(col("window.start").cast("long").as("win_start"),
          col("event_type"), col("n"),
          round(col("open"), 6).as("open"), round(col("high"), 6).as("high"),
          round(col("low"), 6).as("low"), round(col("close"), 6).as("close"))
        .orderBy("win_start", "event_type")
    },
      """WITH e AS (SELECT event_type, epoch_us(ts) AS tsu, event_id, value
        |  FROM events),
        |b AS (SELECT event_type, tsu // 3600000000 AS hb, value,
        |  row_number() OVER (PARTITION BY event_type, tsu // 3600000000
        |    ORDER BY tsu, event_id) AS rn_a,
        |  row_number() OVER (PARTITION BY event_type, tsu // 3600000000
        |    ORDER BY tsu DESC, event_id DESC) AS rn_d FROM e)
        |SELECT hb * 3600 AS win_start, event_type, count(*) AS n,
        |  round(max(CASE WHEN rn_a = 1 THEN value END), 6) AS open,
        |  round(max(value), 6) AS high, round(min(value), 6) AS low,
        |  round(max(CASE WHEN rn_d = 1 THEN value END), 6) AS close
        |FROM b GROUP BY event_type, hb
        |ORDER BY win_start, event_type""".stripMargin),

    // Structured Streaming: watermarked tumbling-window aggregation over an
    // events file stream, driven to completion (AvailableNow), oracle =
    // the equivalent batch GROUP BY date_trunc
    Q("q_stream_window", (s, dir) => {
      // file streams need a directory source: stream the sf dir filtered
      // down to the events table
      val stream = GraftStreaming.readEventsGlob(s, dir, "events.parquet")
      val agg = GraftStreaming.windowedCounts(stream,
        watermark = "1 hour", window_ = "1 hour")
      runStreamQuery(s, "stream_out", agg, "complete")
        .select(col("window.start").cast("long").as("win_start"),
          col("event_type"), col("n"), col("total"))
        .orderBy("win_start", "event_type")
    },
      """SELECT CAST(epoch(date_trunc('hour', ts)) AS BIGINT) AS win_start,
        | event_type, count(*) AS n,
        | CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total
        |FROM events GROUP BY 1, 2 ORDER BY win_start, event_type""".stripMargin),

    // Structured Streaming: per-window PSI drift monitor — the window's
    // value histogram scored against a reference histogram (the even
    // event_id half) baked in as literals; ONE stateful windowed
    // aggregate holding bins longs per window. Oracle recomputes the
    // reference in SQL with the identical integer→double ops
    Q("q_stream_psi", (s, dir) => {
      val bins = 10; val lo = 0L; val hi = 500L
      // reference histogram: bins-bounded collect over the batch half,
      // using the IDENTICAL binning expression the stream side applies
      val refMap = s.read.parquet(s"$dir/events.parquet")
        .where(col("event_id") % 2 === 0)
        .select(expr(s"least(greatest((floor(value) - ${lo}L) * $bins DIV ${hi - lo}L, 0L), ${bins - 1}L)").as("bin"))
        .groupBy("bin").agg(count(lit(1)).as("c"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val refCounts = Seq.tabulate(bins)(i => refMap.getOrElse(i.toLong, 0L))
      val stream = GraftStreaming.readEventsGlob(s, dir, "events.parquet")
      val psi = GraftStreaming.psiDriftStream(stream, "value", refCounts,
        lo, hi, watermark = "1 hour", window_ = "1 hour")
      runStreamQuery(s, "stream_psi", psi, "complete")
        .select(col("window.start").cast("long").as("win_start"),
          col("n"), col("psi"))
        .orderBy("win_start")
    },
      s"""WITH ${GraftStreaming.psiDriftOracleSelect("value",
             refWhere = "event_id % 2 = 0", lo = 0L, hi = 500L, bins = 10)}
         |SELECT CAST(epoch(win) AS BIGINT) AS win_start, n, psi
         |FROM scored ORDER BY win_start""".stripMargin),

    // Structured Streaming: per-window constraint validation — the
    // at-ingest Deequ-shaped gate; |rules| conditional sums in ONE
    // stateful windowed aggregate, stacked to one row per (window, rule)
    Q("q_stream_validate", (s, dir) => {
      import graft.operators.Validate.{InRange, InSet, NotNull}
      val stream = GraftStreaming.readEventsGlob(s, dir, "events.parquet")
      val v = GraftStreaming.validateStream(stream, Seq(
        NotNull("props"), InRange("value", 0, 450),
        InSet("event_type", Seq("click", "view", "purchase", "signup"))))
      runStreamQuery(s, "stream_validate", v, "complete")
        .select(col("window.start").cast("long").as("win_start"),
          col("rule"), col("col_name"), col("violations"), col("n_rows"))
        .orderBy("win_start", "rule", "col_name")
    },
      """WITH w AS (SELECT date_trunc('hour', ts) AS win, value, props,
        |    event_type FROM events),
        |c AS (SELECT win,
        |    CAST(COALESCE(sum(CASE WHEN props IS NULL THEN 1 ELSE 0 END), 0) AS BIGINT) AS v0,
        |    CAST(COALESCE(sum(CASE WHEN value IS NULL OR CAST(value AS DOUBLE) < 0.0
        |      OR CAST(value AS DOUBLE) > 450.0 THEN 1 ELSE 0 END), 0) AS BIGINT) AS v1,
        |    CAST(COALESCE(sum(CASE WHEN event_type IS NULL
        |      OR event_type NOT IN ('click', 'view', 'purchase', 'signup')
        |      THEN 1 ELSE 0 END), 0) AS BIGINT) AS v2,
        |    CAST(count(*) AS BIGINT) AS n_rows
        |  FROM w GROUP BY win)
        |SELECT CAST(epoch(win) AS BIGINT) AS win_start, rule, col_name,
        |  violations, n_rows FROM (
        |  SELECT win, 'not_null' AS rule, 'props' AS col_name,
        |    v0 AS violations, n_rows FROM c
        |  UNION ALL SELECT win, 'in_range', 'value', v1, n_rows FROM c
        |  UNION ALL SELECT win, 'in_set', 'event_type', v2, n_rows FROM c)
        |ORDER BY win_start, rule, col_name""".stripMargin),

    // Structured Streaming: per-window one-sample KS drift monitor —
    // exact-integer CDF-gap fold over the same binned windowed
    // aggregate as q_stream_psi (state = bins longs per window)
    Q("q_stream_ks", (s, dir) => {
      val bins = 10; val lo = 0L; val hi = 500L
      val refMap = s.read.parquet(s"$dir/events.parquet")
        .where(col("event_id") % 2 === 0)
        .select(expr(s"least(greatest((floor(value) - ${lo}L) * $bins DIV ${hi - lo}L, 0L), ${bins - 1}L)").as("bin"))
        .groupBy("bin").agg(count(lit(1)).as("c"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val refCounts = Seq.tabulate(bins)(i => refMap.getOrElse(i.toLong, 0L))
      val stream = GraftStreaming.readEventsGlob(s, dir, "events.parquet")
      val ks = GraftStreaming.ksDriftStream(stream, "value", refCounts,
        lo, hi, watermark = "1 hour", window_ = "1 hour")
      runStreamQuery(s, "stream_ks", ks, "complete")
        .select(col("window.start").cast("long").as("win_start"),
          col("n"), col("ks"))
        .orderBy("win_start")
    },
      s"""WITH ${GraftStreaming.ksDriftOracleSelect("value",
             refWhere = "event_id % 2 = 0", lo = 0L, hi = 500L, bins = 10)}
         |SELECT CAST(epoch(win) AS BIGINT) AS win_start, n, ks
         |FROM scored ORDER BY win_start""".stripMargin),

    // Structured Streaming: per-window binned ROC-AUC monitor — the
    // classifier-drift readout at ingest (is the score still ranking
    // the label?); exact Mann-Whitney pair counts over 20 score bins
    // folded statically inside ONE stateful windowed aggregate (state
    // = 2·bins longs per window)
    Q("q_stream_auc", (s, dir) => {
      val stream = GraftStreaming.readEventsGlob(s, dir, "events.parquet")
        .withColumn("is_click", col("event_type") === "click")
      val auc = GraftStreaming.aucStream(stream, "value", "is_click",
        lo = 0L, hi = 500L, bins = 20,
        watermark = "1 hour", window_ = "1 hour")
      runStreamQuery(s, "stream_auc", auc, "complete")
        .select(col("window.start").cast("long").as("win_start"),
          col("n_pos"), col("n_neg"), round(col("auc"), 9).as("auc"))
        .orderBy("win_start")
    },
      s"""WITH ${GraftStreaming.aucStreamOracleSelect("value",
             "event_type = 'click'", lo = 0L, hi = 500L, bins = 20)}
         |SELECT CAST(epoch(win) AS BIGINT) AS win_start, n_pos, n_neg,
         |  round(auc, 9) AS auc
         |FROM scored ORDER BY win_start""".stripMargin),

    // Structured Streaming: the END-TO-END curation pipeline at ingest
    // — quality gate (stateless map) → exact-dedup canonicalization
    // (one long of state per fingerprint, emit-on-improvement) — with
    // the drained winners compacted (min per fp, exact for ANY batch
    // split) and decontaminated/tokenized batch-side; shares
    // q_curation's oracle, so stream ≡ batch IS the gate
    Q("q_stream_curation", (s, dir) => {
      val docs = GraftStreaming.readDocumentsGlob(s, dir, "documents.parquet")
      val gated = docs.where(TextAnalysis.qualityScore(col("text")) >= 0.6)
      val winners = runStreamQuery(s, "stream_curation",
        GraftStreaming.canonicalStream(gated, "doc_id", "text"))
      val canonIds = winners.groupBy("fp").agg(min("doc_id").as("doc_id"))
        .select("doc_id")
      val base = table(s, dir, "documents")
        .withColumn("quality", TextAnalysis.qualityScore(col("text")))
      val kept = base.join(canonIds, Seq("doc_id"), "left_semi")
      val evalSet = base.where(col("doc_id") % 37 === 0)
        .select((col("doc_id") + 500000L).as("eval_id"), col("text"))
      val contaminated = Dedup.decontaminationReport(kept, "doc_id", "text",
          evalSet, "eval_id", "text", n = 8, minHits = 3L)
        .select(col("train_id").as("doc_id")).distinct()
      kept.join(contaminated, Seq("doc_id"), "left_anti")
        .select(col("doc_id"),
          TextAnalysis.tokenCount(col("text")).cast("long").as("n_tokens"),
          round(col("quality"), 6).as("quality"))
        .orderBy("doc_id")
    },
      // the stream's drained canonical winners compact to exactly the
      // batch curation result — one shared oracle expresses it
      // structurally (the DecontaminateOracle pattern)
      CurationOracle),

    // Structured Streaming: per-window classifier quality monitor —
    // exact confusion counts + prec/rec/F1/acc per hour window, the
    // live face of q_class_report next to q_stream_auc's ranking view.
    // UPDATE-mode drain (so the watermark actually evicts state — the
    // documented bound is what runs) + per-window last-emission
    // compaction over the changelog the sink receives
    Q("q_stream_confusion", (s, dir) => {
      val stream = GraftStreaming.readEventsGlob(s, dir, "events.parquet")
        .withColumn("label", col("value") > 250.0)
        .withColumn("pred", (col("event_id") % 1000) >= 500)
      val conf = GraftStreaming.confusionStream(stream, "label", "pred",
        watermark = "1 hour", window_ = "1 hour")
      GraftStreaming.compactUpdateDrain(
          runStreamQuery(s, "stream_confusion", conf, "update"),
          Seq("window"), "n")
        .select(col("window.start").cast("long").as("win_start"),
          col("n"), col("tp"), col("fp"), col("fn"), col("tn"),
          round(col("prec"), 9).as("prec"), round(col("rec"), 9).as("rec"),
          round(col("f1"), 9).as("f1"), round(col("acc"), 9).as("acc"))
        .orderBy("win_start")
    },
      s"""WITH ${GraftStreaming.confusionOracleSelect("value > 250.0",
             "(event_id % 1000) >= 500")}
         |SELECT CAST(epoch(win) AS BIGINT) AS win_start, n, tp, fp, fn,
         |  tn, round(prec, 9) AS prec, round(rec, 9) AS rec,
         |  round(f1, 9) AS f1, round(acc, 9) AS acc
         |FROM scored ORDER BY win_start""".stripMargin),

    // streaming privacy release: per-window ε-DP noisy event counts —
    // published ingest telemetry whose TRUE volumes are sensitive; PRF
    // noise keyed on (seed, window) so re-emissions release the same
    // draw; the ingest-time twin of q_dp_release's count leg
    Q("q_stream_dp", (s, dir) => {
      val ev = GraftStreaming.readEventsGlob(s, dir, "events.parquet")
      runStreamQuery(s, "stream_dp",
          GraftStreaming.dpCountStream(ev, eps = 1.0, seed = "graft-r11"),
          "complete")
        .select(col("window.start").cast("long").as("win_start"),
          round(col("n_dp"), 6).as("n_dp"))
        .orderBy("win_start")
    }, {
      // the batch replay of the streamed release: same hour windows,
      // same (seed|n|win_start) PRF key, same Laplace inverse CDF
      import graft.operators.Privacy
      s"""WITH b AS (SELECT CAST(epoch(date_trunc('hour', ts)) AS BIGINT)
         |      AS win_start, count(*) AS n FROM events GROUP BY 1)
         |SELECT win_start, round(CAST(n AS DOUBLE) +
         |    ${Privacy.laplaceNoiseSqlExpr(
               "'graft-r11' || '|' || 'n' || '|' || CAST(win_start AS VARCHAR)",
               1.0)}, 6) AS n_dp
         |FROM b ORDER BY win_start""".stripMargin
    }),

    // the SAFE continuous drain shape the dpCountStream DP contract
    // documents: APPEND mode — each window releases exactly ONCE, after
    // the watermark closes it, so the one-release-per-window ε
    // guarantee holds in a genuinely continuous run. Windows the final
    // watermark has not closed stay in state and are NOT published;
    // the oracle replays exactly the closed set (window end ≤ max
    // event time − the 1 h delay)
    Q("q_stream_dp2", (s, dir) => {
      val ev = GraftStreaming.readEventsGlob(s, dir, "events.parquet")
      runStreamQuery(s, "stream_dp2",
          GraftStreaming.dpCountStream(ev, eps = 1.0, seed = "graft-r12"),
          "append")
        .select(col("window.start").cast("long").as("win_start"),
          round(col("n_dp"), 6).as("n_dp"))
        .orderBy("win_start")
    }, {
      // append mode publishes only watermark-CLOSED windows: the same
      // noisy series, restricted to window end ≤ max event time − 1 h
      import graft.operators.Privacy
      s"""WITH b AS (SELECT CAST(epoch(date_trunc('hour', ts)) AS BIGINT)
         |      AS win_start, count(*) AS n FROM events GROUP BY 1),
         |wm AS (SELECT CAST(epoch(max(ts)) AS BIGINT) - 3600 AS w
         |  FROM events)
         |SELECT win_start, round(CAST(n AS DOUBLE) +
         |    ${Privacy.laplaceNoiseSqlExpr(
               "'graft-r12' || '|' || 'n' || '|' || CAST(win_start AS VARCHAR)",
               1.0)}, 6) AS n_dp
         |FROM b, wm WHERE win_start + 3600 <= w
         |ORDER BY win_start""".stripMargin
    }),

    // Structured Streaming: stream-static enrichment — events joined
    // map-side to the broadcast customer dimension per micro-batch (no
    // state), unmatched users kept with NULL segment; batch-aggregated
    // for the oracle
    Q("q_stream_enrich", (s, dir) => {
      val stream = GraftStreaming.readEventsGlob(s, dir, "events.parquet")
      val dim = s.read.parquet(s"$dir/customer.parquet")
        .select(col("c_custkey"), col("c_mktsegment"))
      val enriched = GraftStreaming.enrichWithStatic(stream, dim,
        "user_id", "c_custkey")
        .select(col("event_id"), col("value"),
          coalesce(col("c_mktsegment"), lit("UNKNOWN")).as("segment"))
      runStreamQuery(s, "stream_enrich", enriched).groupBy("segment")
        .agg(count(lit(1)).as("n"),
          sum(col("value").cast(DecimalType(18, 6))).cast("double").as("total"))
        .orderBy("segment")
    },
      """WITH e AS (SELECT ev.event_id, ev.value,
        |    COALESCE(c.c_mktsegment, 'UNKNOWN') AS segment
        |  FROM events ev LEFT JOIN customer c ON ev.user_id = c.c_custkey)
        |SELECT segment, count(*) AS n,
        |  CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total
        |FROM e GROUP BY segment ORDER BY segment""".stripMargin),

    // Structured Streaming: trending keys — hourly windowed counts
    // drained to the sink, then the per-window top-2 finisher over the
    // already-window-reduced relation (deterministic n desc, key asc).
    // UPDATE-mode drain (watermark-evicted state, the documented bound)
    // + per-(window, key) last-emission compaction before ranking
    Q("q_stream_trending", (s, dir) => {
      val stream = GraftStreaming.readEventsGlob(s, dir, "events.parquet")
      val agg = GraftStreaming.windowedCounts(stream,
        watermark = "1 hour", window_ = "1 hour")
      GraftStreaming.trendingTopK(
          GraftStreaming.compactUpdateDrain(
            runStreamQuery(s, "stream_trend", agg, "update"),
            Seq("window", "event_type"), "n"),
          "event_type", 2)
        .select(col("window.start").cast("long").as("win_start"),
          col("rank"), col("event_type"), col("n"))
        .orderBy("win_start", "rank")
    },
      """WITH b AS (SELECT CAST(epoch(date_trunc('hour', ts)) AS BIGINT)
        |    AS win_start, event_type, count(*) AS n
        |  FROM events GROUP BY 1, 2),
        |r AS (SELECT win_start, event_type, n,
        |    CAST(row_number() OVER (PARTITION BY win_start
        |      ORDER BY n DESC, event_type) AS INTEGER) AS rank FROM b)
        |SELECT win_start, rank, event_type, n FROM r WHERE rank <= 2
        |ORDER BY win_start, rank""".stripMargin),

    // Structured Streaming: the MG sketch as a complete-mode global
    // aggregate — one O(capacity) state row for "top event types so
    // far"; capacity 64 >> the distinct types, so counts are exact and
    // the single-batch run ≡ the batch GROUP BY oracle
    Q("q_stream_heavy", (s, dir) => {
      val stream = GraftStreaming.readEventsGlob(s, dir, "events.parquet")
      val agg = GraftStreaming.heavyHittersStream(stream,
        col("event_type"), capacity = 64, k = 5)
      runStreamQuery(s, "stream_heavy", agg, "complete").select(posexplode(col("__hh")))
        .select((col("pos") + 1).cast("int").as("rank"),
          col("col.item").as("event_type"), col("col.cnt").as("cnt"))
        .orderBy("rank")
    },
      """WITH c AS (SELECT event_type, count(*) AS cnt FROM events GROUP BY 1)
        |SELECT CAST(row_number() OVER (ORDER BY cnt DESC, event_type) AS INT)
        |    AS rank, event_type, cnt
        |FROM c ORDER BY rank LIMIT 5""".stripMargin),

    // Structured Streaming: watermarked stream-stream inner join — each
    // click joined to same-user purchases within the following hour. The
    // two-sided event-time bound is what lets Spark evict join state; the
    // inner join's output equals the batch range join, which is the oracle.
    Q("q_stream_join", (s, dir) => {
      val clicks = GraftStreaming.readEventsGlob(s, dir, "events.parquet")
        .where(col("event_type") === "click")
      val purchases = GraftStreaming.readEventsGlob(s, dir, "events.parquet")
        .where(col("event_type") === "purchase")
      val joined = GraftStreaming
        .streamStreamJoin(clicks, purchases, "user_id")
        .select(col("l.event_id").as("click_id"),
          col("r.event_id").as("purchase_id"))
      runStreamQuery(s, "stream_join", joined).orderBy("click_id", "purchase_id")
    },
      """WITH c AS (SELECT event_id, user_id, epoch_us(ts) // 1000000 AS sec
        |  FROM events WHERE event_type = 'click'),
        |p AS (SELECT event_id, user_id, epoch_us(ts) // 1000000 AS sec
        |  FROM events WHERE event_type = 'purchase')
        |SELECT c.event_id AS click_id, p.event_id AS purchase_id
        |FROM c JOIN p ON c.user_id = p.user_id
        |  AND p.sec >= c.sec AND p.sec <= c.sec + 3600
        |ORDER BY click_id, purchase_id""".stripMargin),

    // Structured Streaming: duplicate delivery (the same file streamed by
    // two unioned sources) restored to exactly-once by the streaming dedup
    // state store, then batch-aggregated for the oracle. The watermark is
    // effectively unbounded so no state is evicted mid-run — on a live
    // cluster you bound it to the real out-of-orderness instead.
    Q("q_stream_dedup", (s, dir) => {
      val s1 = GraftStreaming.readEventsGlob(s, dir, "events.parquet")
      val s2 = GraftStreaming.readEventsGlob(s, dir, "events.parquet")
      val deduped = GraftStreaming.dedupStream(s1.union(s2), Seq("event_id"),
        watermark = "87600 hours")
      runStreamQuery(s, "stream_dedup", deduped).groupBy("event_type")
        .agg(count(lit(1)).as("n"),
          sum(col("value").cast(DecimalType(18, 6))).cast("double").as("total"))
        .orderBy("event_type")
    },
      """SELECT event_type, count(*) AS n,
        | CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin),

    // Structured Streaming: changelog → snapshot compaction — one
    // state row per key, emit on change; a single AvailableNow batch
    // emits exactly batch latestByKey, which is the oracle
    Q("q_stream_latest", (s, dir) => {
      val ev = GraftStreaming.readEventsGlob(s, dir, "events.parquet")
      runStreamQuery(s, "stream_latest", GraftStreaming.latestStream(ev))
        .select(col("userId").as("user_id"),
        col("eventId").as("event_id"),
        expr("tsNs DIV 1000").as("ts_us"),
        col("eventType").as("event_type"), col("value"))
        .orderBy("user_id")
    },
      """WITH ranked AS (SELECT user_id, event_id, epoch_us(ts) AS ts_us,
        |  event_type, value,
        |  row_number() OVER (PARTITION BY user_id
        |    ORDER BY epoch_ns(ts) DESC, event_id DESC) AS rn FROM events)
        |SELECT user_id, event_id, ts_us, event_type, value
        |FROM ranked WHERE rn = 1 ORDER BY user_id""".stripMargin),

    // Structured Streaming: per-key bottom-k reservoir — the mergeable
    // (arrival-order-independent) formulation of reservoir sampling,
    // sharing Sampling.perKey's (md5(id), id) convention, so the oracle
    // IS q_sample_per_key's SQL at the same k
    Q("q_stream_sample", (s, dir) => {
      val ev = GraftStreaming.readEventsGlob(s, dir, "events.parquet")
      runStreamQuery(s, "stream_sample", GraftStreaming.bottomKSampleStream(ev, k = 3))
        .select(col("userId").as("user_id"),
          col("eventId").as("event_id"))
        .orderBy("user_id", "event_id")
    },
      // the streaming bottom-k reservoir shares q_sample_per_key's
      // (md5(id), id) selection at the same k — same oracle
      """SELECT user_id, event_id FROM (
        |  SELECT user_id, event_id,
        |    row_number() OVER (PARTITION BY user_id
        |      ORDER BY md5(CAST(event_id AS VARCHAR)), event_id) AS rn
        |  FROM events) t
        |WHERE rn <= 3 ORDER BY user_id, event_id""".stripMargin),

    // Structured Streaming: token-quota admission at ingest — per-lang
    // budgets in the checkpointed store (one long per key). Single
    // AvailableNow batch + stable md5 in-batch order makes the stream
    // EXACTLY batch budgetSample, so the oracle IS q_budget_sample's.
    Q("q_stream_budget", (s, dir) => {
      val docs = GraftStreaming.readDocumentsGlob(s, dir, "documents.parquet")
        .withColumn("n_tokens",
          TextAnalysis.tokenCount(col("text")).cast("long"))
      val adm = GraftStreaming.budgetAdmitStream(docs, "lang", "doc_id",
        "n_tokens", budget = 50000L)
      runStreamQuery(s, "stream_budget", adm).select(col("key").as("lang"), col("doc_id"), col("n_tokens"))
        .orderBy("lang", "doc_id")
    },
      """WITH d AS (SELECT lang, doc_id,
        |  CAST(len(list_filter(string_split_regex(trim(text), '\s+'),
        |    t -> len(t) > 0)) AS BIGINT) AS n_tokens FROM documents),
        |a AS (SELECT lang, doc_id, n_tokens,
        |  CAST(COALESCE(sum(n_tokens) OVER (PARTITION BY lang
        |    ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
        |    AS off FROM d)
        |SELECT lang, doc_id, n_tokens FROM a WHERE off < 50000
        |ORDER BY lang, doc_id""".stripMargin),

    // Structured Streaming: banded-LSH MinHash near-dup at ingest —
    // every arriving doc matched against the stored bucket members in
    // Spark's keyed state store, exact Jaccard on hashed shingle sets.
    // Same banding/threshold as q_near_dup, so the exhaustive all-pairs
    // oracle applies for the same recall reason; cross-band duplicate
    // emissions collapse in the batch groupBy after the run.
    Q("q_stream_neardup", (s, dir) => {
      val docs = GraftStreaming.readDocumentsGlob(s, dir, "documents.parquet")
      val hits = GraftStreaming.nearDupStream(docs, "doc_id", "text",
        threshold = 0.8, watermark = "87600 hours")
      runStreamQuery(s, "stream_neardup", hits).groupBy("id_l", "id_r")
        .agg(round(max(col("jaccard")), 6).as("jaccard"))
        .orderBy("id_l", "id_r")
    },
      graft.operators.Dedup.jaccardPairsOracleSql(3, 0.8)),

    // Structured Streaming: flatMapGroupsWithState sessionization with
    // BATCH PARITY — per-user sentinel events (ts shifted 31 years past
    // the WHOLE dataset span, poisoned value) arrive in the same batch
    // and force every real session closed through the gap logic itself
    // (no timeout-boundary semantics in play); sentinel sessions are
    // filtered by the poison. Oracle = full batch sessionization —
    // stream ≡ batch.
    Q("q_stream_sessionize", (s, dir) => {
      val gapNs = 1800L * 1000000000L
      // µs-truncated ns on BOTH engines (DuckDB stores parquet ns
      // timestamps at µs precision, so epoch_ns() returns µs*1000)
      val ev = GraftStreaming.readEventsGlob(s, dir, "events.parquet")
        .withColumn("ts", expr("ts DIV 1000 * 1000"))
        .withColumn("event_time", GraftStreaming.eventTime(col("ts")))
      val sentinels = ev
        .withColumn("ts", col("ts") + lit(1000000000000000000L))
        .withColumn("value", lit(-1e18))
        .withColumn("event_time", GraftStreaming.eventTime(col("ts")))
      val sess = GraftStreaming.sessionize(ev.unionByName(sentinels), gapNs,
        watermark = "87600 hours")
      runStreamQuery(s, "stream_sess", sess)
        .where(col("closed") && col("totalValue") > -1e17)
        .select(col("userId").as("user_id"), col("nEvents").as("n_events"),
          col("firstTsNs").as("first_ts"), col("lastTsNs").as("last_ts"))
        .orderBy("user_id", "first_ts")
    },
      """WITH f AS (SELECT user_id, event_id, epoch_ns(ts) AS tsn,
        |  CASE WHEN lag(epoch_ns(ts)) OVER w IS NULL
        |        OR epoch_ns(ts) - lag(epoch_ns(ts)) OVER w > 1800000000000
        |       THEN 1 ELSE 0 END AS nf
        |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY epoch_ns(ts), event_id)),
        |s AS (SELECT user_id, tsn,
        |  CAST(sum(nf) OVER (PARTITION BY user_id ORDER BY tsn, event_id
        |    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS sess FROM f)
        |SELECT user_id, count(*) AS n_events,
        |  min(tsn) AS first_ts, max(tsn) AS last_ts
        |FROM s GROUP BY user_id, sess
        |ORDER BY user_id, first_ts""".stripMargin),

    // Structured Streaming: decontamination at ingest — arriving docs'
    // 8-grams broadcast-joined to the static benchmark per micro-batch,
    // ZERO streaming state; drained rows batch-aggregate to exactly the
    // batch report, which is the oracle
    Q("q_stream_decontaminate", (s, dir) => {
      val docs = GraftStreaming.readDocumentsGlob(s, dir, "documents.parquet")
      val evalSet = table(s, dir, "documents")
        .where(col("doc_id") % 37 === 0)
        .select((col("doc_id") + 500000).as("doc_id"), col("text"))
      val hits = GraftStreaming.decontaminateStream(docs, "doc_id", "text",
        evalSet, "doc_id", "text", n = 8)
      runStreamQuery(s, "stream_decon", hits).groupBy("train_id", "eval_id")
        .agg(count(lit(1)).as("n_hits"))
        .where(col("n_hits") >= 1)
        .orderBy("train_id", "eval_id")
    },
      // stream ≡ batch report is the whole claim — one shared oracle
      // expresses it structurally
      DecontaminateOracle),

    // Structured Streaming: EXACT per-key EWMA — one double of keyed
    // state carries the recursion across batches (the batch twin
    // truncates to a horizon; streaming is where the exact fold is
    // natural). Single AvailableNow batch ≡ the full-history fold,
    // which DuckDB replays with list_reduce over the same literals.
    Q("q_stream_ewma", (s, dir) => {
      val ev = GraftStreaming.readEventsGlob(s, dir, "events.parquet")
      // one snapshot per key per micro-batch → keep the final state
      // (max nObs) so the one-row-per-key oracle holds for ANY batch
      // split of the AvailableNow run (same fix as q_stream_holt)
      runStreamQuery(s, "stream_ewma", GraftStreaming.ewmaStream(ev, alpha = 0.3))
        .groupBy(col("userId"))
        .agg(max(struct(col("nObs"), col("ewma"))).as("__last"))
        .select(col("userId").as("user_id"),
          round(col("__last.ewma"), 9).as("ewma"))
        .orderBy("user_id")
    }, {
      // same α and β=1−α double literals as the Scala fold (β inlined
      // via toString → shortest round-trip repr, so DuckDB parses the
      // identical double; a literal 0.7 would be a DIFFERENT double)
      val alpha = 0.3
      val beta = (1 - alpha).toString
      s"""SELECT user_id,
         |  round(list_reduce(
         |    list(CAST(value AS DOUBLE) ORDER BY epoch_us(ts), event_id),
         |    (acc, x) -> $alpha*x + $beta*acc), 9) AS ewma
         |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin
    }),

    // Structured Streaming: CDC compaction with DELETE tombstones — the
    // ingest-time twin of Dedup.applyChangelog (q_cdc's changelog
    // synthesis, streamed); the drained emission stream compacts to the
    // batch snapshot, so the oracle IS q_cdc's
    Q("q_stream_cdc", (s, dir) => {
      val ev = GraftStreaming.readEventsGlob(s, dir, "events.parquet")
      val base = ev.select(col("event_id").as("key"),
        expr("ts DIV 1000").as("ver"), col("value"), lit("I").as("op"))
      val upd = base.where(col("key") % 10 === 0)
        .select(col("key"), (col("ver") + 1000L).as("ver"),
          (col("value") * 2).as("value"), lit("U").as("op"))
      val del = base.where(col("key") % 20 === 0)
        .select(col("key"), (col("ver") + 2000L).as("ver"),
          lit(0.0).as("value"), lit("D").as("op"))
      Dedup.applyChangelogEmissions(runStreamQuery(s, "stream_cdc",
          GraftStreaming.cdcStream(base.unionAll(upd).unionAll(del))))
        .select(col("key").as("event_id"), col("ver").as("tsu"), col("value"))
        .orderBy("event_id")
    },
      CdcOracleSql),

    // Structured Streaming: gap sessions via the NATIVE session_window
    // aggregate (built-in-first; the custom sessionize exists for
    // custom per-session state) — far-future sentinel copies close
    // every real session so append mode emits them all. The poison
    // value -1e11 FITS sessionWindowStats' DECIMAL(18,6) sum (a larger
    // sentinel would overflow the cast to NULL and the filter would
    // work by NULL-drop, not by the numeric guard it claims); sentinel
    // sessions can never mix with real ones (31-year ts shift ≫ gap),
    // sum to ≤ -1e11 < -1e10, and never have a NULL total (the literal
    // overwrites value), so IS NULL keeps any all-NULL-value real
    // session just as the sentinel-free oracle does.
    Q("q_stream_sessions_native", (s, dir) => {
      val ev = GraftStreaming.readEventsGlob(s, dir, "events.parquet")
      val sentinels = ev
        .withColumn("ts", col("ts") + lit(1000000000000000000L))
        .withColumn("value", lit(-1e11))
        .withColumn("event_time", GraftStreaming.eventTime(col("ts")))
      val sess = GraftStreaming.sessionWindowStats(
        ev.unionByName(sentinels), "1800 seconds", watermark = "87600 hours")
      runStreamQuery(s, "stream_sessw", sess).where(col("total").isNull || col("total") > -1e10)
        .select(col("user_id"),
          unix_seconds(col("session_start")).as("session_start"),
          unix_seconds(col("session_end")).as("session_end"),
          col("n_events"), round(col("total"), 6).as("total"))
        .orderBy("user_id", "session_start")
    },
      // NATIVE session_window sessions ≡ the batch gap-split recursion:
      // an event extends a session while diff <= gap (INCLUSIVE — a
      // planted boundary spec pins that diff == gap MERGES),
      // session_end = last event + gap, second-truncated times
      """WITH e AS (SELECT user_id, event_id,
        |    epoch_ns(ts) // 1000000000 AS tss, value FROM events),
        |f AS (SELECT user_id, event_id, tss, value,
        |    CASE WHEN lag(tss) OVER w IS NULL
        |      OR tss - lag(tss) OVER w > 1800 THEN 1 ELSE 0 END AS brk
        |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY tss, event_id)),
        |s AS (SELECT user_id, tss, value, sum(brk) OVER
        |    (PARTITION BY user_id ORDER BY tss, event_id ROWS BETWEEN
        |     UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
        |  FROM f)
        |SELECT user_id, min(tss) AS session_start,
        |  max(tss) + 1800 AS session_end, count(*) AS n_events,
        |  round(CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE), 6)
        |    AS total
        |FROM s GROUP BY user_id, sid
        |ORDER BY user_id, session_start""".stripMargin),

    // Structured Streaming: point-in-time enrichment — each click
    // joins the purchase-tier SCD2 VERSION valid at the click's own
    // time (not now) — the feature-store train/serve-skew guard;
    // broadcast dimension, zero streaming state
    Q("q_stream_pit", (s, dir) => {
      val purch = eventsMicros(s, dir)
        .where(col("event_type") === "purchase")
        .select(col("user_id"), col("tsu"), col("event_id"),
          (col("value") >= 150.0).cast("string").as("tier"))
      val dim = WindowOps.scd2(purch, Seq("user_id"),
        Seq("tsu", "event_id"), "tsu", "tier")
      val clicks = GraftStreaming.readEventsGlob(s, dir, "events.parquet")
        .where(col("event_type") === "click")
      runStreamQuery(s, "stream_pit", GraftStreaming.pointInTimeEnrich(clicks, dim, Seq("user_id"),
          "ts", Seq("tier")))
        .select(col("user_id"), col("event_id"), col("tier"))
        .orderBy("user_id", "event_id")
    },
      // the SCD2 compaction (q_scd2's CTE chain on the purchase-tier
      // attr) interval-joined to the click log at click time
      """WITH p AS (SELECT user_id, epoch_us(ts) AS tsu, event_id,
        |    CAST(value >= 150.0 AS VARCHAR) AS tier FROM events
        |  WHERE event_type = 'purchase'),
        |c AS (SELECT user_id, tier, tsu, event_id,
        |    CASE WHEN lag(tier) OVER w IS NULL
        |      OR lag(tier) OVER w <> tier THEN 1 ELSE 0 END AS chg
        |  FROM p WINDOW w AS (PARTITION BY user_id ORDER BY tsu, event_id)),
        |v AS (SELECT user_id, tier, tsu, event_id FROM c WHERE chg = 1),
        |o AS (SELECT user_id, tier, tsu AS valid_from,
        |    lead(tsu) OVER wv AS valid_to
        |  FROM v WINDOW wv AS (PARTITION BY user_id ORDER BY tsu, event_id)),
        |k AS (SELECT user_id, event_id, epoch_us(ts) AS tsu FROM events
        |  WHERE event_type = 'click')
        |SELECT k.user_id, k.event_id, o.tier
        |FROM k LEFT JOIN o ON k.user_id = o.user_id
        |  AND o.valid_from <= k.tsu
        |  AND (o.valid_to IS NULL OR k.tsu < o.valid_to)
        |ORDER BY k.user_id, k.event_id""".stripMargin),

    // Structured Streaming: per-window approx distinct users — exact
    // streaming DISTINCT is impossible with bounded state (Spark
    // rejects it), so the HLL sketch IS the answer; drained estimates
    // honesty-checked against batch-exact counts (oracle pins ok=TRUE)
    Q("q_stream_distinct", (s, dir) => {
      val stream = GraftStreaming.readEventsGlob(s, dir, "events.parquet")
      val approx = runStreamQuery(s, "stream_distinct", GraftStreaming.approxDistinctUsers(stream,
          watermark = "1 hour", window_ = "1 hour"), "complete")
        .select(col("window.start").cast("long").as("win_start"),
          col("event_type"), col("n_users_approx"))
      // ts is the epoch-ns long seam: hour start by integer division
      val exact = table(s, dir, "events")
        .select(expr("ts DIV 1000000000").as("tss"),
          col("event_type"), col("user_id"))
        .groupBy(expr("tss DIV 3600 * 3600").as("win_start"),
          col("event_type"))
        .agg(countDistinct(col("user_id")).as("n_exact"))
      approx.join(exact, Seq("win_start", "event_type"))
        .select(col("win_start"), col("event_type"), col("n_exact"),
          (abs(col("n_users_approx") - col("n_exact")) <=
            col("n_exact") * 0.05 + lit(5L)).as("approx_ok"))
        .orderBy("win_start", "event_type")
    },
      // exact per-window distinct recomputed from scratch; the honesty
      // claim is the literal TRUE the Spark side must reproduce
      """WITH e AS (SELECT epoch_us(ts) // 1000000 AS tss, event_type,
        |    user_id FROM events)
        |SELECT (tss // 3600) * 3600 AS win_start, event_type,
        |  count(DISTINCT user_id) AS n_exact, TRUE AS approx_ok
        |FROM e GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),

    // Structured Streaming: CUSUM monitoring at ingest — the direct
    // recursion on 2 longs of keyed state (streaming is where the
    // sequential fold is natural; the batch twin needs the reflection
    // identity); alarmsOnly → output volume tracks incidents
    Q("q_stream_cusum", (s, dir) => {
      val ev = GraftStreaming.readEventsGlob(s, dir, "events.parquet")
      runStreamQuery(s, "stream_cusum", GraftStreaming.cusumStream(
        ev, target = 165.0, slack = 20.0, threshold = 500.0))
        .select(col("userId").as("user_id"), col("eventId").as("event_id"),
          round(col("sHi"), 6).as("s_hi"), round(col("sLo"), 6).as("s_lo"))
        .orderBy("user_id", "event_id")
    },
      // the batch CUSUM replay restricted to alarm rows — the stream's
      // emission set under alarmsOnly
      """WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS tsu,
        |  CAST(round(value * 1e9) AS BIGINT) AS v9 FROM events),
        |p AS (SELECT user_id, event_id, tsu, v9,
        |    sum(v9 - 185000000000) OVER w AS phi,
        |    sum(145000000000 - v9) OVER w AS plo
        |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY tsu, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
        |m AS (SELECT *,
        |    phi - least(0, min(phi) OVER w2) AS shi,
        |    plo - least(0, min(plo) OVER w2) AS slo
        |  FROM p WINDOW w2 AS (PARTITION BY user_id ORDER BY tsu, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
        |SELECT user_id, event_id,
        |  round(CAST(shi AS DOUBLE) / 1e9, 6) AS s_hi,
        |  round(CAST(slo AS DOUBLE) / 1e9, 6) AS s_lo
        |FROM m
        |WHERE v9 IS NOT NULL AND (shi > 500000000000 OR slo > 500000000000)
        |ORDER BY user_id, event_id""".stripMargin),

    // streaming Holt smoothing: the exact unbounded level+trend
    // recursion as three numbers of keyed state — what a batch engine
    // must bound, streaming carries natively
    Q("q_stream_holt", (s, dir) => {
      val ev = GraftStreaming.readEventsGlob(s, dir, "events.parquet")
      // holtStream emits one snapshot per key per micro-batch; if the
      // AvailableNow run splits into several batches (multi-file glob,
      // maxFilesPerTrigger) a user would appear once per batch. nObs is
      // strictly increasing per key, so max-by-nObs keeps exactly the
      // final state and the one-row-per-key oracle holds for ANY batch
      // split.
      runStreamQuery(s, "stream_holt",
        GraftStreaming.holtStream(ev, alpha = 0.5, beta = 0.25))
        .groupBy(col("userId"))
        .agg(max(struct(col("nObs"), col("level"), col("trend")))
          .as("__last"))
        .select(col("userId").as("user_id"),
          col("__last.nObs").as("n_obs"),
          round(col("__last.level"), 9).as("level"),
          round(col("__last.trend"), 9).as("trend"))
        .orderBy("user_id")
    },
      s"""WITH ${graft.operators.WindowOps.holtOracleCtes(
             "e AS (SELECT user_id, epoch_us(ts) AS tsu, event_id, " +
               "CAST(value AS DOUBLE) AS v FROM events)",
             "user_id", Seq("tsu", "event_id"),
             alpha = 0.5, beta = 0.25, maxHistory = 1000000000)}
         |SELECT user_id, CAST(n_obs AS BIGINT) AS n_obs,
         |  round(level, 9) AS level, round(trend, 9) AS trend
         |FROM hw ORDER BY user_id""".stripMargin),

    // streaming Welch-t drift monitor: each hour window's quantized
    // moments vs a static reference sample (three integers, batch-
    // collected) — the parametric sibling of stream_psi/stream_ks
    Q("q_stream_ttest", (s, dir) => {
      val ref = s.read.parquet(s"$dir/events.parquet")
        .where(col("event_id") % 2 === 0)
        .select(floor(col("value").cast("double") * lit(1e9)).cast("long")
          .as("q"))
        .agg(count(lit(1)).as("n"),
          sum(col("q").cast("decimal(38,0)")).as("sv"),
          sum(col("q").cast("decimal(38,0)") *
            col("q").cast("decimal(38,0)")).as("sv2"))
        .collect()(0)
      val (refN, refSv, refSv2) =
        (ref.getLong(0), ref.getDecimal(1), ref.getDecimal(2))
      val stream = GraftStreaming.readEventsGlob(s, dir, "events.parquet")
      runStreamQuery(s, "stream_ttest",
        GraftStreaming.ttestDriftStream(stream, "value", refN, refSv,
          refSv2, watermark = "1 hour", window_ = "1 hour"), "complete")
        .select(col("window.start").cast("long").as("win_start"),
          col("n"), round(col("mean"), 9).as("mean"),
          round(col("t_stat"), 6).as("t_stat"),
          round(col("welch_df"), 6).as("welch_df"))
        .orderBy("win_start")
    },
      s"""WITH ${GraftStreaming.ttestDriftOracleSelect("value",
             refWhere = "event_id % 2 = 0")}
         |SELECT CAST(epoch(win) AS BIGINT) AS win_start, n,
         |  round(mean, 9) AS mean, round(t_stat, 6) AS t_stat,
         |  round(welch_df, 6) AS welch_df
         |FROM scored ORDER BY win_start""".stripMargin)
  )
}
