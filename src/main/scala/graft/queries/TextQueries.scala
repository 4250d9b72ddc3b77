package graft
package queries

import org.apache.spark.sql.functions._
import graft.operators.{Dedup, TextAnalysis}

import Glue._

/** Query records of the text: `TextAnalysis`, `UrlOps` and `PublicSuffix`
  * (cleaning, language and quality signals, n-gram models, BM25,
  * tokenization). */
object TextQueries {

  // fixed learned-merge list for the BPE-encode query — the vocabulary is
  // an offline artifact in a real pipeline; the query applies it
  private val BpeMerges: Seq[(String, String)] = Seq(
    "t" -> "h", "th" -> "e", "i" -> "n", "a" -> "n", "e" -> "r",
    "o" -> "n", "r" -> "e", "a" -> "t", "in" -> "g", "s" -> "t",
    "an" -> "d", "o" -> "u")

  private lazy val PiiOracle: String = {
    val counts = graft.operators.TextAnalysis.piiOracleSqlExprs("text")
      .zip(Seq("n_email", "n_ipv4", "n_phone", "n_card"))
      .map { case (e, name) => s"  CAST($e AS BIGINT) AS $name" }
      .mkString(",\n")
    """WITH d AS (SELECT doc_id,
      |  CASE WHEN doc_id % 7 = 0
      |      THEN text || ' contact bob@example.com from 10.0.0.1'
      |    WHEN doc_id % 11 = 0
      |      THEN text || ' card 4532015112830366 or call 415-555-2671'
      |    ELSE text END AS text FROM documents)
      |SELECT doc_id,
      |""".stripMargin + counts +
      "\nFROM d ORDER BY doc_id"
  }

  val all: Seq[Q] = Seq(
    // vocabulary drift between snapshot halves (even vs odd doc ids):
    // chi-square contribution per word, largest movers first — log-free
    // rational arithmetic over exact counts, so no quantization needed
    Q("q_vocab_drift", (s, dir) => {
      val docs = table(s, dir, "documents").select("doc_id", "text")
      TextAnalysis.vocabularyDrift(
        docs.where(pmod(col("doc_id"), lit(2)) === 0),
        docs.where(pmod(col("doc_id"), lit(2)) === 1),
        "text", topK = 100)
    },
      """WITH o AS (SELECT t.word, count(*) AS c FROM (
        |    SELECT unnest(list_filter(string_split_regex(trim(lower(text)), '\s+'),
        |      w -> len(w) > 0)) AS word
        |    FROM documents WHERE doc_id % 2 = 0) t GROUP BY t.word),
        |n AS (SELECT t.word, count(*) AS c FROM (
        |    SELECT unnest(list_filter(string_split_regex(trim(lower(text)), '\s+'),
        |      w -> len(w) > 0)) AS word
        |    FROM documents WHERE doc_id % 2 = 1) t GROUP BY t.word),
        |j AS (SELECT COALESCE(o.word, n.word) AS word,
        |  CAST(COALESCE(o.c, 0) AS BIGINT) AS c_old,
        |  CAST(COALESCE(n.c, 0) AS BIGINT) AS c_new
        |  FROM o FULL JOIN n ON o.word = n.word),
        |t AS (SELECT CAST(sum(c_old) AS DOUBLE) AS t_o,
        |             CAST(sum(c_new) AS DOUBLE) AS t_n FROM j)
        |SELECT word, c_old, c_new,
        |  round((CAST(c_new AS DOUBLE) / t_n - CAST(c_old AS DOUBLE) / t_o)
        |      * (CAST(c_new AS DOUBLE) / t_n - CAST(c_old AS DOUBLE) / t_o)
        |      / (CAST(c_new AS DOUBLE) / t_n + CAST(c_old AS DOUBLE) / t_o), 12)
        |    AS drift
        |FROM j, t ORDER BY drift DESC, word LIMIT 100""".stripMargin),

    // bounded-memory heavy hitters: one ≤ capacity-entry Misra–Gries
    // sketch per map partial on the wire instead of a keyspace-wide
    // exchange; capacity 1024 >> the test vocabulary, so counts are
    // exact and the result ≡ the GROUP BY oracle
    Q("q_heavy_hitters", (s, dir) => {
      TextAnalysis.heavyHitterTokens(
        table(s, dir, "documents").select("text"), "text",
        capacity = 1024, k = 10)
        .orderBy("rank")
    },
      """WITH t AS (SELECT unnest(list_filter(string_split_regex(trim(lower(text)), '\s+'),
        |    w -> len(w) > 0)) AS token FROM documents),
        |c AS (SELECT token, count(*) AS cnt FROM t GROUP BY token)
        |SELECT CAST(row_number() OVER (ORDER BY cnt DESC, token) AS INT) AS rank,
        |  token, cnt
        |FROM c ORDER BY rank LIMIT 10""".stripMargin),

    // boilerplate probe: document frequency of 3-gram shingles (distinct
    // per doc) through the MG sketch — "which phrases repeat across the
    // crawl"; capacity 32768 > the 16k distinct shingles at test scale,
    // so counts are exact document frequencies
    Q("q_boilerplate", (s, dir) => {
      val docs = table(s, dir, "documents").select("doc_id", "text")
      TextAnalysis.heavyHitters(
        docs.select(explode(Dedup.shingles(col("text"), 3)).as("__sh")),
        col("__sh"), capacity = 32768, k = 20)
        .orderBy("rank")
    },
      s"""WITH sh AS (SELECT doc_id,
        |    unnest(${graft.operators.Dedup.shinglesOracleSqlExpr("text", 3)}) AS s
        |  FROM documents),
        |c AS (SELECT s AS token, count(*) AS cnt FROM sh GROUP BY s)
        |SELECT CAST(row_number() OVER (ORDER BY cnt DESC, token) AS INT) AS rank,
        |  token, cnt
        |FROM c ORDER BY rank LIMIT 20""".stripMargin),

    // pipeline: per-language quality gate — keep docs strictly above the
    // language's median quality. The per-language medians are a
    // |langs|-row aggregate joined back (broadcast under AQE) — a
    // percentile window over the handful-of-values lang key would
    // funnel the corpus into |langs| tasks at scale.
    Q("q_quality_filter", (s, dir) => {
      val scored = table(s, dir, "documents").select(col("doc_id"),
        col("lang"), round(TextAnalysis.qualityScore(col("text")), 6).as("q"))
      val med = scored.groupBy(col("lang").as("__mlang"))
        .agg(expr("percentile(q, 0.5)").as("med"))
      scored.join(med, col("lang") <=> col("__mlang"), "left")
        .where(col("q") > col("med"))
        .select("doc_id", "lang").orderBy("doc_id")
    }, {
      val q = graft.operators.TextAnalysis.qualityOracleSqlExpr("text")
      s"""WITH s AS (SELECT doc_id, lang, round($q, 6) AS q FROM documents),
         |m AS (SELECT lang, quantile_cont(q, 0.5) AS med FROM s GROUP BY lang)
         |SELECT s.doc_id, s.lang FROM s JOIN m USING (lang)
         |WHERE s.q > m.med ORDER BY doc_id""".stripMargin
    }),

    // pipeline: PII scrub (emails/URLs/long digit runs → placeholders),
    // regexp chain mirrored verbatim in the oracle
    Q("q_scrub", (s, dir) => {
      table(s, dir, "documents")
        .select(col("doc_id"), TextAnalysis.scrubPii(col("text")).as("scrubbed"))
        .orderBy("doc_id")
    },
      s"""SELECT doc_id, ${TextAnalysis.scrubPiiOracleSqlExpr("text")} AS scrubbed
         |FROM documents ORDER BY doc_id""".stripMargin),

    // pipeline: document TF-IDF — two shuffles (tf groupBy, df groupBy),
    // vocab-sized join back; tfidf rounded to 6dp for cross-engine ln parity
    Q("q_tfidf", (s, dir) => {
      val docs = table(s, dir, "documents")
      TextAnalysis.tfidf(docs, "doc_id", "text", nDocs = docs.count())
        .select(col("doc_id"), col("token"), col("tf"), col("df"),
          round(col("tfidf"), 6).as("tfidf_r"))
        .orderBy("doc_id", "token")
    },
      """WITH tok AS (SELECT doc_id,
        |  unnest(list_filter(string_split_regex(lower(trim(text)), '\s+'),
        |    t -> len(t) > 0)) AS token FROM documents),
        |tf AS (SELECT doc_id, token, count(*) AS tf FROM tok GROUP BY doc_id, token),
        |dfreq AS (SELECT token, count(*) AS df FROM tf GROUP BY token),
        |n AS (SELECT count(*) AS n FROM documents)
        |SELECT doc_id, token, tf, df,
        |  round(tf * (ln((1 + n) / (1 + df)) + 1), 6) AS tfidf_r
        |FROM tf JOIN dfreq USING (token), n
        |ORDER BY doc_id, token""".stripMargin),

    // pipeline: RAG-style overlapping token chunking — 64-token windows
    // every 48 tokens, no shuffle (pure per-doc expansion)
    Q("q_chunks", (s, dir) => {
      TextAnalysis.chunkTokens(table(s, dir, "documents"),
          "doc_id", "text", chunkSize = 64, overlap = 16)
        .orderBy("doc_id", "chunk_idx")
    },
      """WITH d AS (SELECT doc_id,
        |  list_filter(string_split_regex(trim(text), '\s+'),
        |    t -> len(t) > 0) AS toks FROM documents),
        |f AS (SELECT doc_id, toks, CAST(len(toks) AS BIGINT) AS n FROM d
        |  WHERE len(toks) > 0),
        |s AS (SELECT doc_id, toks, n,
        |  unnest(generate_series(0, n - 1, 48)) AS st FROM f)
        |SELECT doc_id, st // 48 AS chunk_idx,
        |  array_to_string(list_slice(toks, st + 1, least(st + 64, n)), ' ')
        |    AS chunk_text,
        |  least(64, n - st) AS n_tokens
        |FROM s ORDER BY doc_id, chunk_idx""".stripMargin),

    // text analysis: token counts, BPE-ish estimate, md5 fingerprint,
    // n-gram language ID — all codegen'd expressions, no UDFs
    Q("q_text_stats", (s, dir) => {
      val docs = table(s, dir, "documents")
      docs.select(col("doc_id"),
        TextAnalysis.tokenCount(col("text")).as("n_tokens"),
        TextAnalysis.bpeishTokenCount(col("text")).as("n_bpeish"),
        TextAnalysis.fingerprint(col("text")).as("fp"),
        TextAnalysis.langId(col("text")).as("lang_pred"))
        .orderBy("doc_id")
    },
      s"""SELECT doc_id,
         | len(list_filter(string_split_regex(trim(text), '\\s+'), t -> len(t) > 0)) AS n_tokens,
         | len(regexp_extract_all(text, '\\w+|[^\\w\\s]')) AS n_bpeish,
         | md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS fp,
         | ${graft.operators.LangId.oracleSqlExpr("text")} AS lang_pred
         |FROM documents ORDER BY doc_id""".stripMargin),

    // language-ID eval: confusion matrix of the n-gram classifier
    // against the labeled lang column — the calibration artifact a
    // pipeline reviews before trusting the cheap classifier as a
    // filter; one map-side-combined |langs|² aggregate
    Q("q_lang_confusion", (s, dir) => {
      val docs = table(s, dir, "documents")
      docs.select(col("lang"),
          TextAnalysis.langId(col("text")).as("pred"))
        .groupBy("lang", "pred").agg(count(lit(1)).as("n"))
        .orderBy("lang", "pred")
    },
      s"""SELECT lang, ${graft.operators.LangId.oracleSqlExpr("text")} AS pred,
         | count(*) AS n
         |FROM documents GROUP BY 1, 2 ORDER BY lang, pred""".stripMargin),

    // DSIR importance weights (Xie et al. 2023): target = first 50 docs,
    // hashed unigram+bigram multinomials, nano-quantized log ratios —
    // oracle rebuilds both models and every per-doc integer sum
    Q("q_dsir", (s, dir) => {
      val docs = table(s, dir, "documents").select("doc_id", "text")
      val target = docs.where(col("doc_id") < 50)
      TextAnalysis.dsirWeights(docs, "doc_id", "text", target, "text",
        numBuckets = 1024)
        .select(col("doc_id"), col("n_feats"),
          round(col("log_weight"), 6).as("log_weight"))
        .orderBy("doc_id")
    }, {
      val sh1 = graft.operators.Dedup.shinglesAllOracleSqlExpr("text", 1)
      val sh2 = graft.operators.Dedup.shinglesAllOracleSqlExpr("text", 2)
      val B = 1024
      def bucket(g: String) =
        s"CAST(concat('0x', substr(md5($g), 1, 8)) AS BIGINT) % $B"
      s"""WITH buckets AS (SELECT unnest(range(0, $B)) AS b),
         |tgt AS (SELECT text FROM documents WHERE doc_id < 50),
         |tg AS (SELECT ${bucket("g")} AS b FROM
         |  (SELECT unnest(list_concat($sh1, $sh2)) AS g FROM tgt)),
         |tc AS (SELECT b, count(*) AS c FROM tg GROUP BY b),
         |ttot AS (SELECT count(*) AS tot FROM tg),
         |tm AS (SELECT b, CAST(floor(ln(
         |    (CAST(COALESCE(c, 0) AS DOUBLE) + 1.0) /
         |    (CAST(tot AS DOUBLE) + $B.0)) * 1e9) AS BIGINT) AS lt
         |  FROM buckets LEFT JOIN tc USING (b), ttot),
         |rg AS (SELECT ${bucket("g")} AS b FROM
         |  (SELECT unnest(list_concat($sh1, $sh2)) AS g FROM documents)),
         |rc AS (SELECT b, count(*) AS c FROM rg GROUP BY b),
         |rtot AS (SELECT count(*) AS tot FROM rg),
         |rm AS (SELECT b, CAST(floor(ln(
         |    (CAST(COALESCE(c, 0) AS DOUBLE) + 1.0) /
         |    (CAST(tot AS DOUBLE) + $B.0)) * 1e9) AS BIGINT) AS lr
         |  FROM buckets LEFT JOIN rc USING (b), rtot),
         |feats AS (SELECT doc_id, b, count(*) AS c FROM
         |  (SELECT doc_id, ${bucket("g")} AS b FROM
         |    (SELECT doc_id, unnest(list_concat($sh1, $sh2)) AS g
         |     FROM documents))
         |  GROUP BY doc_id, b)
         |SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_feats,
         |  round(CAST(sum(c * (lt - lr)) AS DOUBLE) / 1e9, 6) AS log_weight
         |FROM feats JOIN tm USING (b) JOIN rm USING (b)
         |GROUP BY doc_id ORDER BY doc_id""".stripMargin
    }),

    // Gopher-style repetition filters: duplicate / top word-2-gram
    // occupancy per doc (two hash aggs, no joins)
    Q("q_repetition", (s, dir) => {
      TextAnalysis.repetitionStats(table(s, dir, "documents"), "doc_id", "text", 2)
        .select(col("doc_id"), col("n_grams"), col("n_distinct"),
          round(col("dup_frac"), 6).as("dup_frac"),
          round(col("top_frac"), 6).as("top_frac"))
        .orderBy("doc_id")
    }, {
      val sh = graft.operators.Dedup.shinglesAllOracleSqlExpr("text", 2)
      s"""WITH g AS (SELECT doc_id, unnest($sh) AS gram FROM documents),
         |c AS (SELECT doc_id, gram, count(*) AS cnt FROM g GROUP BY 1, 2)
         |SELECT doc_id, CAST(sum(cnt) AS BIGINT) AS n_grams,
         | count(*) AS n_distinct,
         | round(1.0 - count(*) / sum(cnt), 6) AS dup_frac,
         | round(max(cnt) / sum(cnt), 6) AS top_frac
         |FROM c GROUP BY doc_id ORDER BY doc_id""".stripMargin
    }),

    // web-corpus markup extraction: HTML synthesized around each doc
    // (script/style/comment containers, attributes, entities), stripped
    // back to text by the RE2-compatible regex program mirrored verbatim
    // in the oracle
    Q("q_strip_markup", (s, dir) => {
      val html = concat(
        lit("<html><head><style>p { color: red }</style>" +
          "<script>if (x < 2 && y > 1) { alert(\"hi\"); }</script></head>" +
          "<body><p class=\"lead\">"),
        col("text"),
        lit("</p><!-- trailing comment --> Tom &amp; Jerry &lt;3 " +
          "&quot;quoted&quot;</body></html>"))
      table(s, dir, "documents")
        .select(col("doc_id"), TextAnalysis.stripMarkup(html).as("clean"))
        .orderBy("doc_id")
    }, {
      val strip = graft.operators.TextAnalysis.stripMarkupOracleSqlExpr("html")
      s"""WITH h AS (SELECT doc_id,
         |  concat('<html><head><style>p { color: red }</style>',
         |    '<script>if (x < 2 && y > 1) { alert("hi"); }</script></head>',
         |    '<body><p class="lead">', text,
         |    '</p><!-- trailing comment --> Tom &amp; Jerry &lt;3 ',
         |    '&quot;quoted&quot;</body></html>') AS html
         |  FROM documents)
         |SELECT doc_id, $strip AS clean FROM h ORDER BY doc_id""".stripMargin
    }),

    // unigram-LM quality signal: fit the corpus unigram model, score
    // every doc by mean token log-prob (nano-quantized integer sums —
    // order-independent, engine-exact; see TextAnalysis.unigramScore)
    Q("q_unigram_lm", (s, dir) => {
      val docs = table(s, dir, "documents").select("doc_id", "text")
      val model = TextAnalysis.unigramModel(docs, "text")
      TextAnalysis.unigramScore(docs, "doc_id", "text", model)
        .select(col("doc_id"), col("n_tokens"),
          round(col("logprob_mean"), 6).as("logprob_mean"))
        .orderBy("doc_id")
    }, {
      s"""WITH base AS (SELECT doc_id, text FROM documents),
         |${graft.operators.TextAnalysis.unigramScoreOracleSql}
         |ORDER BY doc_id""".stripMargin
    }),

    // bigram-LM fluency signal with stupid backoff (Brants et al. 2007):
    // model fit on the English sub-corpus, every doc scored — seen-bigram,
    // backoff-to-unigram and OOV branches all live; nano-quantized
    // integer sums keep the score engine-exact
    Q("q_bigram_lm", (s, dir) => {
      val docs = table(s, dir, "documents").select("doc_id", "text")
      val model = table(s, dir, "documents")
        .where(col("lang") === "en").select("text")
      TextAnalysis.stupidBackoffScore(docs, model, "doc_id", "text")
        .select(col("doc_id"), col("n_tokens"),
          round(col("logprob_mean"), 6).as("logprob_mean"))
        .orderBy("doc_id")
    }, {
      s"""WITH mbase AS (SELECT text FROM documents WHERE lang = 'en'),
         |base AS (SELECT doc_id, text FROM documents),
         |${graft.operators.TextAnalysis.stupidBackoffOracleSql()}
         |ORDER BY doc_id""".stripMargin
    }),

    // BM25 retrieval: postings-join shape (query terms join the (doc,
    // term, tf) relation — no doc × query cross product), nano-quantized
    // per-term scores so the per-(query, doc) sum is order-exact
    Q("q_bm25", (s, dir) => {
      val docs = table(s, dir, "documents").select("doc_id", "text")
      val queries = docs.where(col("doc_id") < 5)
      TextAnalysis.bm25(docs, "doc_id", "text",
        queries, "doc_id", "text", topK = 10)
        .select(col("query_id"), col("rank"), col("doc_id"),
          TextAnalysis.bm25Micro(col("bm25")).as("bm25"))
        .orderBy("query_id", "rank")
    }, {
      s"""WITH docs AS (SELECT doc_id, text FROM documents),
         |qs AS (SELECT doc_id, text FROM documents WHERE doc_id < 5),
         |${graft.operators.TextAnalysis.bm25OracleSql()}
         |ORDER BY query_id, rank""".stripMargin
    }),

    // the PERSISTED BM25 path — the sparse twin of q_neardup_indexed /
    // q_ivf_indexed: term-bucketed postings + one stats row built once,
    // then the query batch scores against the stored index with the
    // corpus side exchange-free (plan-asserted in TextStatsSpec).
    // Identical integers in, identical quantized arithmetic — the
    // single-shot q_bm25 oracle pins indexed ≡ single-shot bit for bit.
    Q("q_bm25_indexed", (s, dir) => {
      val docs = table(s, dir, "documents").select("doc_id", "text")
      // bucket count derives from the corpus size estimate (one bucket
      // per ~256 MB, min 4) — never a hardcoded layout constant that
      // fits only one scale; results are layout-independent
      TextAnalysis.buildBm25Index(docs, "doc_id", "text",
        "graft_bm25_idx", buckets = graft.operators.Bucketing.bucketsFor(docs))
      val queries = docs.where(col("doc_id") < 5)
      TextAnalysis.bm25AgainstIndex(s, "graft_bm25_idx",
        queries, "doc_id", "text", topK = 10)
        .select(col("query_id"), col("rank"), col("doc_id"),
          TextAnalysis.bm25Micro(col("bm25")).as("bm25"))
        .orderBy("query_id", "rank")
    }, {
      // indexed ≡ single-shot: the identical exhaustive oracle
      s"""WITH docs AS (SELECT doc_id, text FROM documents),
         |qs AS (SELECT doc_id, text FROM documents WHERE doc_id < 5),
         |${graft.operators.TextAnalysis.bm25OracleSql()}
         |ORDER BY query_id, rank""".stripMargin
    }),

    // INCREMENTAL index growth for the sparse index (the q_ivf_append
    // pattern): build the BM25 index on doc_id < 300, append the 300+
    // batch (postings into the term buckets, df MERGED, stats added),
    // then probe — exactness over old + new docs proves the merged df
    // and stats equal a from-scratch build (oracle = single-shot bm25
    // over the full corpus).
    Q("q_bm25_append", (s, dir) => {
      val docs = table(s, dir, "documents").select("doc_id", "text")
      // estimate-driven bucket count (see q_bm25_indexed) sized on the
      // full corpus the lifecycle will hold, not the bootstrap slice
      TextAnalysis.buildBm25Index(docs.where(col("doc_id") < 300),
        "doc_id", "text", "graft_bm25_app",
        buckets = graft.operators.Bucketing.bucketsFor(docs))
      TextAnalysis.appendToBm25Index(docs.where(col("doc_id") >= 300),
        "doc_id", "text", "graft_bm25_app")
      val queries = docs.where(col("doc_id") >= 5 && col("doc_id") < 10)
      TextAnalysis.bm25AgainstIndex(s, "graft_bm25_app",
        queries, "doc_id", "text", topK = 10)
        .select(col("query_id"), col("rank"), col("doc_id"),
          TextAnalysis.bm25Micro(col("bm25")).as("bm25"))
        .orderBy("query_id", "rank")
    }, {
      // append ≡ from-scratch: single-shot bm25 over the FULL corpus —
      // a hash match proves the merged df/stats are exact
      s"""WITH docs AS (SELECT doc_id, text FROM documents),
         |qs AS (SELECT doc_id, text FROM documents
         |       WHERE doc_id >= 5 AND doc_id < 10),
         |${graft.operators.TextAnalysis.bm25OracleSql()}
         |ORDER BY query_id, rank""".stripMargin
    }),

    // index MAINTENANCE for the sparse index — the lakehouse OPTIMIZE
    // step the append path accrues debt for: every appendToBm25Index
    // lands one more file per touched term bucket (per-file open cost
    // grows with crawl-append count, and >1 file per bucket demotes the
    // bucket SORT property on read). compactBucketed rewrites the
    // postings to ONE file per bucket; probing AFTER compaction against
    // the single-shot oracle proves compaction moved only the file
    // inventory, not a bit of the results.
    Q("q_bm25_compact", (s, dir) => {
      import graft.operators.Bucketing
      // corpus capped at 1k docs: the query's job is the LIFECYCLE
      // (build → append → compact → probe, three table-write cycles);
      // the build-cost scale slope is ScaleSweep bm25_build's job
      val docs = table(s, dir, "documents").select("doc_id", "text")
        .where(col("doc_id") < 1000)
      TextAnalysis.buildBm25Index(docs.where(col("doc_id") < 300),
        "doc_id", "text", "graft_bm25_cpt",
        buckets = graft.operators.Bucketing.bucketsFor(docs))
      TextAnalysis.appendToBm25Index(docs.where(col("doc_id") >= 300),
        "doc_id", "text", "graft_bm25_cpt")
      Bucketing.compactBucketed(s, "graft_bm25_cpt")
      val queries = docs.where(col("doc_id") >= 10 && col("doc_id") < 15)
      TextAnalysis.bm25AgainstIndex(s, "graft_bm25_cpt",
        queries, "doc_id", "text", topK = 10)
        .select(col("query_id"), col("rank"), col("doc_id"),
          TextAnalysis.bm25Micro(col("bm25")).as("bm25"))
        .orderBy("query_id", "rank")
    }, {
      // compaction moves only the file inventory: post-compact probe ≡
      // single-shot bm25 over the full corpus, bit for bit
      s"""WITH docs AS (SELECT doc_id, text FROM documents
         |      WHERE doc_id < 1000),
         |qs AS (SELECT doc_id, text FROM documents
         |       WHERE doc_id >= 10 AND doc_id < 15),
         |${graft.operators.TextAnalysis.bm25OracleSql()}
         |ORDER BY query_id, rank""".stripMargin
    }),

    // the FULL lakehouse lifecycle for the sparse index — build →
    // append → DELETE → compact → probe. Deletion is the direction
    // where global statistics can silently go stale: df must shrink by
    // exactly the deleted postings (terms whose postings all died
    // leave the vocabulary) and (n, tot) must subtract the deleted
    // docs' mass — the oracle is single-shot bm25 over the SURVIVING
    // corpus only, so any stale df/stat hash-fails the idf of every
    // query term it touches
    Q("q_bm25_delete", (s, dir) => {
      import graft.operators.Bucketing
      val docs = table(s, dir, "documents").select("doc_id", "text")
        .where(col("doc_id") < 1000)
      TextAnalysis.buildBm25Index(docs.where(col("doc_id") < 300),
        "doc_id", "text", "graft_bm25_del",
        buckets = graft.operators.Bucketing.bucketsFor(docs))
      TextAnalysis.appendToBm25Index(docs.where(col("doc_id") >= 300),
        "doc_id", "text", "graft_bm25_del")
      TextAnalysis.deleteFromBm25Index(s, "graft_bm25_del",
        docs.where(col("doc_id") % 7 === 0).select("doc_id"), "doc_id")
      Bucketing.compactBucketed(s, "graft_bm25_del")
      val queries = docs.where(col("doc_id") >= 15 && col("doc_id") < 20)
      TextAnalysis.bm25AgainstIndex(s, "graft_bm25_del",
        queries, "doc_id", "text", topK = 10)
        .select(col("query_id"), col("rank"), col("doc_id"),
          TextAnalysis.bm25Micro(col("bm25")).as("bm25"))
        .orderBy("query_id", "rank")
    }, {
      // delete ≡ never-ingested: single-shot bm25 over the SURVIVORS —
      // a hash match proves postings, df AND the (n, tot) stats all
      // shrank exactly (stale statistics would shift every idf)
      s"""WITH docs AS (SELECT doc_id, text FROM documents
         |      WHERE doc_id < 1000 AND doc_id % 7 <> 0),
         |qs AS (SELECT doc_id, text FROM documents
         |       WHERE doc_id >= 15 AND doc_id < 20),
         |${graft.operators.TextAnalysis.bm25OracleSql()}
         |ORDER BY query_id, rank""".stripMargin
    }),

    // per-doc token entropy (gibberish signal): order-exact quantized
    // sum over the per-doc token histogram
    Q("q_entropy", (s, dir) => {
      TextAnalysis.tokenEntropy(table(s, dir, "documents")
        .select("doc_id", "text"), "doc_id", "text")
        .select(col("doc_id"), col("n_tokens"),
          round(col("entropy"), 6).as("entropy"))
        .orderBy("doc_id")
    },
      """WITH tok AS (SELECT doc_id,
        |    unnest(list_filter(string_split_regex(trim(text), '\s+'),
        |                       w -> len(w) > 0)) AS t FROM documents),
        |tf AS (SELECT doc_id, t, count(*) AS c FROM tok GROUP BY doc_id, t),
        |tot AS (SELECT doc_id, sum(c) AS n FROM tf GROUP BY doc_id),
        |q AS (SELECT tf.doc_id,
        |    CAST(floor(-(CAST(c AS DOUBLE) / CAST(n AS DOUBLE)
        |        * ln(CAST(c AS DOUBLE) / CAST(n AS DOUBLE))) * 1e9) AS BIGINT) AS qv,
        |    n
        |  FROM tf JOIN tot USING (doc_id))
        |SELECT doc_id, CAST(max(n) AS BIGINT) AS n_tokens,
        |  round(CAST(sum(qv) AS DOUBLE) / 1e9, 6) AS entropy
        |FROM q GROUP BY doc_id ORDER BY doc_id""".stripMargin),

    // quality scoring (C4/Gopher-style cheap filters; oracle mirrors the
    // when-chains in SQL)
    Q("q_quality", (s, dir) => {
      val docs = table(s, dir, "documents")
      docs.select(col("doc_id"),
        round(TextAnalysis.qualityScore(col("text")), 6).as("quality"))
        .orderBy("doc_id")
    },
      s"""SELECT doc_id, round(${graft.operators.TextAnalysis.qualityOracleSqlExpr("text")}, 6) AS quality
         |FROM documents ORDER BY doc_id""".stripMargin),

    // Gopher hard-rejection rules (Rae et al. 2021 §A1.1): per-rule
    // boolean flags + conjunction; oracle shares tokenization, regex
    // programs and IEEE division via gopherOracleSqlExprs
    Q("q_gopher", (s, dir) => {
      TextAnalysis.gopherRules(
        table(s, dir, "documents").select("doc_id", "text"),
        "doc_id", "text")
        .select(col("doc_id"), col("n_words"),
          round(col("mean_word_len"), 6).as("mean_word_len"),
          round(col("symbol_ratio"), 6).as("symbol_ratio"),
          round(col("bullet_frac"), 6).as("bullet_frac"),
          round(col("ellipsis_frac"), 6).as("ellipsis_frac"),
          round(col("alpha_frac"), 6).as("alpha_frac"),
          col("stop_hits"), col("r_words"), col("r_mwl"), col("r_symbol"),
          col("r_bullet"), col("r_ellipsis"), col("r_alpha"),
          col("r_stops"), col("gopher_pass"))
        .orderBy("doc_id")
    }, {
      val exprs = graft.operators.TextAnalysis.gopherOracleSqlExprs("text")
      val sel = exprs.map { case (n, e) =>
        if (Set("mean_word_len", "symbol_ratio", "bullet_frac",
          "ellipsis_frac", "alpha_frac").contains(n)) s"round($e, 6) AS $n"
        else s"$e AS $n"
      }.mkString(",\n  ")
      s"SELECT doc_id,\n  $sel\nFROM documents ORDER BY doc_id"
    }),

    // Unicode script detection: shared literal BMP ranges → identical
    // counts; dominant script + scripted-char ratio
    Q("q_script", (s, dir) => {
      val docs = table(s, dir, "documents")
      docs.select(col("doc_id"),
        TextAnalysis.dominantScript(col("text")).as("script"),
        round(TextAnalysis.dominantScriptRatio(col("text")), 6)
          .as("script_ratio"))
        .orderBy("doc_id")
    }, {
      val (dom, ratio) = graft.operators.TextAnalysis.scriptOracleSqlExprs("text")
      s"SELECT doc_id, $dom AS script, round($ratio, 6) AS script_ratio " +
        "FROM documents ORDER BY doc_id"
    }),

    // text cleaning: control-char strip + whitespace collapse + trim
    Q("q_text_clean", (s, dir) => {
      val docs = table(s, dir, "documents")
      docs.select(col("doc_id"),
        length(TextAnalysis.cleanText(col("text"))).as("clean_len"),
        md5(TextAnalysis.cleanText(col("text"))).as("clean_md5"))
        .orderBy("doc_id")
    },
      """SELECT doc_id,
        | len(trim(regexp_replace(regexp_replace(text, '[\x00-\x1f\x7f]', ' ', 'g'),
        |   '\s+', ' ', 'g'))) AS clean_len,
        | md5(trim(regexp_replace(regexp_replace(text, '[\x00-\x1f\x7f]', ' ', 'g'),
        |   '\s+', ' ', 'g'))) AS clean_md5
        |FROM documents ORDER BY doc_id""".stripMargin),

    // Unicode NFC canonicalization (codegen'd native expression, ASCII
    // fast path): planted combining-mark + compatibility-singleton text
    // (e+U+0301, U+212B angstrom) must collapse to the precomposed forms
    Q("q_unicode_norm", (s, dir) => {
      val docs = table(s, dir, "documents").select("doc_id", "text")
      docs.select(col("doc_id"),
        TextAnalysis.unicodeNormalize(
          concat(col("text"), lit(" café Å naive"))).as("nfc"))
        .orderBy("doc_id")
    },
      s"""SELECT doc_id,
        |  nfc_normalize(text || ' café Å naive') AS nfc
        |FROM documents ORDER BY doc_id""".stripMargin),

    // vocabulary: corpus word-frequency table (explode + count)
    Q("q_word_freq", (s, dir) => {
      val docs = table(s, dir, "documents")
      docs.select(explode(TextAnalysis.tokens(lower(col("text")))).as("word"))
        .groupBy("word").agg(count(lit(1)).as("freq"))
        .orderBy(desc("freq"), col("word"))
        .limit(50)
    },
      """SELECT t.word, count(*) AS freq
        |FROM (SELECT unnest(list_filter(string_split_regex(trim(lower(text)), '\s+'),
        |        w -> len(w) > 0)) AS word FROM documents) t
        |GROUP BY t.word ORDER BY freq DESC, word LIMIT 50""".stripMargin),

    // crawl curation: URL canonicalization — scheme/host case, default vs
    // non-default ports, tracking-param strip + param sort, fragment drop,
    // path slash rules; plus host + eTLD+1 extraction. The UrlOps grammar
    // is mirrored regex-for-regex in the oracle.
    Q("q_url_norm", (s, dir) => {
      import graft.operators.UrlOps
      // normalizeUrl's regexp chain is the dominant per-row cost and
      // fuses into the single-row-group scan — spread the raw columns
      // first (identity at scale; Spread scaladoc)
      val ev = graft.operators.Spread.ifSmall(
        table(s, dir, "events").select("event_id", "user_id", "event_type"))
      val u = UrlOps.syntheticUrl(col("event_id"), col("user_id"), col("event_type"))
      // stage the raw URL string ONCE: normalizeUrl/hostOf/urlDomain
      // reference their input dozens of times, and a Column argument
      // embeds a COPY of the whole synthetic-url tree per reference —
      // the r13 plan showed one giant interpreted Project (whole-stage
      // codegen declined on size, so no subexpression elimination
      // either). Two projections keep the URL-build tree out of the
      // normalize chain: CollapseProject will not inline a non-cheap
      // alias referenced more than once, and the slimmer Project
      // codegens again (guide §1.2 per-task work / §4 codegen).
      ev.select(col("event_id"), u.as("__u"))
        .select(col("event_id"), UrlOps.normalizeUrl(col("__u")).as("url"),
          UrlOps.hostOf(col("__u")).as("host"),
          UrlOps.urlDomain(col("__u")).as("domain"))
        .orderBy("event_id")
    }, {
      import graft.operators.UrlOps
      s"""WITH u AS (SELECT event_id, ${UrlOps.syntheticUrlSqlExpr} AS raw FROM events)
         |SELECT event_id,
         |  ${UrlOps.normalizeUrlSqlExpr("raw")} AS url,
         |  ${UrlOps.hostSqlExpr("raw")} AS host,
         |  ${UrlOps.urlDomainSqlExpr("raw")} AS domain
         |FROM u ORDER BY event_id""".stripMargin
    }),

    // crawl curation: per-registered-domain stats after a domain blocklist
    // filter — one hash aggregate on eTLD+1 (map-side partials collapse it)
    Q("q_domain_stats", (s, dir) => {
      import graft.operators.UrlOps
      // normalizeUrl's regexp chain is the dominant per-row cost and
      // fuses into the single-row-group scan — spread the raw columns
      // first (identity at scale; Spread scaladoc)
      val ev = graft.operators.Spread.ifSmall(
        table(s, dir, "events").select("event_id", "user_id", "event_type"))
      val u = UrlOps.syntheticUrl(col("event_id"), col("user_id"), col("event_type"))
      val base = ev.select(u.as("url"), length(u).as("n_chars"))
      UrlOps.domainStats(
          UrlOps.filterBlockedDomains(base, "url", Seq("example.org")),
          "url", "n_chars")
        .orderBy("domain")
    }, {
      import graft.operators.UrlOps
      s"""WITH u AS (SELECT ${UrlOps.syntheticUrlSqlExpr} AS raw FROM events),
         |d AS (SELECT ${UrlOps.urlDomainSqlExpr("raw")} AS domain,
         |        len(raw) AS nc FROM u)
         |SELECT domain, count(*) AS n_docs, CAST(sum(nc) AS BIGINT) AS n_chars
         |FROM d WHERE NOT (domain IN ('example.org'))
         |GROUP BY domain ORDER BY domain""".stripMargin
    }),

    // crawl curation, PSL-exact leg: per-registered-domain stats where
    // eTLD+1 comes from the embedded public-suffix-list snapshot
    // (broadcast longest-match join — wildcard rules, exceptions,
    // public-suffix hosts with NO registered domain all exercised);
    // the oracle mirrors the same rules as a VALUES relation and the
    // same tail algebra, so PSL semantics are hash-verified
    Q("q_domain_stats2", (s, dir) => {
      import graft.operators.{PublicSuffix, UrlOps}
      val ev = table(s, dir, "events")
      val h = UrlOps.syntheticPslHost(col("event_id"), col("user_id"))
      val base = ev.select(h.as("host"), length(h).as("n_chars"))
      PublicSuffix.registeredDomainPsl(base, "host")
        .groupBy("domain")
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_chars").cast("long")).as("n_chars"))
        .orderBy("domain")
    }, {
      import graft.operators.{PublicSuffix, UrlOps}
      s"""WITH h AS (SELECT ${UrlOps.syntheticPslHostSqlExpr} AS host
         |  FROM events),
         |${PublicSuffix.registeredDomainPslOracleCtes("host", "h")},
         |d AS (SELECT r.domain, len(h.host) AS nc
         |  FROM h JOIN psl_reg r USING (host))
         |SELECT domain, count(*) AS n_docs, CAST(sum(nc) AS BIGINT) AS n_chars
         |FROM d GROUP BY domain ORDER BY domain""".stripMargin
    }),

    // crawl curation: anti-monoculture per-domain cap — at most N docs per
    // eTLD+1, chosen by the stable md5 pseudo-random order
    Q("q_domain_cap", (s, dir) => {
      import graft.operators.UrlOps
      val ev = table(s, dir, "events")
      val u = UrlOps.syntheticUrl(col("event_id"), col("user_id"), col("event_type"))
      val base = ev.select(col("event_id"), u.as("url"))
      UrlOps.perDomainCap(base, "url", "event_id", cap = 300)
        .select(UrlOps.urlDomain(col("url")).as("domain"), col("event_id"))
        .orderBy("domain", "event_id")
    }, {
      import graft.operators.UrlOps
      s"""WITH u AS (SELECT event_id, ${UrlOps.syntheticUrlSqlExpr} AS raw FROM events),
         |d AS (SELECT event_id, ${UrlOps.urlDomainSqlExpr("raw")} AS domain FROM u),
         |r AS (SELECT domain, event_id,
         |        row_number() OVER (PARTITION BY domain
         |          ORDER BY md5(CAST(event_id AS VARCHAR)), event_id) AS rn
         |      FROM d)
         |SELECT domain, event_id FROM r WHERE rn <= 300
         |ORDER BY domain, event_id""".stripMargin
    }),

    // phrase mining: corpus PMI collocations over adjacent token pairs
    // (Church–Hanks) — exact long counts, one mirrored double ln
    Q("q_pmi", (s, dir) => {
      TextAnalysis.pmiBigrams(
          table(s, dir, "documents").select("text"), "text", minCount = 5)
        .orderBy(desc("pmi"), col("w1"), col("w2"))
    }, {
      s"""WITH base AS (SELECT text FROM documents),
         |${graft.operators.TextAnalysis.pmiBigramsOracleCtes(minCount = 5)}
         |SELECT w1, w2, pair_cnt, pmi FROM scored
         |ORDER BY pmi DESC, w1, w2""".stripMargin
    }),

    // tokenizer training: BPE pair counting — the corpus collapses to a
    // distinct-word table once, then pair stats run on the vocabulary
    // (deterministic top-k: count desc, pair asc)
    Q("q_bpe_pairs", (s, dir) => {
      TextAnalysis.bpeTopPairs(table(s, dir, "documents"), "text", k = 40)
    },
      """WITH t AS (SELECT unnest(list_filter(
        |        string_split_regex(trim(lower(text)), '\s+'),
        |        w -> len(w) > 0)) AS w FROM documents),
        |f AS (SELECT w, count(*) AS freq FROM t GROUP BY w),
        |p AS (SELECT substring(w, i, 2) AS pair, freq FROM (
        |        SELECT w, freq, unnest(range(1, len(w))) AS i
        |        FROM f WHERE len(w) >= 2) s)
        |SELECT pair, CAST(sum(freq) AS BIGINT) AS cnt FROM p GROUP BY pair
        |ORDER BY cnt DESC, pair LIMIT 40""".stripMargin),

    // tokenizer application: encode docs with a learned BPE merge list —
    // merges apply in training order; the Spark replace chain and the
    // DuckDB oracle are generated from the same list
    Q("q_bpe_encode", (s, dir) => {
      val toks = graft.operators.TextAnalysis.bpeEncode(col("text"), BpeMerges)
      // the per-row merge-replace chain fuses into the one-row-group
      // scan — spread it first (identity at scale; Spread scaladoc)
      graft.operators.Spread.ifSmall(
          table(s, dir, "documents").select("doc_id", "text"))
        .select(col("doc_id"), size(toks).as("n_tokens"),
          array_join(slice(toks, 1, 12), " ").as("head_tokens"))
        .orderBy("doc_id")
    }, {
      val toks = graft.operators.TextAnalysis
        .bpeEncodeOracleSqlExpr("text", BpeMerges)
      s"""SELECT doc_id, len($toks) AS n_tokens,
         |  array_to_string(($toks)[1:12], ' ') AS head_tokens
         |FROM documents ORDER BY doc_id""".stripMargin
    }),

    // typed PII detection counts (emails / valid IPv4 / phones /
    // Luhn-validated card numbers) over documents with deterministic
    // planted PII — regex programs shared verbatim with the oracle,
    // Luhn replayed there as a list comprehension
    Q("q_pii", (s, dir) => {
      val docs = table(s, dir, "documents").select(col("doc_id"),
        when(col("doc_id") % 7 === 0,
            concat(col("text"),
              lit(" contact bob@example.com from 10.0.0.1")))
          .when(col("doc_id") % 11 === 0,
            concat(col("text"),
              lit(" card 4532015112830366 or call 415-555-2671")))
          .otherwise(col("text")).as("text"))
      TextAnalysis.piiReport(docs, "doc_id", "text")
        .select(col("doc_id"), col("n_email").cast("long").as("n_email"),
          col("n_ipv4").cast("long").as("n_ipv4"),
          col("n_phone").cast("long").as("n_phone"),
          col("n_card").cast("long").as("n_card"))
        .orderBy("doc_id")
    },
      PiiOracle),

    // "datasheets for datasets": the release-review one-pager over the
    // corpus — a global aggregate (counts, token mass, exact length
    // quantiles) plus the fingerprint-grouped duplicate-mass aggregate
    // (two passes over the base projection: the dup rate needs a
    // per-fingerprint groupBy that the one-row global agg can't ride),
    // stacked to long (metric, value) form
    Q("q_datasheet", (s, dir) => {
      val base = table(s, dir, "documents")
        .select(col("lang"), col("n_chars"),
          TextAnalysis.tokenCount(col("text")).cast("long").as("tk"),
          TextAnalysis.fingerprint(col("text")).as("fp"))
      val core = base.agg(
        count(lit(1)).cast("double").as("n_docs"),
        countDistinct(col("lang")).cast("double").as("n_langs"),
        sum(col("tk")).cast("double").as("total_tokens"),
        (sum(col("tk")).cast("double") / count(lit(1))).as("mean_tokens"),
        expr("percentile(n_chars, 0.5D)").as("p50_chars"),
        expr("percentile(n_chars, 0.95D)").as("p95_chars"))
      val dup = base.groupBy("fp").agg(count(lit(1)).as("c"))
        .agg(((sum(col("c")) - count(lit(1))).cast("double") /
          sum(col("c")).cast("double")).as("dup_rate"))
      core.crossJoin(broadcast(dup))
        .select(expr("""stack(7,
            'dup_rate', dup_rate, 'mean_tokens', mean_tokens,
            'n_docs', n_docs, 'n_langs', n_langs,
            'p50_chars', p50_chars, 'p95_chars', p95_chars,
            'total_tokens', total_tokens) AS (metric, value)"""))
        .select(col("metric"), round(col("value"), 6).as("value"))
        .orderBy("metric")
    },
      """WITH b AS (SELECT lang, n_chars,
        |    len(list_filter(string_split_regex(trim(text), '\s+'),
        |        w -> len(w) > 0)) AS tk,
        |    md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fp
        |  FROM documents),
        |core AS (SELECT CAST(count(*) AS DOUBLE) AS n_docs,
        |    CAST(count(DISTINCT lang) AS DOUBLE) AS n_langs,
        |    CAST(sum(tk) AS DOUBLE) AS total_tokens,
        |    CAST(sum(tk) AS DOUBLE) / count(*) AS mean_tokens,
        |    quantile_cont(n_chars, 0.5) AS p50_chars,
        |    quantile_cont(n_chars, 0.95) AS p95_chars FROM b),
        |dup AS (SELECT CAST(sum(c) - count(*) AS DOUBLE) / sum(c)
        |    AS dup_rate
        |  FROM (SELECT fp, count(*) AS c FROM b GROUP BY fp))
        |SELECT metric, round(value, 6) AS value FROM (
        |  SELECT 'dup_rate' AS metric, dup_rate AS value FROM dup
        |  UNION ALL SELECT 'mean_tokens', mean_tokens FROM core
        |  UNION ALL SELECT 'n_docs', n_docs FROM core
        |  UNION ALL SELECT 'n_langs', n_langs FROM core
        |  UNION ALL SELECT 'p50_chars', p50_chars FROM core
        |  UNION ALL SELECT 'p95_chars', p95_chars FROM core
        |  UNION ALL SELECT 'total_tokens', total_tokens FROM core)
        |ORDER BY metric""".stripMargin),

    // in-engine model-based filtering: multinomial Naive Bayes trained
    // on the even-doc half (label = lang), classifying the odd half —
    // pure integer counting to train, nano-quantized long sums to
    // score, min-label argmax tie-break; output = confusion matrix
    Q("q_nb", (s, dir) => {
      val docs = table(s, dir, "documents").where(col("lang").isNotNull)
      val tr = docs.where(col("doc_id") % 2 === 0)
        .select(col("lang").as("label"), col("text"))
      val te = docs.where(col("doc_id") % 2 === 1)
        .select(col("doc_id"), col("lang"), col("text"))
      val model = TextAnalysis.nbTrain(tr, "label", "text")
      TextAnalysis.nbClassify(te, "doc_id", "text", model)
        .join(te.select(col("doc_id"), col("lang")), "doc_id")
        .groupBy(col("lang"), col("pred")).agg(count(lit(1)).as("n"))
        .orderBy("lang", "pred")
    },
      s"""WITH d AS (SELECT * FROM documents WHERE lang IS NOT NULL),
         |tr AS (SELECT lang AS label, text FROM d WHERE doc_id % 2 = 0),
         |te AS (SELECT doc_id, lang, text FROM d WHERE doc_id % 2 = 1),
         |${graft.operators.TextAnalysis.nbOracleSql}
         |SELECT te.lang, pred.pred, count(*) AS n
         |FROM pred JOIN te USING (doc_id)
         |GROUP BY te.lang, pred.pred ORDER BY lang, pred""".stripMargin),

    // the CCNet-style perplexity filter: interpolated Kneser-Ney bigram
    // LM trained on the even-doc half, scoring the odd half — integer
    // count model relations (broadcast), closed-form per-bigram
    // probability, nano-quantized per-doc fold
    Q("q_kn_lm", (s, dir) => {
      val docs = table(s, dir, "documents")
      TextAnalysis.kneserNeyScore(
        docs.where(col("doc_id") % 2 === 1).select(col("doc_id"), col("text")),
        docs.where(col("doc_id") % 2 === 0).select(col("text")),
        "doc_id", "text", discount = 0.75)
        .select(col("doc_id"), col("n_bigrams"),
          round(col("logprob"), 9).as("logprob"),
          round(col("ppl"), 6).as("ppl"))
        .orderBy("doc_id")
    },
      s"""WITH tr AS (SELECT text FROM documents WHERE doc_id % 2 = 0),
         |te AS (SELECT doc_id, text FROM documents WHERE doc_id % 2 = 1),
         |${graft.operators.TextAnalysis.knOracleSql(discount = 0.75)}
         |SELECT doc_id, n_bigrams, round(logprob, 9) AS logprob,
         |  round(ppl, 6) AS ppl
         |FROM kn ORDER BY doc_id""".stripMargin),

    // feature selection / domain signatures: top-10 tokens per language
    // by 2x2 presence chi-square — integer contingency cells, one
    // closed-form IEEE chi2 per (token, label), bit-identical ranking
    Q("q_chi2_tokens", (s, dir) => {
      val docs = table(s, dir, "documents").where(col("lang").isNotNull)
      TextAnalysis.chiSquareTokens(docs, "doc_id", "lang", "text",
        minDf = 5L, topK = 10)
        .select(col("label"), col("rank"), col("token"),
          col("n_label_token"), round(col("chi2"), 6).as("chi2"))
        .orderBy("label", "rank")
    },
      s"""WITH d AS (SELECT doc_id AS did, lang AS label, text
         |  FROM documents WHERE lang IS NOT NULL),
         |${graft.operators.TextAnalysis.chiSquareOracleSql("d", minDf = 5L)}
         |SELECT label, rank, token, n_label_token,
         |  round(chi2, 6) AS chi2
         |FROM ranked WHERE rank <= 10 ORDER BY label, rank""".stripMargin),

    // corpus-shift readout: Jensen-Shannon divergence between the
    // even- and odd-doc unigram distributions — nano-quantized per-token
    // contributions, exact long fold over the union vocabulary
    Q("q_jsd", (s, dir) => {
      val docs = table(s, dir, "documents")
      TextAnalysis.jsDivergence(
        docs.where(col("doc_id") % 2 === 0),
        docs.where(col("doc_id") % 2 === 1), "text")
        .select(col("vocab"), col("tokens_a"), col("tokens_b"),
          round(col("jsd"), 9).as("jsd"))
    },
      s"""WITH toksrc AS (SELECT doc_id,
         |    unnest(list_filter(string_split_regex(trim(text), '\\s+'),
         |      w -> len(w) > 0)) AS t
         |  FROM documents),
         |ca AS (SELECT t, CAST(count(*) AS BIGINT) AS ca
         |  FROM toksrc WHERE doc_id % 2 = 0 GROUP BY t),
         |cb AS (SELECT t, CAST(count(*) AS BIGINT) AS cb
         |  FROM toksrc WHERE doc_id % 2 = 1 GROUP BY t),
         |${graft.operators.TextAnalysis.jsdOracleSql}
         |SELECT vocab, tokens_a, tokens_b, round(jsd, 9) AS jsd
         |FROM jsd""".stripMargin),

    // Flesch reading-ease per doc: map-only codegen'd scan with
    // deterministic sentence/syllable proxies shared with the oracle
    Q("q_readability", (s, dir) => {
      TextAnalysis.readability(table(s, dir, "documents"), "doc_id",
          "text")
        .select(col("doc_id"), col("words"), col("sentences"),
          col("syllables"), round(col("flesch"), 6).as("flesch"))
        .orderBy("doc_id")
    },
      s"""SELECT doc_id, words, sentences, syllables,
         |  round(flesch, 6) AS flesch FROM (
         |${TextAnalysis.readabilityOracleSql("doc_id", "text",
             "documents")}
         |) ORDER BY doc_id""".stripMargin),

    // tokenizer fertility by language: chars/token + bytes/char — the
    // multilingual budget planner's per-script signal, ONE integer agg
    Q("q_fertility", (s, dir) => {
      TextAnalysis.fertilityByLang(table(s, dir, "documents"), "lang",
          "text")
        .select(col("lang"), col("n_docs"), col("tokens"), col("chars"),
          col("bytes"), round(col("chars_per_token"), 9).as("chars_per_token"),
          round(col("bytes_per_char"), 9).as("bytes_per_char"))
        .orderBy("lang")
    },
      s"""SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(sum(tok) AS BIGINT) AS tokens,
         |  CAST(sum(ch) AS BIGINT) AS chars,
         |  CAST(sum(byt) AS BIGINT) AS bytes,
         |  round(CAST(sum(ch) AS DOUBLE) /
         |    CAST(greatest(sum(tok), 1) AS DOUBLE), 9) AS chars_per_token,
         |  round(CAST(sum(byt) AS DOUBLE) /
         |    CAST(greatest(sum(ch), 1) AS DOUBLE), 9) AS bytes_per_char
         |FROM (SELECT lang,
         |        CAST(len(list_filter(string_split_regex(trim(text),
         |          '\\s+'), w -> len(w) > 0)) AS BIGINT) AS tok,
         |        CAST(length(text) AS BIGINT) AS ch,
         |        CAST(octet_length(CAST(text AS BLOB)) AS BIGINT) AS byt
         |      FROM documents)
         |GROUP BY lang ORDER BY lang""".stripMargin),

    // trigram type-token ratio per source: the templatedness /
    // boilerplate-share signal (exact distinct; HLL seam at 100 TB)
    Q("q_ngram_diversity", (s, dir) => {
      TextAnalysis.ngramDiversity(table(s, dir, "documents"), "source",
          "text", n = 3)
        .select(col("source"), col("n_ngrams"), col("n_distinct"),
          round(col("ttr"), 9).as("ttr"))
        .orderBy("source")
    },
      s"""SELECT source, n_ngrams, n_distinct, round(ttr, 9) AS ttr
         |FROM (
         |${TextAnalysis.ngramDiversityOracleSql("source", "text",
             "documents", n = 3)}
         |) ORDER BY source""".stripMargin),

    // the 100 TB seam of q_ngram_diversity as an executable contract:
    // exact distinct (oracled exactly) + the HLL
    // (approx_count_distinct) count-within-tolerance claim the oracle
    // asserts TRUE — the q_approx_distinct honesty pattern
    Q("q_ngram_diversity_approx", (s, dir) => {
      val docs = table(s, dir, "documents")
      val exact = TextAnalysis.ngramDiversity(docs, "source", "text", n = 3)
      val approx = TextAnalysis.ngramDiversity(docs, "source", "text",
          n = 3, approxRsd = Some(0.02))
        .select(col("source"), col("n_distinct").as("__ad"))
      exact.join(approx, Seq("source"))
        .select(col("source"), col("n_ngrams"), col("n_distinct"),
          round(col("ttr"), 9).as("ttr"),
          (abs(col("__ad") - col("n_distinct")) <=
            col("n_distinct") * 0.05 + lit(5L)).as("approx_ok"))
        .orderBy("source")
    },
      // exact side identical to q_ngram_diversity; the HLL claim is
      // Spark's to prove (oracle asserts it TRUE)
      s"""SELECT source, n_ngrams, n_distinct, round(ttr, 9) AS ttr,
         |  TRUE AS approx_ok
         |FROM (
         |${TextAnalysis.ngramDiversityOracleSql("source", "text",
             "documents", n = 3)}
         |) ORDER BY source""".stripMargin)
  )
}
