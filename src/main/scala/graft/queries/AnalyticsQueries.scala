package graft
package queries

import org.apache.spark.sql.{DataFrame => SDF, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.{AsOfJoin, Dedup, Privacy, Profile, RangeJoin,
  Sampling, ShardPack, SkewJoin, TextAnalysis, WindowOps}
import org.apache.spark.sql.types.DecimalType

import Glue._

/** Query records of the analytics: windows, eval, profile, sampling, drift,
  * privacy, joins and the other tabular operator modules. */
object AnalyticsQueries {

  /** Synthetic classifier (score, label) over documents — ONE
    * definition shared by q_calibration, q_gains, and q_gini, whose
    * gates all assume "same synthesis" (q_gini must band exactly
    * q_gains' input). Rows with NULL n_chars or lang are excluded HERE
    * so the Spark side and the oracle CTEs drop the same rows — the
    * downstream operators' own NULL filters would otherwise disagree
    * with an unguarded oracle synthesis. */
  private def scoredDocs(s: SparkSession, dir: String): SDF =
    table(s, dir, "documents")
      .where(col("n_chars").isNotNull && col("lang").isNotNull)
      .select((col("n_chars") % 1000).cast("double").divide(1000.0)
          .as("score"),
        (col("lang") === "en").as("label"))

  /** The q_gains banding CTEs (score synthesis → quantile edges →
    * strictly-above bands → cumulative/total sums, ending at CTE `f`),
    * shared by the q_gains and q_gini oracles. */
  private val GainsBandsCtes: String =
    """r AS (SELECT CAST(n_chars % 1000 AS DOUBLE) / 1000.0 AS s,
      |    CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y FROM documents
      |    WHERE n_chars IS NOT NULL AND lang IS NOT NULL),
      |c AS (SELECT quantile_cont(s, 0.1) AS c0, quantile_cont(s, 0.2) AS c1,
      |    quantile_cont(s, 0.3) AS c2, quantile_cont(s, 0.4) AS c3,
      |    quantile_cont(s, 0.5) AS c4, quantile_cont(s, 0.6) AS c5,
      |    quantile_cont(s, 0.7) AS c6, quantile_cont(s, 0.8) AS c7,
      |    quantile_cont(s, 0.9) AS c8 FROM r),
      |b AS (SELECT 11 - (1
      |    + (CASE WHEN s > c0 THEN 1 ELSE 0 END)
      |    + (CASE WHEN s > c1 THEN 1 ELSE 0 END)
      |    + (CASE WHEN s > c2 THEN 1 ELSE 0 END)
      |    + (CASE WHEN s > c3 THEN 1 ELSE 0 END)
      |    + (CASE WHEN s > c4 THEN 1 ELSE 0 END)
      |    + (CASE WHEN s > c5 THEN 1 ELSE 0 END)
      |    + (CASE WHEN s > c6 THEN 1 ELSE 0 END)
      |    + (CASE WHEN s > c7 THEN 1 ELSE 0 END)
      |    + (CASE WHEN s > c8 THEN 1 ELSE 0 END)) AS bucket, y
      |  FROM r, c),
      |a AS (SELECT bucket, count(*) AS n, CAST(sum(y) AS BIGINT) AS n_pos
      |  FROM b GROUP BY 1),
      |f AS (SELECT bucket, n, n_pos,
      |    CAST(sum(n) OVER w AS BIGINT) AS cum_n,
      |    CAST(sum(n_pos) OVER w AS BIGINT) AS cum_pos,
      |    CAST(sum(n) OVER () AS BIGINT) AS tn,
      |    CAST(sum(n_pos) OVER () AS BIGINT) AS tp
      |  FROM a WINDOW w AS (ORDER BY bucket
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))""".stripMargin

  val all: Seq[Q] = Seq(
    // pipeline: per-group z-score feature scaling — decimal-exact moments
    // over ONE unordered window, doubles only at the final arithmetic
    Q("q_zscore", (s, dir) => {
      WindowOps.zscore(table(s, dir, "orders"), Seq("o_orderpriority"),
          "o_totalprice")
        .select(col("o_orderkey"), round(col("z"), 6).as("z"))
        .orderBy("o_orderkey")
    },
      """WITH a AS (SELECT o_orderkey, o_totalprice,
        |  count(*) OVER w AS n,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) OVER w AS DOUBLE) AS s1,
        |  CAST(sum(CAST(o_totalprice * o_totalprice AS DECIMAL(38,8)))
        |    OVER w AS DOUBLE) AS s2
        |  FROM orders WINDOW w AS (PARTITION BY o_orderpriority))
        |SELECT o_orderkey,
        |  CASE WHEN n >= 2
        |      AND (s2 - (s1 / n) * (s1 / n) * n) / (n - 1) > 0 THEN
        |    round((o_totalprice - s1 / n) /
        |      sqrt((s2 - (s1 / n) * (s1 / n) * n) / (n - 1)), 6)
        |  END AS z
        |FROM a ORDER BY o_orderkey""".stripMargin),

    // robust (median/MAD) standardization — the outlier-resistant gate;
    // exact percentiles make it engine-exact (quantile parity proven by
    // q_group_quantile); MAD = 0 groups yield NULL, not ±Inf
    Q("q_robust_z", (s, dir) => {
      WindowOps.robustZScore(table(s, dir, "orders")
        .select("o_orderkey", "o_orderpriority", "o_totalprice"),
        Seq("o_orderpriority"), "o_totalprice")
        .select(col("o_orderkey"), round(col("robust_z"), 9).as("robust_z"))
        .orderBy("o_orderkey")
    },
      """WITH m AS (SELECT o_orderpriority,
        |    quantile_cont(CAST(o_totalprice AS DOUBLE), 0.5) AS med
        |  FROM orders GROUP BY 1),
        |w AS (SELECT o_orderkey, o_orderpriority,
        |    CAST(o_totalprice AS DOUBLE) AS x, med
        |  FROM orders JOIN m USING (o_orderpriority)),
        |d AS (SELECT o_orderpriority, quantile_cont(abs(x - med), 0.5) AS mad
        |  FROM w GROUP BY 1)
        |SELECT o_orderkey,
        |  CASE WHEN mad = 0.0 THEN NULL
        |       ELSE round((x - med) / (1.4826 * mad), 9) END AS robust_z
        |FROM w JOIN d USING (o_orderpriority) ORDER BY o_orderkey""".stripMargin),

    // the approx seam contract for robustZScore (q_outliers_approx's
    // pattern): the bounded-memory GK-sketch twin (percentile_approx in
    // BOTH median passes) must land every row's robust z within
    // tolerance of the exact-percentile z — NULL classes (MAD = 0
    // groups) must agree too. The oracle recomputes the group sizes and
    // pins approx_ok TRUE, so the documented 100 TB sketch swap is an
    // executable claim, not a doc sentence
    Q("q_robust_z_approx", (s, dir) => {
      val base = table(s, dir, "orders")
        .select("o_orderkey", "o_orderpriority", "o_totalprice")
      val exact = WindowOps.robustZScore(base, Seq("o_orderpriority"),
        "o_totalprice")
      val approx = WindowOps.robustZScore(base, Seq("o_orderpriority"),
          "o_totalprice", approxAccuracy = Some(10000))
        .select(col("o_orderkey"), col("robust_z").as("__az"))
      exact.join(approx, Seq("o_orderkey"))
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n"),
          (min(when(
            (col("robust_z").isNull && col("__az").isNull) ||
              abs(col("__az") - col("robust_z")) <=
                lit(0.02) * (abs(col("robust_z")) + lit(1.0)),
            1).otherwise(0)) === 1).as("approx_ok"))
        .orderBy("o_orderpriority")
    },
      // group sizes recomputed; the per-row within-tolerance claim is
      // Spark's to prove (oracle pins approx_ok TRUE)
      """SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n,
        |  TRUE AS approx_ok
        |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin),

    // Count–Min frequency sketch honesty check: ONE fixed 2048×4 counter
    // array summarizes the whole user_id stream (64 KB on the wire,
    // independent of cardinality), probed for the exact top-20 users.
    // The oracle asserts the one-sided guarantee est ≥ exact and the
    // ε·N width bound (est ≤ exact + 4N/width, deterministic for the
    // fixed murmur3 row seeds) — both spelled TRUE in the oracle
    Q("q_cm_freq", (s, dir) => {
      import graft.functions.CountMin
      val ev = table(s, dir, "events")
      val sk = ev.agg(CountMin(col("user_id").cast("string")).as("sk"),
        count(lit(1)).as("__n"))
      val top = ev.groupBy("user_id").agg(count(lit(1)).as("n_exact"))
        .orderBy(desc("n_exact"), col("user_id")).limit(20)
      val est = CountMin.estimate(col("sk"), col("user_id").cast("string"))
      top.crossJoin(broadcast(sk))
        .select(col("user_id"), col("n_exact"),
          (est >= col("n_exact") && est <= col("n_exact") +
            ceil(lit(4.0) * col("__n") / lit(CountMin.DefaultWidth)).cast("long"))
            .as("cm_ok"))
        .orderBy(desc("n_exact"), col("user_id"))
    },
      """WITH c AS (SELECT user_id, count(*) AS n_exact FROM events GROUP BY user_id)
        |SELECT user_id, n_exact, TRUE AS cm_ok FROM c
        |ORDER BY n_exact DESC, user_id LIMIT 20""".stripMargin),

    // pipeline: deterministic weighted sampling (A-ES keys from md5
    // uniforms) — price-weighted top-100 orders, reproducible anywhere
    Q("q_weighted_sample", (s, dir) => {
      Sampling.weighted(table(s, dir, "orders"), "o_orderkey",
          "o_totalprice", k = 100)
        .select("o_orderkey", "o_totalprice")
        .orderBy("o_orderkey")
    },
      """WITH w AS (SELECT o_orderkey, o_totalprice,
        |  ln((('0x' || substring(md5(CAST(o_orderkey AS VARCHAR)), 1, 8))::UBIGINT + 1.0)
        |     / 4294967297.0) / o_totalprice AS wkey
        |  FROM orders)
        |SELECT o_orderkey, o_totalprice FROM
        |  (SELECT * FROM w ORDER BY wkey DESC, o_orderkey LIMIT 100) t
        |ORDER BY o_orderkey""".stripMargin),

    // extension: rolling sum/min/max over a 5-row trailing window — all
    // three share one (user_id) shuffle (single Window node); sum goes
    // through decimal for engine-exact accumulation
    Q("q_rolling", (s, dir) => {
      val ev = table(s, dir, "events")
        .withColumn("vd", col("value").cast(DecimalType(18, 6)))
      val part = Seq("user_id"); val ord = Seq("ts", "event_id")
      val out = Seq(
        (d: SDF) => WindowOps.rollingAgg(d, part, ord, sum(col("vd")), 5, "rsum"),
        (d: SDF) => WindowOps.rollingAgg(d, part, ord, min(col("value")), 5, "rmin"),
        (d: SDF) => WindowOps.rollingAgg(d, part, ord, max(col("value")), 5, "rmax"))
        .foldLeft(ev)((d, f) => f(d))
      out.select(col("event_id"), col("rsum").cast("double").as("rsum"),
          col("rmin"), col("rmax"))
        .orderBy("event_id")
    },
      """SELECT event_id,
        | CAST(sum(CAST(value AS DECIMAL(18,6))) OVER w AS DOUBLE) AS rsum,
        | min(value) OVER w AS rmin,
        | max(value) OVER w AS rmax
        |FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
        |  ROWS BETWEEN 4 PRECEDING AND CURRENT ROW)
        |ORDER BY event_id""".stripMargin),

    // pipeline: batch sessionization — gap flag + running sum, one shuffle;
    // integer nanos so the session ids are engine-exact
    // one-pass data-quality profile (nulls / exact distincts / min / max
    // per column, long format) over integer+string event columns
    Q("q_profile", (s, dir) => {
      graft.operators.Profile.profile(table(s, dir, "events"),
        Seq("event_id", "user_id", "event_type"))
        .orderBy("col_name")
    }, {
      s"""SELECT * FROM (
         |${graft.operators.Profile.profileOracleSql("events",
        Seq("event_id", "user_id", "event_type"))}
         |) ORDER BY col_name""".stripMargin
    }),

    // weekly cohort retention triangle: users bucketed by first-event
    // week, counted per (cohort, weeks-since) — integer DIV time math
    // end to end (µs base)
    Q("q_cohort", (s, dir) => {
      val ev = eventsMicros(s, dir)
      WindowOps.cohortRetention(ev, "user_id", "tsu",
        period = 7L * 86400L * 1000000L)
        .orderBy("cohort", "age")
    },
      """WITH p AS (SELECT user_id AS u,
        |             epoch_us(ts) // 604800000000 AS p FROM events),
        |f AS (SELECT u, min(p) AS cohort FROM p GROUP BY u),
        |a AS (SELECT DISTINCT p.u, f.cohort, p.p - f.cohort AS age
        |      FROM p JOIN f USING (u))
        |SELECT cohort, age, count(*) AS n_users FROM a
        |GROUP BY cohort, age ORDER BY cohort, age""".stripMargin),

    // ordered-sequence conversion funnel view → click → purchase: each
    // step counts only users whose earliest step-i completion precedes
    // it strictly (µs time base; k min-ts aggregates + k-1 user joins)
    Q("q_funnel", (s, dir) => {
      val ev = eventsMicros(s, dir)
      WindowOps.funnel(ev, "user_id", "event_type", "tsu",
        Seq("view", "click", "purchase"))
        .orderBy("step")
    },
      // ONE recursive min chain serves both funnel gates — the stream
      // funnel's distinct-keys-per-step IS the batch funnel count
      funnelOracleSql),

    Q("q_sessions", (s, dir) => {
      // µs granularity via exact integer division (DuckDB reads the ns
      // timestamps truncated to µs; double division would lose precision
      // at 2^60-scale nanos)
      val ev = eventsMicros(s, dir)
      val sess = WindowOps.sessionIds(ev,
        Seq("user_id"), Seq("tsu", "event_id"), "tsu",
        gap = 1800L * 1000000L)
      sess.groupBy("user_id", "session")
        .agg(count(lit(1)).as("n_events"),
          (max("tsu") - min("tsu")).as("dur_us"))
        .orderBy("user_id", "session")
    },
      """WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS tsu FROM events),
        |f AS (SELECT user_id, event_id, tsu,
        |  CASE WHEN lag(tsu) OVER w IS NULL OR tsu - lag(tsu) OVER w > 1800000000
        |       THEN 1 ELSE 0 END AS nf
        |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY tsu, event_id)),
        |s AS (SELECT user_id, tsu,
        |  CAST(sum(nf) OVER (PARTITION BY user_id ORDER BY tsu, event_id
        |    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session FROM f)
        |SELECT user_id, session, count(*) AS n_events,
        |  max(tsu) - min(tsu) AS dur_us
        |FROM s GROUP BY user_id, session
        |ORDER BY user_id, session""".stripMargin),

    // differential skew salting: 70% of lineitem rows pile onto key 0;
    // the MG pre-pass detects it, salts ONLY that key (build side
    // replicates factor× just for the hot set) — result must equal the
    // plain inner join, which IS the oracle
    Q("q_skew_join_auto", (s, dir) => {
      val li = table(s, dir, "lineitem")
      val left = li.select(col("l_orderkey"), col("l_linenumber"),
        col("l_quantity"),
        when(pmod(col("l_orderkey"), lit(10)) < 7, lit(0L))
          .otherwise(pmod(col("l_orderkey"), lit(1000))).as("k"))
      val right = li
        .select(pmod(col("l_orderkey"), lit(1000)).as("k")).distinct()
        .select(col("k"), (col("k") * 7).as("payload"))
      SkewJoin.saltedJoinAuto(left, right, "k",
        factor = 8, hotThreshold = 1000L)
        .select("k", "l_orderkey", "l_linenumber", "l_quantity", "payload")
        .orderBy("l_orderkey", "l_linenumber")
    },
      """WITH l AS (SELECT l_orderkey, l_linenumber, l_quantity,
        |  CASE WHEN l_orderkey % 10 < 7 THEN 0 ELSE l_orderkey % 1000 END AS k
        |  FROM lineitem),
        |r AS (SELECT k, k * 7 AS payload
        |  FROM (SELECT DISTINCT l_orderkey % 1000 AS k FROM lineitem))
        |SELECT l.k, l_orderkey, l_linenumber, l_quantity, payload
        |FROM l JOIN r ON l.k = r.k
        |ORDER BY l_orderkey, l_linenumber""".stripMargin),

    // leakage-safe split over the same planted-dup corpus as
    // q_dup_clusters: each near-dup cluster rides ONE md5(group-key)
    // draw, so duplicates can never straddle train/test
    Q("q_leak_split", (s, dir) => {
      val docs = table(s, dir, "documents").select("doc_id", "text")
      val copy1 = docs.where(col("doc_id") < 20)
        .select((col("doc_id") + 100000).as("doc_id"), col("text"))
      val copy2 = docs.where(col("doc_id") < 10)
        .select((col("doc_id") + 200000).as("doc_id"), col("text"))
      val all = docs.unionAll(copy1).unionAll(copy2)
      val pairs = Dedup.exactTextPairs(all, "text", "doc_id")
      Sampling.leakageSafeSplit(all.select("doc_id"), "doc_id",
        pairs, "id_l", "id_r",
        Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
        .orderBy("doc_id")
    },
      """WITH RECURSIVE all_docs AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL SELECT doc_id + 100000, text FROM documents WHERE doc_id < 20
        |  UNION ALL SELECT doc_id + 200000, text FROM documents WHERE doc_id < 10),
        |fp AS (SELECT doc_id,
        |  md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fp
        |  FROM all_docs),
        |edges AS (SELECT a.doc_id AS src, b.doc_id AS dst
        |  FROM fp a JOIN fp b ON a.fp = b.fp AND a.doc_id <> b.doc_id),
        |reach AS (
        |  SELECT DISTINCT src AS node, src AS label FROM edges
        |  UNION
        |  SELECT e.dst, r.label FROM reach r JOIN edges e ON e.src = r.node),
        |cc AS (SELECT node, min(label) AS label FROM reach GROUP BY node),
        |keyed AS (SELECT d.doc_id, COALESCE(cc.label, d.doc_id) AS gkey
        |  FROM all_docs d LEFT JOIN cc ON d.doc_id = cc.node)
        |SELECT doc_id,
        |CASE
        | WHEN ('0x' || substring(md5(CAST(gkey AS VARCHAR)), 1, 8))::UBIGINT
        |      / 4294967296.0 < CAST(0.8 AS DOUBLE) THEN 'train'
        | WHEN ('0x' || substring(md5(CAST(gkey AS VARCHAR)), 1, 8))::UBIGINT
        |      / 4294967296.0 < CAST(0.9 AS DOUBLE) THEN 'val'
        | ELSE 'test' END AS split
        |FROM keyed ORDER BY doc_id""".stripMargin),

    // leakage-safe k-fold CV assignment: near-dup clusters ride one
    // md5 residue so copies never straddle folds (q_leak_split's CC
    // machinery with fold = hash mod k)
    Q("q_kfold", (s, dir) => {
      val docs = table(s, dir, "documents").select("doc_id", "text")
      val copy1 = docs.where(col("doc_id") < 20)
        .select((col("doc_id") + 100000).as("doc_id"), col("text"))
      val copy2 = docs.where(col("doc_id") < 10)
        .select((col("doc_id") + 200000).as("doc_id"), col("text"))
      val all = docs.unionAll(copy1).unionAll(copy2)
      val pairs = Dedup.exactTextPairs(all, "text", "doc_id")
      Sampling.leakageSafeKFold(all.select("doc_id"), "doc_id",
          pairs, "id_l", "id_r", k = 5)
        .orderBy("doc_id")
    },
      // q_leak_split's recursive-CC scaffold with fold = hash mod k
      """WITH RECURSIVE all_docs AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL SELECT doc_id + 100000, text FROM documents WHERE doc_id < 20
        |  UNION ALL SELECT doc_id + 200000, text FROM documents WHERE doc_id < 10),
        |fp AS (SELECT doc_id,
        |  md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fp
        |  FROM all_docs),
        |edges AS (SELECT a.doc_id AS src, b.doc_id AS dst
        |  FROM fp a JOIN fp b ON a.fp = b.fp AND a.doc_id <> b.doc_id),
        |reach AS (
        |  SELECT DISTINCT src AS node, src AS label FROM edges
        |  UNION
        |  SELECT e.dst, r.label FROM reach r JOIN edges e ON e.src = r.node),
        |cc AS (SELECT node, min(label) AS label FROM reach GROUP BY node),
        |keyed AS (SELECT d.doc_id, COALESCE(cc.label, d.doc_id) AS gkey
        |  FROM all_docs d LEFT JOIN cc ON d.doc_id = cc.node)
        |SELECT doc_id,
        |  CAST(('0x' || substring(md5(CAST(gkey AS VARCHAR)), 1, 8))::UBIGINT
        |    % 5 AS INTEGER) AS fold
        |FROM keyed ORDER BY doc_id""".stripMargin),

    // pipeline: token-budget shard packing per language — per-key window
    // (no global order), integer token math, then the shard manifest
    Q("q_shards", (s, dir) => {
      val docs = table(s, dir, "documents")
        .withColumn("n_tokens",
          TextAnalysis.tokenCount(col("text")).cast("long"))
      val assigned = ShardPack.assignShards(docs, "lang", "doc_id",
        "n_tokens", budget = 2000L)
      ShardPack.shardManifest(assigned, "lang", "n_tokens")
        .orderBy("lang", "shard")
    },
      """WITH d AS (SELECT doc_id, lang,
        |  CAST(len(list_filter(string_split_regex(trim(text), '\s+'),
        |    t -> len(t) > 0)) AS BIGINT) AS n_tokens FROM documents),
        |a AS (SELECT lang, doc_id, n_tokens,
        |  COALESCE(sum(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS off FROM d)
        |SELECT lang, CAST(floor(off / 2000) AS BIGINT) AS shard,
        |  count(*) AS n_docs, CAST(sum(n_tokens) AS BIGINT) AS n_tokens
        |FROM a GROUP BY lang, shard ORDER BY lang, shard""".stripMargin),

    // pipeline: token-budget mixture sampling — per language, docs in
    // stable md5 order until 50k tokens (first crossing doc included)
    Q("q_budget_sample", (s, dir) => {
      val docs = table(s, dir, "documents")
        .withColumn("n_tokens",
          TextAnalysis.tokenCount(col("text")).cast("long"))
        .select("lang", "doc_id", "n_tokens")
      Sampling.budgetSample(docs, "lang", "doc_id", "n_tokens",
          budget = 50000L)
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

    // pipeline: domain-mixture sampling to target proportions — per-lang
    // token budgets floor(20000 × w) with w = en .5 / zh .2 / es .2 /
    // fr .1; de is unlisted → dropped entirely; es is under-supplied
    // (≈3.9k tokens < 4k budget) → contributes everything it has
    Q("q_mixture_sample", (s, dir) => {
      val docs = table(s, dir, "documents")
        .withColumn("n_tokens",
          TextAnalysis.tokenCount(col("text")).cast("long"))
        .select("lang", "doc_id", "n_tokens")
      Sampling.mixtureSample(docs, "lang", "doc_id", "n_tokens",
        totalBudget = 20000L,
        weights = Seq("en" -> 0.5, "zh" -> 0.2, "es" -> 0.2, "fr" -> 0.1))
        .orderBy("lang", "doc_id")
    },
      """WITH d AS (SELECT lang, doc_id,
        |  CAST(len(list_filter(string_split_regex(trim(text), '\s+'),
        |    t -> len(t) > 0)) AS BIGINT) AS n_tokens FROM documents),
        |a AS (SELECT lang, doc_id, n_tokens,
        |  CAST(COALESCE(sum(n_tokens) OVER (PARTITION BY lang
        |    ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
        |    AS off,
        |  CASE lang WHEN 'en' THEN 10000 WHEN 'zh' THEN 4000
        |    WHEN 'es' THEN 4000 WHEN 'fr' THEN 2000 ELSE 0 END AS budget
        |  FROM d)
        |SELECT lang, doc_id, n_tokens FROM a WHERE off < budget
        |ORDER BY lang, doc_id""".stripMargin),

    // pipeline: temperature mixture (weight ∝ tokens^0.5, the
    // multilingual up-weighting recipe) — budgets DERIVED from per-lang
    // token counts, integer-quantized so the weight sum is association-
    // order-exact; α = 0.5 routes through IEEE-correctly-rounded sqrt,
    // so the whole budget derivation is hash-oracle-safe
    Q("q_temperature_mix", (s, dir) => {
      val docs = table(s, dir, "documents")
        .withColumn("n_tokens",
          TextAnalysis.tokenCount(col("text")).cast("long"))
        .select("lang", "doc_id", "n_tokens")
      Sampling.temperatureMixture(docs, "lang", "doc_id", "n_tokens",
        totalBudget = 15000L, alpha = 0.5)
        .orderBy("lang", "doc_id")
    },
      """WITH d AS (SELECT lang, doc_id,
        |  CAST(len(list_filter(string_split_regex(trim(text), '\s+'),
        |    t -> len(t) > 0)) AS BIGINT) AS n_tokens FROM documents),
        |k AS (SELECT lang,
        |  CAST(floor(sqrt(CAST(sum(n_tokens) AS DOUBLE)) * 1000000.0) AS BIGINT)
        |    AS wi FROM d GROUP BY lang),
        |b AS (SELECT lang,
        |  CAST(floor(CAST(15000 AS DOUBLE) * CAST(wi AS DOUBLE)
        |    / CAST((SELECT sum(wi) FROM k) AS DOUBLE)) AS BIGINT) AS budget
        |  FROM k),
        |a AS (SELECT d.lang, d.doc_id, d.n_tokens, b.budget,
        |  CAST(COALESCE(sum(d.n_tokens) OVER (PARTITION BY d.lang
        |    ORDER BY md5(CAST(d.doc_id AS VARCHAR)), d.doc_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
        |    AS off
        |  FROM d JOIN b USING (lang))
        |SELECT lang, doc_id, n_tokens FROM a WHERE off < budget
        |ORDER BY lang, doc_id""".stripMargin),

    // pipeline: fractional-epoch OVERsampling — "2.25 epochs of de,
    // 0.4 of en" — the upsampling complement of q_mixture_sample's
    // budget subsample; extra-copy membership is an exact integer
    // md5-threshold draw, each copy carries a 0-based epoch index
    Q("q_epoch_mix", (s, dir) => {
      Sampling.epochExpand(
          table(s, dir, "documents").select("doc_id", "lang"),
          "lang", "doc_id",
          Seq("en" -> 0.4, "de" -> 2.25, "fr" -> 1.0, "zh" -> 0.8))
        .orderBy("doc_id", "epoch")
    }, {
      // same integer threshold draw, same per-key CASE, UNNEST(range)
      s"""SELECT doc_id, lang, epoch FROM (
         |${Sampling.epochExpandOracleSql(
             "(SELECT doc_id, lang FROM documents)", "lang", "doc_id",
             Seq("en" -> 0.4, "de" -> 2.25, "fr" -> 1.0, "zh" -> 0.8))}
         |) x ORDER BY doc_id, epoch""".stripMargin
    }),

    // pipeline: GPT-style fixed-length sequence packing — docs
    // concatenate per language and SPLIT across 2048-token boundaries;
    // integral DIV math so the fragment table is engine-exact
    Q("q_pack", (s, dir) => {
      val docs = table(s, dir, "documents")
        .withColumn("n_tokens",
          TextAnalysis.tokenCount(col("text")).cast("long"))
      ShardPack.packSequences(docs, "lang", "doc_id", "n_tokens",
          seqLen = 2048L)
        .orderBy("lang", "doc_id", "seq")
    },
      """WITH d AS (SELECT doc_id, lang,
        |  CAST(len(list_filter(string_split_regex(trim(text), '\s+'),
        |    t -> len(t) > 0)) AS BIGINT) AS n_tokens FROM documents),
        |a AS (SELECT lang, doc_id, n_tokens,
        |  CAST(COALESCE(sum(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
        |    AS off FROM d),
        |f AS (SELECT * FROM a WHERE n_tokens > 0),
        |s AS (SELECT lang, doc_id, off, n_tokens,
        |  unnest(generate_series(off // 2048, (off + n_tokens - 1) // 2048))
        |    AS seq FROM f)
        |SELECT lang, doc_id, off AS "offset", seq,
        |  greatest(seq * 2048 - off, 0) AS frag_start,
        |  least((seq + 1) * 2048, off + n_tokens)
        |    - greatest(seq * 2048, off) AS frag_len
        |FROM s ORDER BY lang, doc_id, seq""".stripMargin),

    // extension: gap-filling + running extremes + pct_change windows.
    // Nulls are planted deterministically (event_id % 7) so ffill/bfill
    // have real gaps to fill; every window partitions by user_id — no
    // global-order window anywhere.
    Q("q_window_fill", (s, dir) => {
      val ev = table(s, dir, "events")
        .withColumn("v", when(col("event_id") % 7 === 0, lit(null))
          .otherwise(col("value")))
      val part = Seq("user_id"); val ord = Seq("ts", "event_id")
      val out = Seq(
        (d: SDF) => WindowOps.ffill(d, part, ord, "v", "vf"),
        (d: SDF) => WindowOps.bfill(d, part, ord, "v", "vb"),
        (d: SDF) => WindowOps.cummax(d, part, ord, "value", "cmax"),
        (d: SDF) => WindowOps.cummin(d, part, ord, "value", "cmin"),
        (d: SDF) => WindowOps.pctChange(d, part, ord, "value", "pct"))
        .foldLeft(ev)((d, f) => f(d))
      out.select("event_id", "vf", "vb", "cmax", "cmin", "pct")
        .orderBy("event_id")
    },
      """WITH e AS (SELECT event_id, user_id, ts, value,
        |  CASE WHEN event_id % 7 = 0 THEN NULL ELSE value END AS v FROM events)
        |SELECT event_id,
        | last_value(v IGNORE NULLS) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |   ROWS UNBOUNDED PRECEDING) AS vf,
        | first_value(v IGNORE NULLS) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |   ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS vb,
        | max(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |   ROWS UNBOUNDED PRECEDING) AS cmax,
        | min(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |   ROWS UNBOUNDED PRECEDING) AS cmin,
        | CASE WHEN lag(value) OVER w <> 0
        |   THEN value / lag(value) OVER w - 1 END AS pct
        |FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        |ORDER BY event_id""".stripMargin),

    // extension: linear interpolation of planted gaps, partitioned by
    // user — same one-shuffle window family as q_window_fill
    Q("q_interp", (s, dir) => {
      val ev = table(s, dir, "events")
        .withColumn("v", when(col("event_id") % 7 === 0, lit(null))
          .otherwise(col("value")))
      WindowOps.interpolate(ev, Seq("user_id"), Seq("ts", "event_id"), "v", "vi")
        .select(col("event_id"), round(col("vi"), 6).as("vi"))
        .orderBy("event_id")
    },
      """WITH e AS (SELECT event_id, user_id, ts,
        |  CASE WHEN event_id % 7 = 0 THEN NULL ELSE value END AS v FROM events),
        |p AS (SELECT event_id, user_id, v,
        |  row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS pos
        |  FROM e),
        |f AS (SELECT event_id, v, pos,
        |  last_value(v IGNORE NULLS) OVER wp AS pv,
        |  last_value(CASE WHEN v IS NOT NULL THEN pos END IGNORE NULLS) OVER wp AS pp,
        |  first_value(v IGNORE NULLS) OVER wf AS nv,
        |  first_value(CASE WHEN v IS NOT NULL THEN pos END IGNORE NULLS) OVER wf AS np
        |  FROM p WINDOW
        |    wp AS (PARTITION BY user_id ORDER BY pos ROWS UNBOUNDED PRECEDING),
        |    wf AS (PARTITION BY user_id ORDER BY pos
        |           ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING))
        |SELECT event_id, round(CASE
        |  WHEN v IS NOT NULL THEN v
        |  WHEN pv IS NULL THEN NULL
        |  WHEN nv IS NULL THEN pv
        |  ELSE pv + (nv - pv) * (pos - pp) / (np - pp) END, 6) AS vi
        |FROM f ORDER BY event_id""".stripMargin),

    // data-quality gate: declarative constraint validation (Deequ-shaped)
    // — all scalar rules fold into ONE scan (conditional sums inside a
    // single aggregate + stack); uniqueness costs one value-keyed groupBy
    Q("q_validate", (s, dir) => {
      import graft.operators.Validate._
      check(table(s, dir, "lineitem"), Seq(
        NotNull("l_shipdate"),
        InRange("l_quantity", 1, 49),
        InSet("l_returnflag", Seq("A", "N")),
        MatchesRegex("l_linestatus", "[OF]"),
        Unique("l_orderkey")))
        .orderBy("rule", "col_name")
    }, {
      import graft.operators.Validate.{NotNull, InRange, InSet, MatchesRegex, Unique}
      s"""WITH t AS (SELECT * FROM lineitem)
         |SELECT * FROM (
         |${graft.operators.Validate.oracleSql(Seq(
             NotNull("l_shipdate"),
             InRange("l_quantity", 1, 49),
             InSet("l_returnflag", Seq("A", "N")),
             MatchesRegex("l_linestatus", "[OF]"),
             Unique("l_orderkey")))}
         |) ORDER BY rule, col_name""".stripMargin
    }),

    // cross-table FK audit: one left-join + aggregate per edge — the
    // orphan-key report a warehouse reviews before trusting a join
    Q("q_ref_integrity", (s, dir) => {
      import graft.operators.Validate
      val li = Validate.referentialIntegrity(table(s, dir, "lineitem"),
          "l_orderkey", table(s, dir, "orders"), "o_orderkey")
        .withColumn("fk", lit("lineitem.l_orderkey"))
      val ev = Validate.referentialIntegrity(table(s, dir, "events"),
          "user_id", table(s, dir, "customer"), "c_custkey")
        .withColumn("fk", lit("events.user_id"))
      li.unionByName(ev)
        .select(col("fk"), col("n_rows"), col("n_null_fk"),
          col("n_orphan_rows"), col("n_orphan_keys"), col("holds"))
        .orderBy("fk")
    },
      s"""SELECT 'lineitem.l_orderkey' AS fk, * FROM (
         |${graft.operators.Validate.referentialIntegrityOracleSql(
             "lineitem", "l_orderkey", "orders", "o_orderkey")})
         |UNION ALL
         |SELECT 'events.user_id' AS fk, * FROM (
         |${graft.operators.Validate.referentialIntegrityOracleSql(
             "events", "user_id", "customer", "c_custkey")})
         |ORDER BY fk""".stripMargin),

    // deterministic hash-based train/val/test split — pure projection,
    // membership recomputable from the id alone
    Q("q_split", (s, dir) => {
      Sampling.splitAssign(table(s, dir, "orders").select("o_orderkey"),
        "o_orderkey", Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
        .orderBy("o_orderkey")
    },
      """SELECT o_orderkey,
        |CASE
        | WHEN ('0x' || substring(md5(CAST(o_orderkey AS VARCHAR)), 1, 8))::UBIGINT
        |      / 4294967296.0 < CAST(0.8 AS DOUBLE) THEN 'train'
        | WHEN ('0x' || substring(md5(CAST(o_orderkey AS VARCHAR)), 1, 8))::UBIGINT
        |      / 4294967296.0 < CAST(0.9 AS DOUBLE) THEN 'val'
        | ELSE 'test' END AS split
        |FROM orders ORDER BY o_orderkey""".stripMargin),

    // partitioned window ops over events (ts is ns-precision → read as
    // Long nanos via nanosAsLong; ordering semantics identical). Running
    // sums accumulate in DECIMAL so they are association-order-exact across
    // engines (DuckDB's segment-tree window aggregation reassociates double
    // sums); the double cast at the end is deterministic.
    Q("q_window_cumsum", (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val ev = table(s, dir, "events")
        .withColumn("vd", col("value").cast(DecimalType(18, 6)))
      val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
      val wc = w.rowsBetween(Window.unboundedPreceding, 0)
      val wr = w.rowsBetween(-3, 0)
      val withPrev = WindowOps.shift(ev, Seq("user_id"), Seq("ts", "event_id"),
        "value", 1, "prev")
      withPrev.select(col("event_id"),
        sum(col("vd")).over(wc).cast("double").as("cum"),
        col("prev"),
        (sum(col("vd")).over(wr).cast("double") / count(lit(1)).over(wr)).as("roll"))
        .orderBy("event_id")
    },
      """SELECT event_id,
        | CAST(sum(CAST(value AS DECIMAL(18,6))) OVER (PARTITION BY user_id
        |   ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING) AS DOUBLE) AS cum,
        | lag(value) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev,
        | CAST(sum(CAST(value AS DECIMAL(18,6))) OVER (PARTITION BY user_id
        |   ORDER BY ts, event_id ROWS BETWEEN 3 PRECEDING AND CURRENT ROW) AS DOUBLE) /
        |  count(*) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |   ROWS BETWEEN 3 PRECEDING AND CURRENT ROW) AS roll
        |FROM events ORDER BY event_id""".stripMargin),

    // temporal: backward as-of join (latest purchase at/before each click
    // per user), oracle = DuckDB's native ASOF LEFT JOIN
    Q("q_asof", (s, dir) => {
      val ev = table(s, dir, "events")
      val clicks = ev.where(col("event_type") === "click")
      val purchases = ev.where(col("event_type") === "purchase")
        .select("user_id", "ts", "value")
      AsOfJoin.asof(clicks, purchases, Seq("user_id"), "ts", "ts", Seq("value"))
        .select(col("event_id"), col("value_asof"))
        .orderBy("event_id")
    },
      """SELECT l.event_id, r.value AS value_asof
        |FROM (SELECT * FROM events WHERE event_type = 'click') l
        |ASOF LEFT JOIN (SELECT user_id, ts, value FROM events
        |                WHERE event_type = 'purchase') r
        |  ON l.user_id = r.user_id AND l.ts >= r.ts
        |ORDER BY l.event_id""".stripMargin),

    // merge_asof direction="nearest" with a 1h tolerance: backward and
    // forward candidates are two frames of ONE window node; the right
    // side dedupes to one row per (user, ts) so the match is unique.
    // Runs on the µs time base (eventsMicros seam) — the oracle can
    // only see µs (DuckDB truncates parquet ns timestamps), so ns-side
    // distances/grouping would diverge on a ns-vintage drop
    Q("q_asof_nearest", (s, dir) => {
      val ev = eventsMicros(s, dir)
      val clicks = ev.where(col("event_type") === "click")
      val purchases = ev.where(col("event_type") === "purchase")
        .groupBy("user_id", "tsu").agg(max("value").as("value"))
      AsOfJoin.asof(clicks, purchases, Seq("user_id"), "tsu", "tsu",
          Seq("value"), direction = "nearest",
          tolerance = Some(3600L * 1000000L))
        .select(col("event_id"),
          round(col("value_asof"), 6).as("value_near"))
        .orderBy("event_id")
    },
      """WITH l AS (SELECT event_id, user_id, epoch_us(ts) AS t FROM events
        |  WHERE event_type = 'click'),
        |r AS (SELECT user_id, epoch_us(ts) AS t, max(value) AS value
        |  FROM events WHERE event_type = 'purchase' GROUP BY 1, 2),
        |c AS (SELECT l.event_id, l.user_id, l.t,
        |  (SELECT max(r.t) FROM r WHERE r.user_id = l.user_id
        |     AND r.t <= l.t) AS bt,
        |  (SELECT min(r.t) FROM r WHERE r.user_id = l.user_id
        |     AND r.t >= l.t) AS ft FROM l),
        |m AS (SELECT event_id, user_id, t,
        |  CASE WHEN bt IS NOT NULL AND (ft IS NULL OR (t - bt) <= (ft - t))
        |    THEN bt ELSE ft END AS mt FROM c)
        |SELECT m.event_id,
        |  round(CASE WHEN m.mt IS NOT NULL
        |    AND abs(m.t - m.mt) <= 3600000000 THEN
        |    (SELECT value FROM r WHERE r.user_id = m.user_id
        |       AND r.t = m.mt) END, 6) AS value_near
        |FROM m ORDER BY m.event_id""".stripMargin),

    // resample to hourly OHLC bars per event type: ONE map-combined
    // aggregate, open/close by (tsu, event_id)-deterministic min_by/max_by
    Q("q_resample", (s, dir) => {
      WindowOps.resampleOhlc(eventsMicros(s, dir), Seq("event_type"),
          "tsu", "value", period = 3600000000L, tieBreak = Seq("event_id"))
        .select(col("event_type"), col("bucket"), col("n"),
          round(col("open"), 6).as("open"), round(col("high"), 6).as("high"),
          round(col("low"), 6).as("low"), round(col("close"), 6).as("close"))
        .orderBy("event_type", "bucket")
    },
      """WITH e AS (SELECT event_type, epoch_us(ts) AS tsu, event_id, value
        |  FROM events),
        |b AS (SELECT event_type, tsu // 3600000000 AS bucket, value,
        |  row_number() OVER (PARTITION BY event_type, tsu // 3600000000
        |    ORDER BY tsu, event_id) AS rn_a,
        |  row_number() OVER (PARTITION BY event_type, tsu // 3600000000
        |    ORDER BY tsu DESC, event_id DESC) AS rn_d FROM e)
        |SELECT event_type, bucket, count(*) AS n,
        |  round(max(CASE WHEN rn_a = 1 THEN value END), 6) AS open,
        |  round(max(value), 6) AS high, round(min(value), 6) AS low,
        |  round(max(CASE WHEN rn_d = 1 THEN value END), 6) AS close
        |FROM b GROUP BY event_type, bucket
        |ORDER BY event_type, bucket""".stripMargin),

    // training-data ordering: deterministic pseudo-random shuffle
    Q("q_shuffle", (s, dir) => {
      val ev = table(s, dir, "events")
      graft.operators.Sampling.deterministicShuffle(ev, "event_id")
        .select("event_id").limit(100)
    },
      """SELECT event_id FROM events
        |ORDER BY md5(CAST(event_id AS VARCHAR)), event_id
        |LIMIT 100""".stripMargin),

    // training-data sampling: deterministic n-per-key via stable
    // pseudo-random (md5) ordering — reproducible across engines
    Q("q_sample_per_key", (s, dir) => {
      val ev = table(s, dir, "events")
      graft.operators.Sampling.perKey(ev, Seq("user_id"), "event_id", n = 3)
        .select(col("user_id"), col("event_id"))
        .orderBy("user_id", "event_id")
    },
      """SELECT user_id, event_id FROM (
        |  SELECT user_id, event_id,
        |    row_number() OVER (PARTITION BY user_id
        |      ORDER BY md5(CAST(event_id AS VARCHAR)), event_id) AS rn
        |  FROM events) t
        |WHERE rn <= 3 ORDER BY user_id, event_id""".stripMargin),

    // temporal: bucketized point-in-interval range join — events falling
    // into each user's first-half-hour-of-the-hour windows
    Q("q_range_join", (s, dir) => {
      val ev = table(s, dir, "events")
      val hourNs = 3600L * 1000000000L
      val intervals = ev
        .select(col("user_id"), expr(s"ts DIV ${hourNs}L").as("__hr"))
        .distinct()
        .select(col("user_id"), (col("__hr") * hourNs).as("s"),
          (col("__hr") * hourNs + hourNs / 2).as("e"))
      val joined = RangeJoin.pointInInterval(
        ev.select(col("user_id"), col("event_id"), col("ts")),
        intervals, Seq("user_id"), "ts", "s", "e", bucketWidth = hourNs)
      joined.groupBy(col("user_id"), col("s"))
        .agg(count(lit(1)).as("n_in_window"))
        .orderBy("user_id", "s")
    },
      """WITH iv AS (
        |  SELECT DISTINCT user_id,
        |    (epoch_ns(ts) // 3600000000000) * 3600000000000 AS s,
        |    (epoch_ns(ts) // 3600000000000) * 3600000000000 + 1800000000000 AS e
        |  FROM events)
        |SELECT e.user_id, iv.s, count(*) AS n_in_window
        |FROM events e JOIN iv
        |  ON e.user_id = iv.user_id AND epoch_ns(e.ts) BETWEEN iv.s AND iv.e
        |GROUP BY e.user_id, iv.s ORDER BY e.user_id, iv.s""".stripMargin),

    // interval-OVERLAP join: 30-minute purchase spans × error spans per
    // user — bucketized equi-join, each true pair kept once in its
    // overlap-start bucket (no DISTINCT exchange in the plan)
    Q("q_interval_join", (s, dir) => {
      val halfHour = 1800000000L
      val ev = eventsMicros(s, dir)
      def spans(t: String, idAs: String, sAs: String, eAs: String) =
        ev.where(col("event_type") === t)
          .select(col("user_id"), col("event_id").as(idAs),
            col("tsu").as(sAs), (col("tsu") + halfHour).as(eAs))
      RangeJoin.intervalOverlap(
          spans("purchase", "id_a", "s_a", "e_a"),
          spans("error", "id_b", "s_b", "e_b"),
          Seq("user_id"), "s_a", "e_a", "s_b", "e_b",
          bucketWidth = halfHour)
        .select(col("id_a"), col("id_b"))
        .orderBy("id_a", "id_b")
    },
      """WITH e AS (SELECT user_id, event_id, event_type, epoch_us(ts) AS tsu
        |  FROM events),
        |a AS (SELECT user_id, event_id AS id_a, tsu AS s_a,
        |  tsu + 1800000000 AS e_a FROM e WHERE event_type = 'purchase'),
        |b AS (SELECT user_id, event_id AS id_b, tsu AS s_b,
        |  tsu + 1800000000 AS e_b FROM e WHERE event_type = 'error')
        |SELECT id_a, id_b FROM a JOIN b USING (user_id)
        |WHERE s_a <= e_b AND s_b <= e_a
        |ORDER BY id_a, id_b""".stripMargin),

    // extension: rank window over events
    Q("q_rank", (s, dir) => {
      val ev = table(s, dir, "events")
      WindowOps.rank(ev, Seq("user_id"), Seq("value", "event_id"), "rnk")
        .select(col("event_id"), col("rnk"))
        .orderBy("event_id")
    },
      """SELECT event_id,
        | rank() OVER (PARTITION BY user_id ORDER BY value, event_id) AS rnk
        |FROM events ORDER BY event_id""".stripMargin),

    // rank/dense_rank/percent_rank over a COARSE key (floor(value/10)) —
    // real ties, still deterministic (rank functions depend only on the
    // order-key multiset); ntile gets a total order. One Window node.
    Q("q_rank_methods", (s, dir) => {
      val ev = table(s, dir, "events")
        .withColumn("vb", floor(col("value") / 10).cast("long"))
      val part = Seq("user_id")
      val out = Seq(
        (d: SDF) => WindowOps.rank(d, part, Seq("vb"), "rnk"),
        (d: SDF) => WindowOps.denseRank(d, part, Seq("vb"), "drnk"),
        (d: SDF) => WindowOps.percentRank(d, part, Seq("vb"), "prnk"),
        (d: SDF) => WindowOps.ntileBucket(d, part, Seq("vb", "event_id"), 4, "tile"))
        .foldLeft(ev)((d, f) => f(d))
      out.select(col("event_id"), col("rnk"), col("drnk"),
        round(col("prnk"), 9).as("prnk"), col("tile"))
        .orderBy("event_id")
    },
      """SELECT event_id,
        | rank() OVER w AS rnk,
        | dense_rank() OVER w AS drnk,
        | round(percent_rank() OVER w, 9) AS prnk,
        | ntile(4) OVER (PARTITION BY user_id
        |   ORDER BY CAST(floor(value / 10) AS BIGINT), event_id) AS tile
        |FROM events
        |WINDOW w AS (PARTITION BY user_id ORDER BY CAST(floor(value / 10) AS BIGINT))
        |ORDER BY event_id""".stripMargin),

    // time-range rolling sum: trailing 1 hour per user over epoch-µs
    // RANGE frame (decimal accumulation → engine-exact)
    Q("q_rolling_time", (s, dir) => {
      val ev = table(s, dir, "events")
        .withColumn("ts_us", expr("ts DIV 1000"))
        .withColumn("vd", col("value").cast(DecimalType(18, 6)))
      WindowOps.rollingRangeAgg(ev, Seq("user_id"), "ts_us",
        sum(col("vd")), 3600000000L, "hsum")
        .select(col("event_id"), col("hsum").cast("double").as("hsum"))
        .orderBy("event_id")
    },
      """SELECT event_id,
        | CAST(sum(CAST(value AS DECIMAL(18,6))) OVER (
        |   PARTITION BY user_id ORDER BY epoch_us(ts)
        |   RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW) AS DOUBLE) AS hsum
        |FROM events ORDER BY event_id""".stripMargin),

    // data layout: Morton (z-order) code over two bucketed keys — the
    // interleaved sort key whose range partitioning tightens parquet
    // min/max envelopes on BOTH dimensions (ZOrder.clusterByZ)
    Q("q_zorder", (s, dir) => {
      val ev = table(s, dir, "events")
      ev.select(col("event_id"),
          graft.operators.ZOrder.zValue(
            pmod(col("user_id"), lit(64)), pmod(col("event_id"), lit(64)),
            bits = 6).as("z"))
        .orderBy("event_id")
    },
      s"""SELECT event_id,
         |  ${graft.operators.ZOrder.zValueSqlExpr(
               "(user_id % 64)", "(event_id % 64)", 6)} AS z
         |FROM events ORDER BY event_id""".stripMargin),

    // analytics: per-group OLS trend (value ~ hours) from one moment
    // aggregate — DECIMAL-exact sums, one fixed double combination
    // mirrored in the oracle
    Q("q_group_linfit", (s, dir) => {
      val ev = table(s, dir, "events")
      // µs-truncated ns (DuckDB reads parquet ns timestamps at µs)
      graft.operators.Regression.groupLinearFit(ev, Seq("user_id"),
          expr("ts DIV 1000 * 1000").cast("double") / lit(3.6e12), col("value"))
        .select(col("user_id"), col("n"), round(col("slope"), 9).as("slope"),
          round(col("intercept"), 6).as("intercept"), round(col("r2"), 9).as("r2"))
        .orderBy("user_id")
    }, {
      val inner = graft.operators.Regression.groupLinearFitOracleSql(
        "user_id", "CAST(epoch_ns(ts) AS DOUBLE) / 3.6e12", "CAST(value AS DOUBLE)",
        "events")
      s"""SELECT user_id, n, round(slope, 9) AS slope,
         |  round(intercept, 6) AS intercept, round(r2, 9) AS r2
         |FROM ($inner) ORDER BY user_id""".stripMargin
    }),

    // contrastive training: deterministic negative sampling — md5-derived
    // uniform draws against a scalable dense corpus index (no global
    // sort, no crossJoin, partition-invariant)
    Q("q_neg_sample", (s, dir) => {
      val docs = table(s, dir, "documents")
      val anchors = docs.where(pmod(col("doc_id"), lit(97)) === 0)
      graft.operators.DetRandom.negativeSample(docs, "doc_id",
          anchors, "doc_id", k = 4)
        .orderBy("anchor", "j")
    }, {
      import graft.operators.DetRandom
      val draw = DetRandom.md5Long48SqlExpr(
        "CAST(anchor AS VARCHAR) || ':' || CAST(j AS VARCHAR)")
      s"""WITH ix AS (${DetRandom.denseIndexSql("doc_id", "documents")}),
         |nn AS (SELECT count(*) AS n FROM documents),
         |an AS (SELECT doc_id AS anchor FROM documents WHERE doc_id % 97 = 0),
         |js AS (SELECT unnest(range(1, 5)) AS j),
         |dr AS (SELECT anchor, j, ($draw) % nn.n AS idx FROM an, js, nn)
         |SELECT dr.anchor, dr.j, ix.doc_id AS neg
         |FROM dr JOIN ix ON dr.idx = ix.idx
         |WHERE ix.doc_id <> dr.anchor
         |ORDER BY anchor, j""".stripMargin
    }),

    // monitoring: bounded-horizon EWMA per user — the horizon lag()
    // terms collapse into ONE window node (one shuffle), weights are
    // shared Scala literals so both engines sum identical doubles in
    // identical order
    Q("q_ewma", (s, dir) => {
      val ev = eventsMicros(s, dir)
      WindowOps.ewmaBounded(ev, Seq("user_id"), Seq("tsu", "event_id"),
          "value", alpha = 0.3, horizon = 8)
        .select(col("event_id"), round(col("ewma"), 9).as("ewma"))
        .orderBy("event_id")
    }, {
      // identical weight literals, identical left-to-right sum order as
      // the Spark side (ewmaWeights is the single source)
      val terms = graft.operators.WindowOps.ewmaWeights(0.3, 8).zipWithIndex
        .map { case (wt, d) =>
          s"coalesce(lag(value, $d) OVER w * $wt, 0.0)" }
        .mkString(" + ")
      s"""WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS tsu, value
         |  FROM events),
         |x AS (SELECT event_id, $terms AS ewma FROM e
         |  WINDOW w AS (PARTITION BY user_id ORDER BY tsu, event_id))
         |SELECT event_id, round(ewma, 9) AS ewma FROM x
         |ORDER BY event_id""".stripMargin
    }),

    // behavioral analytics: first-order event-transition matrix — one
    // window shuffle on the user key, then a |types|²-sized aggregate
    Q("q_transitions", (s, dir) => {
      val ev = eventsMicros(s, dir)
      WindowOps.transitionCounts(ev, Seq("user_id"), Seq("tsu", "event_id"),
          "event_type")
        .orderBy("src", "dst")
    },
      """WITH e AS (SELECT user_id, event_type, epoch_us(ts) AS tsu, event_id
        |  FROM events),
        |p AS (SELECT event_type AS src,
        |  lead(event_type) OVER (PARTITION BY user_id ORDER BY tsu, event_id)
        |    AS dst FROM e)
        |SELECT src, dst, count(*) AS n FROM p WHERE dst IS NOT NULL
        |GROUP BY src, dst ORDER BY src, dst""".stripMargin),

    // sequence predictability: Shannon entropy of each type's next-event
    // distribution — logs of exact integer counts only, |types|-sized
    Q("q_transition_entropy", (s, dir) => {
      val ev = eventsMicros(s, dir)
      WindowOps.transitionEntropy(ev, Seq("user_id"), Seq("tsu", "event_id"),
          "event_type")
        .select(col("src"), col("n_total"), col("n_dst"),
          round(col("entropy_bits"), 6).as("entropy_bits"))
        .orderBy("src")
    },
      """WITH e AS (SELECT user_id, event_type, epoch_us(ts) AS tsu, event_id
        |  FROM events),
        |p AS (SELECT event_type AS src,
        |  lead(event_type) OVER (PARTITION BY user_id ORDER BY tsu, event_id)
        |    AS dst FROM e),
        |tc AS (SELECT src, dst, count(*) AS n FROM p WHERE dst IS NOT NULL
        |  GROUP BY src, dst)
        |SELECT src, CAST(sum(n) AS BIGINT) AS n_total, count(*) AS n_dst,
        |  round(log2(sum(n)) -
        |    (sum(CAST(floor(n * log2(n) * 1e9) AS BIGINT)) / 1e9) / sum(n),
        |    6) AS entropy_bits
        |FROM tc GROUP BY src ORDER BY src""".stripMargin),

    // activity rhythm: exact interpolated inter-arrival quantiles per
    // type (ticks → seconds only at the end so engine-ulp interpolation
    // noise dies under round-6)
    Q("q_interarrival", (s, dir) => {
      val ev = eventsMicros(s, dir)
      WindowOps.interArrivalStats(ev, Seq("user_id"), Seq("tsu", "event_id"),
          "event_type", "tsu", tickSeconds = 1e6)
        .select(col("event_type"), col("n"),
          round(col("p50_sec"), 6).as("p50_sec"),
          round(col("p90_sec"), 6).as("p90_sec"),
          round(col("p99_sec"), 6).as("p99_sec"))
        .orderBy("event_type")
    },
      """WITH e AS (SELECT user_id, event_type, epoch_us(ts) AS tsu, event_id
        |  FROM events),
        |d AS (SELECT event_type,
        |  tsu - lag(tsu) OVER (PARTITION BY user_id ORDER BY tsu, event_id)
        |    AS dt FROM e)
        |SELECT event_type, count(*) AS n,
        |  round(quantile_cont(dt, 0.5) / 1e6, 6) AS p50_sec,
        |  round(quantile_cont(dt, 0.9) / 1e6, 6) AS p90_sec,
        |  round(quantile_cont(dt, 0.99) / 1e6, 6) AS p99_sec
        |FROM d WHERE dt IS NOT NULL GROUP BY event_type
        |ORDER BY event_type""".stripMargin),

    // the 100 TB seam of q_interarrival as an executable contract:
    // exact quantiles (oracled exactly) + the GK-sketch
    // (approxAccuracy) quantiles-within-tolerance claim the oracle
    // asserts TRUE — the q_approx_quantile honesty pattern
    Q("q_interarrival_approx", (s, dir) => {
      val ev = eventsMicros(s, dir)
      def stats(acc: Option[Int]) = WindowOps.interArrivalStats(ev,
        Seq("user_id"), Seq("tsu", "event_id"), "event_type", "tsu",
        tickSeconds = 1e6, approxAccuracy = acc)
      val exact = stats(None)
      val approx = stats(Some(10000)).select(col("event_type"),
        col("p50_sec").as("__a50"), col("p90_sec").as("__a90"),
        col("p99_sec").as("__a99"))
      def ok(e: org.apache.spark.sql.Column, a: org.apache.spark.sql.Column) =
        abs(a - e) <= abs(e) * 0.02 + lit(0.5)
      exact.join(approx, Seq("event_type"))
        .select(col("event_type"), col("n"),
          round(col("p50_sec"), 6).as("p50_sec"),
          round(col("p90_sec"), 6).as("p90_sec"),
          round(col("p99_sec"), 6).as("p99_sec"),
          (ok(col("p50_sec"), col("__a50")) &&
            ok(col("p90_sec"), col("__a90")) &&
            ok(col("p99_sec"), col("__a99"))).as("approx_ok"))
        .orderBy("event_type")
    },
      // exact side identical to q_interarrival; the approx claim is
      // Spark's to prove (oracle asserts it TRUE)
      """WITH e AS (SELECT user_id, event_type, epoch_us(ts) AS tsu, event_id
        |  FROM events),
        |d AS (SELECT event_type,
        |  tsu - lag(tsu) OVER (PARTITION BY user_id ORDER BY tsu, event_id)
        |    AS dt FROM e)
        |SELECT event_type, count(*) AS n,
        |  round(quantile_cont(dt, 0.5) / 1e6, 6) AS p50_sec,
        |  round(quantile_cont(dt, 0.9) / 1e6, 6) AS p90_sec,
        |  round(quantile_cont(dt, 0.99) / 1e6, 6) AS p99_sec,
        |  TRUE AS approx_ok
        |FROM d WHERE dt IS NOT NULL GROUP BY event_type
        |ORDER BY event_type""".stripMargin),

    // robust metric screening: median/MAD outlier profile per type —
    // three broadcast-joined |types|-sized aggregates, stream never
    // shuffled
    Q("q_outliers", (s, dir) => {
      Profile.robustOutliers(table(s, dir, "events"), Seq("event_type"),
          "value", k = 3.0)
        .select(col("event_type"), col("n"),
          round(col("median"), 6).as("median"),
          round(col("mad"), 6).as("mad"), col("n_outliers"))
        .orderBy("event_type")
    },
      """WITH med AS (SELECT event_type, median(value) AS median
        |  FROM events GROUP BY 1),
        |dev AS (SELECT e.event_type, m.median,
        |    abs(e.value - m.median) AS absdev
        |  FROM events e JOIN med m USING (event_type)),
        |mad AS (SELECT event_type, median(absdev) AS mad FROM dev GROUP BY 1)
        |SELECT d.event_type, count(*) AS n,
        |  round(any_value(d.median), 6) AS median,
        |  round(any_value(m.mad), 6) AS mad,
        |  CAST(sum(CASE WHEN d.absdev > 3.0 * 1.4826 * m.mad
        |    THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
        |FROM dev d JOIN mad m USING (event_type)
        |GROUP BY d.event_type ORDER BY d.event_type""".stripMargin),

    // the approx seam contract for robustOutliers (the q_gains_approx
    // pattern): the bounded-memory GK-sketch twin (approx_percentile
    // both passes) must land within tolerance of the exact
    // median/MAD/outlier-count on real data — the oracle recomputes the
    // exact side and pins approx_ok TRUE, so the sketch swap is an
    // executable claim, not a doc sentence
    Q("q_outliers_approx", (s, dir) => {
      val exact = Profile.robustOutliers(table(s, dir, "events"),
        Seq("event_type"), "value", k = 3.0)
      val approx = Profile.robustOutliers(table(s, dir, "events"),
          Seq("event_type"), "value", k = 3.0,
          approxAccuracy = Some(10000))
        .select(col("event_type"), col("median").as("__am"),
          col("mad").as("__amad"), col("n_outliers").as("__ao"))
      exact.join(approx, Seq("event_type"), "left")
        .select(col("event_type"), col("n"),
          round(col("median"), 6).as("median"),
          round(col("mad"), 6).as("mad"), col("n_outliers"),
          coalesce(
            abs(col("__am") - col("median")) <=
              lit(0.005) * (abs(col("median")) + lit(1.0)) &&
              abs(col("__amad") - col("mad")) <=
                lit(0.01) * (col("mad") + lit(1.0)) &&
              abs(col("__ao") - col("n_outliers")) <=
                greatest(lit(2.0), lit(0.01) * col("n")),
            lit(false)).as("approx_ok"))
        .orderBy("event_type")
    },
      // exact side recomputed; the within-tolerance claim is Spark's to
      // prove (oracle pins approx_ok TRUE)
      """WITH med AS (SELECT event_type, median(value) AS median
        |  FROM events GROUP BY 1),
        |dev AS (SELECT e.event_type, m.median,
        |    abs(e.value - m.median) AS absdev
        |  FROM events e JOIN med m USING (event_type)),
        |mad AS (SELECT event_type, median(absdev) AS mad FROM dev GROUP BY 1)
        |SELECT d.event_type, count(*) AS n,
        |  round(any_value(d.median), 6) AS median,
        |  round(any_value(m.mad), 6) AS mad,
        |  CAST(sum(CASE WHEN d.absdev > 3.0 * 1.4826 * m.mad
        |    THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers,
        |  TRUE AS approx_ok
        |FROM dev d JOIN mad m USING (event_type)
        |GROUP BY d.event_type ORDER BY d.event_type""".stripMargin),

    // classifier-score calibration: binned reliability report with
    // integer-nano exact score sums; Σ weighted_gap = ECE
    Q("q_calibration", (s, dir) => {
      Profile.calibrationReport(scoredDocs(s, dir), "score", "label",
          bins = 10)
        .select(col("bin"), col("n"),
          round(col("confidence"), 6).as("confidence"),
          round(col("accuracy"), 6).as("accuracy"),
          round(col("weighted_gap"), 6).as("weighted_gap"))
        .orderBy("bin")
    },
      """WITH b AS (SELECT
        |  least(CAST(floor(((n_chars % 1000) / 1000.0) * 10) AS BIGINT), 9)
        |    AS bin,
        |  CAST(round(((n_chars % 1000) / 1000.0) * 1e9) AS BIGINT) AS s9,
        |  CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y FROM documents
        |  WHERE n_chars IS NOT NULL AND lang IS NOT NULL),
        |agg AS (SELECT bin, count(*) AS n, sum(s9) AS ss, sum(y) AS sy
        |  FROM b GROUP BY bin)
        |SELECT bin, n,
        |  round(CAST(ss AS DOUBLE) / n / 1e9, 6) AS confidence,
        |  round(CAST(sy AS DOUBLE) / n, 6) AS accuracy,
        |  round(abs(CAST(ss AS DOUBLE) / 1e9 - CAST(sy AS DOUBLE)) /
        |    (SELECT sum(n) FROM agg), 6) AS weighted_gap
        |FROM agg ORDER BY bin""".stripMargin),

    // multi-touch attribution: linear credit over purchase-closed
    // journeys — nano-quantized per-touch credit, order-exact sums
    Q("q_attribution", (s, dir) => {
      val ev = eventsMicros(s, dir)
      WindowOps.attribution(ev, Seq("user_id"), Seq("tsu", "event_id"),
          "event_type", "purchase", model = "linear")
        .select(col("event_type"), col("n_touches"),
          round(col("credit"), 6).as("credit"))
        .orderBy("event_type")
    },
      """WITH e AS (SELECT user_id, epoch_us(ts) AS tsu, event_id, event_type
        |  FROM events),
        |j AS (SELECT event_type,
        |  sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
        |    OVER (PARTITION BY user_id ORDER BY tsu, event_id
        |          ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
        |    AS journey, user_id, tsu, event_id FROM e),
        |t AS (SELECT * FROM j
        |  WHERE journey >= 1 AND event_type <> 'purchase'),
        |c AS (SELECT event_type,
        |  CAST(round(1e9 / count(*) OVER
        |    (PARTITION BY user_id, journey)) AS BIGINT) AS cn FROM t)
        |SELECT event_type, count(*) AS n_touches,
        |  round(CAST(sum(cn) AS DOUBLE) / 1e9, 6) AS credit
        |FROM c GROUP BY event_type ORDER BY event_type""".stripMargin),

    // Kaplan-Meier churn curve over per-user activity lifetimes (hours),
    // right-censored at the corpus horizon: users quiet >= 1 day before
    // the last corpus event are churn events, the rest censored (the
    // 30-day testdata span makes day-scale quiet the churn signal)
    Q("q_survival", (s, dir) => {
      val life = eventsMicros(s, dir).groupBy("user_id")
        .agg(min("tsu").as("first_ts"), max("tsu").as("last_ts"))
      val h = life.agg(max("last_ts").as("__h"))
      val labeled = life.crossJoin(broadcast(h))
        .select(
          expr("(last_ts - first_ts) DIV 3600000000").as("dur_hours"),
          when(col("__h") - col("last_ts") >= 86400000000L, 1L)
            .otherwise(0L).as("churned"))
      WindowOps.kaplanMeier(labeled, "dur_hours", "churned")
        .select(col("t"), col("n_risk"), col("n_event"), col("n_censored"),
          round(col("survival"), 6).as("survival"))
        .orderBy("t")
    },
      """WITH e AS (SELECT user_id, epoch_us(ts) AS tsu FROM events),
        |life AS (SELECT user_id, min(tsu) AS f, max(tsu) AS l FROM e
        |  GROUP BY 1),
        |lab AS (SELECT (l - f) // 3600000000 AS t,
        |  CASE WHEN (SELECT max(l) FROM life) - l >= 86400000000
        |    THEN 1 ELSE 0 END AS ev FROM life),
        |lt AS (SELECT t, CAST(sum(ev) AS BIGINT) AS d,
        |  CAST(sum(1 - ev) AS BIGINT) AS c FROM lab GROUP BY t),
        |st AS (SELECT t, d, c,
        |  CAST((SELECT sum(d + c) FROM lt) AS BIGINT)
        |    - CAST(coalesce(sum(d + c) OVER (ORDER BY t
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |      AS BIGINT) AS r FROM lt),
        |km AS (SELECT t, r, d, c,
        |  CASE WHEN max(CASE WHEN d = r THEN 1 ELSE 0 END) OVER cum = 1
        |    THEN 0.0
        |    ELSE exp(sum(CASE WHEN d < r
        |      THEN ln(1 - CAST(d AS DOUBLE) / r) ELSE 0.0 END) OVER cum)
        |    END AS s
        |  FROM st WINDOW cum AS (ORDER BY t
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
        |SELECT t, r AS n_risk, d AS n_event, c AS n_censored,
        |  round(s, 6) AS survival
        |FROM km WHERE d > 0 ORDER BY t""".stripMargin),

    // functional-dependency discovery on part: the primary key holds
    // for both its dependents (ONE fused scan checks them together),
    // the attribute candidate is violated — both verdicts and the
    // shared-determinant fusion live under the oracle
    Q("q_fd", (s, dir) => {
      Profile.functionalDeps(table(s, dir, "part"),
        Seq(("p_partkey", "p_brand"), ("p_partkey", "p_type"),
          ("p_size", "p_type")))
        .orderBy("lhs", "rhs")
    }, {
      s"""WITH fd AS (
         |${graft.operators.Profile.functionalDepsOracleSql("part",
              Seq(("p_partkey", "p_brand"), ("p_partkey", "p_type"),
                ("p_size", "p_type")))})
         |SELECT * FROM fd ORDER BY lhs, rhs""".stripMargin
    }),

    // de-seasonalization: hour-of-day phase means (DECIMAL-exact) +
    // residuals — one 24-row aggregate + a broadcast join-back
    Q("q_seasonal", (s, dir) => {
      val ev = eventsMicros(s, dir)
      WindowOps.seasonalDecompose(ev, "event_id", "tsu", "value",
          period = 3600000000L, phases = 24)
        .orderBy("event_id")
    },
      """WITH e AS (SELECT event_id, epoch_us(ts) AS tsu, value FROM events),
        |b AS (SELECT event_id,
        |        ((tsu // 3600000000) % 24 + 24) % 24 AS phase, value FROM e),
        |p AS (SELECT phase, count(*) AS n,
        |        sum(CAST(value AS DECIMAL(18,6))) AS s FROM b GROUP BY phase),
        |j AS (SELECT b.event_id, b.phase,
        |        CAST(p.s AS DOUBLE) / p.n AS seasonal, b.value
        |      FROM b JOIN p USING (phase))
        |SELECT event_id, phase, round(seasonal, 6) AS seasonal,
        |  round(value - seasonal, 6) AS residual
        |FROM j ORDER BY event_id""".stripMargin),

    // behavioral sequences one order deeper: corpus-wide length-3 path
    // counts (both leads share ONE window node; agg collapses to ≤
    // |types|³ rows map-side)
    Q("q_paths3", (s, dir) => {
      val ev = eventsMicros(s, dir)
      WindowOps.pathTripleCounts(ev, Seq("user_id"), Seq("tsu", "event_id"),
          "event_type")
        .orderBy("t1", "t2", "t3")
    },
      """WITH e AS (SELECT user_id, event_type, epoch_us(ts) AS tsu, event_id
        |  FROM events),
        |p AS (SELECT event_type AS t1,
        |  lead(event_type, 1) OVER (PARTITION BY user_id ORDER BY tsu, event_id)
        |    AS t2,
        |  lead(event_type, 2) OVER (PARTITION BY user_id ORDER BY tsu, event_id)
        |    AS t3 FROM e)
        |SELECT t1, t2, t3, count(*) AS n FROM p WHERE t3 IS NOT NULL
        |GROUP BY t1, t2, t3 ORDER BY t1, t2, t3""".stripMargin),

    // snapshot drift monitoring: PSI of the doc-length distribution,
    // en vs non-en slices as the two "snapshots" — per-bin terms +
    // total, Laplace-smoothed, nano-quantized exact integer sum
    Q("q_psi", (s, dir) => {
      import graft.operators.Drift
      val docs = table(s, dir, "documents")
      Drift.psiFixedBins(
          docs.where(col("lang") === "en"),
          docs.where(col("lang") =!= "en"),
          "n_chars", lo = 0L, hi = 600L, bins = 12)
        .orderBy("bin")
    }, {
      import graft.operators.Drift
      s"""WITH da AS (SELECT n_chars AS v FROM documents WHERE lang = 'en'),
         |db AS (SELECT n_chars AS v FROM documents WHERE lang <> 'en'),
         |${Drift.psiOracleCtes(lo = 0L, hi = 600L, bins = 12)}
         |SELECT bin, c_a, c_b, psi_term, psi_total FROM scored
         |ORDER BY bin""".stripMargin
    }),

    // snapshot drift monitoring: exact-integer two-sample KS statistic
    // on the same binning — worst-case CDF gap, no logs, no quantization
    Q("q_ks", (s, dir) => {
      import graft.operators.Drift
      val docs = table(s, dir, "documents")
      Drift.ksFixedBins(
          docs.where(col("lang") === "en"),
          docs.where(col("lang") =!= "en"),
          "n_chars", lo = 0L, hi = 600L, bins = 12)
        .orderBy("bin")
    }, {
      import graft.operators.Drift
      s"""WITH da AS (SELECT n_chars AS v FROM documents WHERE lang = 'en'),
         |db AS (SELECT n_chars AS v FROM documents WHERE lang <> 'en'),
         |${Drift.ksOracleCtes(lo = 0L, hi = 600L, bins = 12)}
         |SELECT bin, c_a, c_b, d_num, ks FROM scored
         |ORDER BY bin""".stripMargin
    }),

    // engagement: rolling 7-day distinct active users — activity
    // collapsed once, bounded ×7 explode on the collapsed relation (no
    // per-period self-join scans, no count-distinct-over-range window)
    Q("q_active_users", (s, dir) => {
      val ev = eventsMicros(s, dir)
      WindowOps.rollingActiveUsers(ev, "user_id", "tsu",
          period = 86400000000L, windowPeriods = 7)
        .orderBy("period")
    },
      """WITH acts AS (SELECT DISTINCT user_id AS u,
        |    epoch_us(ts) // 86400000000 AS p FROM events),
        |days AS (SELECT DISTINCT p FROM acts)
        |SELECT d.p AS period, count(DISTINCT a.u) AS n_active
        |FROM days d JOIN acts a ON a.p BETWEEN d.p - 6 AND d.p
        |GROUP BY d.p ORDER BY period""".stripMargin),

    // warehouse temporal: SCD2 history table from the event changelog —
    // consecutive-unchanged compaction + validity intervals in two
    // window passes over one user-key shuffle
    Q("q_scd2", (s, dir) => {
      val ev = eventsMicros(s, dir)
      WindowOps.scd2(ev, Seq("user_id"), Seq("tsu", "event_id"),
          "tsu", "event_type")
        .select(col("user_id"), col("event_type"), col("valid_from"),
          col("valid_to"), col("is_current"))
        // total order: two same-µs change points can tie on (user,
        // valid_from, type); the sentinel keeps NULL valid_to ordering
        // engine-independent (Spark NULLS FIRST vs DuckDB NULLS LAST)
        .orderBy(col("user_id"), col("valid_from"), col("event_type"),
          coalesce(col("valid_to"), lit(Long.MaxValue)))
    },
      """WITH e AS (SELECT user_id, event_type, epoch_us(ts) AS tsu, event_id
        |  FROM events),
        |c AS (SELECT user_id, event_type, tsu, event_id,
        |  CASE WHEN lag(event_type) OVER w IS NULL
        |       OR lag(event_type) OVER w <> event_type THEN 1 ELSE 0 END AS chg
        |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY tsu, event_id)),
        |v AS (SELECT user_id, event_type, tsu, event_id FROM c WHERE chg = 1),
        |o AS (SELECT user_id, event_type, tsu AS valid_from,
        |  lead(tsu) OVER wv AS valid_to,
        |  lead(tsu) OVER wv IS NULL AS is_current
        |  FROM v WINDOW wv AS (PARTITION BY user_id ORDER BY tsu, event_id))
        |SELECT * FROM o
        |ORDER BY user_id, valid_from, event_type,
        |  coalesce(valid_to, 9223372036854775807)""".stripMargin),

    // incremental refresh: mergeable per-key state — history aggregated
    // once, the delta aggregated alone, FULL OUTER monoid merge; DECIMAL
    // state keeps refresh associativity exact (oracle = one-shot GROUP BY
    // over everything, which mergeability must equal)
    Q("q_incr_agg", (s, dir) => {
      import graft.operators.Incremental
      val ev = table(s, dir, "events")
      val snap = Incremental.aggregateState(
        ev.where(col("event_id") % 2 === 0), Seq("user_id"), "value")
      val delta = Incremental.aggregateState(
        ev.where(col("event_id") % 2 =!= 0), Seq("user_id"), "value")
      Incremental.mergeState(snap, delta, Seq("user_id"))
        .select(col("user_id"), col("n"), col("s").cast("double").as("total"))
        .orderBy("user_id")
    },
      """SELECT user_id, count(value) AS n,
        |  CAST(sum(CAST(value AS DECIMAL(38,6))) AS DOUBLE) AS total
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin),

    // mergeable histogram state: the quantile member of the incremental
    // family — snapshot ⊎ delta on (key, bin) counts, p50/p90 read off
    // the merged state with deterministic one-bin-width error; the
    // oracle recomputes the SAME binned readout from the raw rows (the
    // state merge must be invisible in the result)
    Q("q_incr_hist", (s, dir) => {
      import graft.operators.Incremental
      val ev = table(s, dir, "events")
      val (lo, hi, bins) = (0.0, 500.0, 50)
      val snap = Incremental.aggregateHistState(
        ev.where(col("event_id") % 5 =!= 0), Seq("event_type"), "value",
        lo, hi, bins)
      val delta = Incremental.aggregateHistState(
        ev.where(col("event_id") % 5 === 0), Seq("event_type"), "value",
        lo, hi, bins)
      Incremental.histQuantiles(
          Incremental.mergeHistState(snap, delta, Seq("event_type")),
          Seq("event_type"), Seq("p50" -> 0.5, "p90" -> 0.9), lo, hi, bins)
        .select(col("event_type"), round(col("p50"), 6).as("p50"),
          round(col("p90"), 6).as("p90"))
        .orderBy("event_type")
    },
      // one-shot recomputation of the binned readout — merge-invisibility
      // is the property under test
      """WITH h AS (SELECT event_type,
        |    least(greatest(CAST(floor(value / 10.0) AS BIGINT), 0), 49)
        |      AS bin,
        |    count(*) AS n
        |  FROM events WHERE value IS NOT NULL GROUP BY 1, 2),
        |c AS (SELECT event_type, bin, n,
        |    sum(n) OVER (PARTITION BY event_type ORDER BY bin
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
        |    sum(n) OVER (PARTITION BY event_type) AS tot,
        |    0.0 + (CAST(bin AS DOUBLE) + 0.5) * 10.0 AS mid
        |  FROM h)
        |SELECT event_type,
        |  round(min(CASE WHEN cum >= ceil(0.5 * tot) THEN mid END), 6)
        |    AS p50,
        |  round(min(CASE WHEN cum >= ceil(0.9 * tot) THEN mid END), 6)
        |    AS p90
        |FROM c GROUP BY event_type ORDER BY event_type""".stripMargin),

    // incremental DISTINCT state: exact distinct is not a mergeable
    // scalar (overlap double-counts; true state = the value set), so
    // the HLL sketch per key is the materialized-view answer — two
    // half-refreshes honesty-checked against the one-shot exact
    Q("q_incr_distinct", (s, dir) => {
      val ev = table(s, dir, "events")
      val h1 = ev.where(col("event_id") % 2 === 0)
      val h2 = ev.where(col("event_id") % 2 === 1)
      val state = graft.operators.Incremental.mergeDistinctState(
        graft.operators.Incremental.aggregateDistinctState(
          h1, Seq("event_type"), "user_id"),
        graft.operators.Incremental.aggregateDistinctState(
          h2, Seq("event_type"), "user_id"),
        Seq("event_type"))
      val approx = graft.operators.Incremental.distinctEstimate(
        state, Seq("event_type"))
      val exact = ev.groupBy("event_type")
        .agg(countDistinct(col("user_id")).as("n_exact"))
      approx.join(exact, Seq("event_type"))
        .select(col("event_type"), col("n_exact"),
          (abs(col("n_distinct_approx") - col("n_exact")) <=
            col("n_exact") * 0.05 + lit(5L)).as("approx_ok"))
        .orderBy("event_type")
    },
      """SELECT event_type, count(DISTINCT user_id) AS n_exact,
        |  TRUE AS approx_ok
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin),

    // two-sided CUSUM change-point scores per user: the max-reset
    // recursion via the reflection identity (cumsum + running min, one
    // exchange + one sort), nano-quantized exact — the oracle replays
    // the SAME prefix-sum reformulation on integer units
    Q("q_cusum", (s, dir) => {
      WindowOps.cusum(eventsMicros(s, dir),
          Seq("user_id"), Seq("tsu", "event_id"), "value",
          target = 165.0, slack = 20.0, threshold = 500.0)
        .select(col("user_id"), col("event_id"),
          round(col("s_hi"), 6).as("s_hi"), round(col("s_lo"), 6).as("s_lo"),
          col("alarm"))
        .orderBy("user_id", "event_id")
    },
      // CUSUM via the same reflection identity, on the same nano integer
      // units (sums of BIGINT run in HUGEINT here, DECIMAL(38,0) in
      // Spark — both exact); t9+k9 = 185e9, t9-k9 = 145e9, h9 = 500e9
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
        |  CASE WHEN v9 IS NOT NULL THEN round(CAST(shi AS DOUBLE) / 1e9, 6)
        |    END AS s_hi,
        |  CASE WHEN v9 IS NOT NULL THEN round(CAST(slo AS DOUBLE) / 1e9, 6)
        |    END AS s_lo,
        |  (v9 IS NOT NULL AND (shi > 500000000000 OR slo > 500000000000))
        |    AS alarm
        |FROM m ORDER BY user_id, event_id""".stripMargin),

    // trailing rolling median per user — robust local level; exact
    // percentile over the row frame, quantile_cont parity
    Q("q_rolling_median", (s, dir) => {
      WindowOps.rollingQuantile(eventsMicros(s, dir),
          Seq("user_id"), Seq("tsu", "event_id"), "value", 0.5, window = 15)
        .select(col("user_id"), col("event_id"), round(col("rq"), 6).as("rmed"))
        .orderBy("user_id", "event_id")
    },
      """WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS tsu, value
        |  FROM events)
        |SELECT user_id, event_id,
        |  round(quantile_cont(CAST(value AS DOUBLE), 0.5) OVER
        |    (PARTITION BY user_id ORDER BY tsu, event_id
        |     ROWS BETWEEN 14 PRECEDING AND CURRENT ROW), 6) AS rmed
        |FROM e ORDER BY user_id, event_id""".stripMargin),

    // rolling autocorrelation (value vs its own lag-1) over a trailing
    // 20-row window per user — six moments fused in ONE Window node,
    // decimal-exact sums, doubles only at the final combination
    Q("q_rolling_corr", (s, dir) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("user_id").orderBy("tsu", "event_id")
      val lagged = eventsMicros(s, dir)
        .withColumn("y", lag(col("value"), 1).over(w))
      WindowOps.rollingCorr(lagged, Seq("user_id"), Seq("tsu", "event_id"),
          "value", "y", window = 20)
        .select(col("user_id"), col("event_id"), round(col("corr"), 6).as("corr"))
        .orderBy("user_id", "event_id")
    },
      // rolling autocorrelation: identical decimal casts and double
      // combination as WindowOps.rollingCorr, lag-1 y in a prior CTE
      """WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS tsu, value
        |  FROM events),
        |l AS (SELECT user_id, event_id, tsu, value AS x,
        |    lag(value) OVER (PARTITION BY user_id ORDER BY tsu, event_id)
        |      AS y FROM e),
        |c AS (SELECT user_id, event_id,
        |    sum(CASE WHEN x IS NOT NULL AND y IS NOT NULL THEN 1 ELSE 0 END)
        |      OVER w AS n,
        |    CAST(sum(CAST(CASE WHEN x IS NOT NULL AND y IS NOT NULL
        |      THEN x END AS DECIMAL(18,4))) OVER w AS DOUBLE) AS sx,
        |    CAST(sum(CAST(CASE WHEN x IS NOT NULL AND y IS NOT NULL
        |      THEN y END AS DECIMAL(18,4))) OVER w AS DOUBLE) AS sy,
        |    CAST(sum(CAST(CASE WHEN x IS NOT NULL AND y IS NOT NULL
        |      THEN x * x END AS DECIMAL(38,8))) OVER w AS DOUBLE) AS sxx,
        |    CAST(sum(CAST(CASE WHEN x IS NOT NULL AND y IS NOT NULL
        |      THEN y * y END AS DECIMAL(38,8))) OVER w AS DOUBLE) AS syy,
        |    CAST(sum(CAST(CASE WHEN x IS NOT NULL AND y IS NOT NULL
        |      THEN x * y END AS DECIMAL(38,8))) OVER w AS DOUBLE) AS sxy
        |  FROM l WINDOW w AS (PARTITION BY user_id ORDER BY tsu, event_id
        |    ROWS BETWEEN 19 PRECEDING AND CURRENT ROW))
        |SELECT user_id, event_id,
        |  CASE WHEN n >= 2 AND n * sxx - sx * sx > 0
        |      AND n * syy - sy * sy > 0
        |    THEN round((n * sxy - sx * sy) /
        |      sqrt((n * sxx - sx * sx) * (n * syy - sy * sy)), 6)
        |    END AS corr
        |FROM c ORDER BY user_id, event_id""".stripMargin),

    // cumulative gains / lift by score-quantile band (bucket 1 = top
    // scores): exact-percentile edges broadcast back, tied scores never
    // split a band; same score/label synthesis as q_calibration
    Q("q_gains", (s, dir) => {
      Profile.gainsTable(scoredDocs(s, dir), "score", "label", buckets = 10)
        .select(col("bucket"), col("n"), col("n_pos"),
          col("cum_n"), col("cum_pos"),
          round(col("gain"), 6).as("gain"), round(col("lift"), 6).as("lift"))
        .orderBy("bucket")
    },
      // gains/lift: quantile_cont edges ≡ Spark exact percentile
      // (q_group_quantile proved the parity), strictly-above indicator
      // bands, integer sums cast before the mirrored double divisions
      s"""WITH $GainsBandsCtes
         |SELECT bucket, n, n_pos, cum_n, cum_pos,
         |  CASE WHEN tp > 0
         |    THEN round(CAST(cum_pos AS DOUBLE) / tp, 6) END AS gain,
         |  CASE WHEN tp > 0
         |    THEN round((CAST(cum_pos AS DOUBLE) / cum_n)
         |      / (CAST(tp AS DOUBLE) / tn), 6) END AS lift
         |FROM f ORDER BY bucket""".stripMargin),

    // single-number ranking power of the q_gains classifier: Gini =
    // 2·AUC − 1 over the band curve (model-sized arithmetic)
    Q("q_gini", (s, dir) => {
      Profile.giniFromGains(
        Profile.gainsTable(scoredDocs(s, dir), "score", "label", 10))
        .select(round(col("gini"), 9).as("gini"))
    },
      // the same band CTEs rolled up to one trapezoid number — the gini
      // arithmetic mirrors Profile.giniFromGains op for op
      s"""WITH $GainsBandsCtes,
         |pts AS (SELECT bucket,
         |    CAST(cum_n AS DOUBLE) / max(cum_n) OVER () AS x,
         |    CASE WHEN tp > 0 THEN CAST(cum_pos AS DOUBLE) / tp END AS y
         |  FROM f),
         |seg AS (SELECT x, y,
         |    coalesce(lag(x) OVER (ORDER BY bucket), 0.0) AS px,
         |    coalesce(lag(y) OVER (ORDER BY bucket), 0.0) AS py
         |  FROM pts)
         |SELECT round(2.0 * sum((x - px) * (y + py) / 2) - 1.0, 9) AS gini
         |FROM seg""".stripMargin),

    // the 100 TB seam of q_gains as an executable contract: exact band
    // edges (oracled exactly) + the bounded-memory percentile_approx
    // banding whose gain/lift must land within tolerance — the
    // q_approx_quantile honesty pattern over the whole curve
    Q("q_gains_approx", (s, dir) => {
      val exact = Profile.gainsTable(scoredDocs(s, dir), "score", "label",
        buckets = 10)
      val approx = Profile.gainsTable(scoredDocs(s, dir), "score", "label",
          buckets = 10, approxAccuracy = Some(10000))
        .select(col("bucket"), col("gain").as("__ag"),
          col("lift").as("__al"))
      // LEFT join: an exact bucket the approx banding left EMPTY
      // (duplicate sketch edges on heavily tied scores) must surface
      // as approx_ok = FALSE, not silently vanish from the row set
      exact.join(approx, Seq("bucket"), "left")
        .select(col("bucket"), col("n"), col("n_pos"),
          col("cum_n"), col("cum_pos"),
          round(col("gain"), 6).as("gain"), round(col("lift"), 6).as("lift"),
          coalesce(
            abs(col("__ag") - col("gain")) <= lit(0.02) &&
              abs(col("__al") - col("lift")) <=
                abs(col("lift")) * 0.05 + lit(0.02),
            lit(false)).as("approx_ok"))
        .orderBy("bucket")
    },
      // exact bands identical to q_gains; the approx-banding claim is
      // Spark's to prove (oracle asserts it TRUE)
      s"""WITH $GainsBandsCtes
         |SELECT bucket, n, n_pos, cum_n, cum_pos,
         |  CASE WHEN tp > 0
         |    THEN round(CAST(cum_pos AS DOUBLE) / tp, 6) END AS gain,
         |  CASE WHEN tp > 0
         |    THEN round((CAST(cum_pos AS DOUBLE) / cum_n)
         |      / (CAST(tp AS DOUBLE) / tn), 6) END AS lift,
         |  TRUE AS approx_ok
         |FROM f ORDER BY bucket""".stripMargin),

    // privacy audit: k-anonymity / l-diversity report over the
    // (event_type, value-bucket) quasi-identifier — ONE grouped
    // aggregate; the dataset-level complement of q_pii's row scrubber
    Q("q_kanon", (s, dir) => {
      val ev = table(s, dir, "events")
        .withColumn("vb", floor(col("value") / 100).cast("long"))
      Privacy.kAnonymityReport(ev, Seq("event_type", "vb"),
          Some("user_id"), k = 50, l = 20)
        .orderBy("event_type", "vb")
    },
      Privacy.kAnonymityOracleSql("events",
      Seq("event_type" -> "event_type",
        "CAST(floor(value / 100) AS BIGINT)" -> "vb"),
      sensitive = "user_id", k = 50, l = 20)),

    // privacy RELEASE: ε-DP noisy per-group stats (Laplace mechanism,
    // deterministic PRF noise — computational DP with the seed as the
    // release secret) — what the pipeline PUBLISHES about the corpus
    // when the true counts are themselves sensitive; the statistical
    // complement of q_kanon's syntactic audit
    Q("q_dp_release", (s, dir) => {
      Privacy.dpGroupRelease(table(s, dir, "events"), Seq("event_type"),
          "value", lo = 0.0, hi = 500.0, epsCount = 1.0, epsSum = 0.5,
          seed = "graft-r11")
        .select(col("event_type"), round(col("n_dp"), 6).as("n_dp"),
          round(col("sum_dp"), 6).as("sum_dp"))
        .orderBy("event_type")
    },
      // the oracle replays the RELEASE term for term: same DECIMAL(38,6)
      // clipped sum, same 48-bit md5 fold, same Laplace inverse CDF
      s"""SELECT event_type, round(n_dp, 6) AS n_dp,
         |  round(sum_dp, 6) AS sum_dp
         |FROM (${Privacy.dpReleaseOracleSql("events", "event_type",
               "event_type", "value", lo = 0.0, hi = 500.0,
               epsCount = 1.0, epsSum = 0.5, seed = "graft-r11")}) r
         |ORDER BY event_type""".stripMargin),

    // privacy enforcement: suppress sub-k equivalence classes (one
    // window count, no join-back, no driver-resident violator list),
    // then a release-sized summary proving which rows survived
    Q("q_kanon_suppress", (s, dir) => {
      val ev = table(s, dir, "events")
        .withColumn("vb", floor(col("value") / 100).cast("long"))
      Privacy.suppressBelowK(ev, Seq("event_type", "vb"), k = 50)
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"),
          countDistinct(col("user_id")).as("n_users"),
          sum(col("value").cast(DecimalType(18, 6))).cast("double").as("total"))
        .select(col("event_type"), col("n"), col("n_users"),
          round(col("total"), 6).as("total"))
        .orderBy("event_type")
    },
      // suppression mirrored as the same window count; decimal-exact sum
      // before the double presentation (the q_groupby_agg convention)
      """WITH g AS (SELECT *, count(*) OVER
        |    (PARTITION BY event_type, CAST(floor(value / 100) AS BIGINT))
        |    AS n_class FROM events)
        |SELECT event_type, count(*) AS n,
        |  count(DISTINCT user_id) AS n_users,
        |  round(CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE), 6)
        |    AS total
        |FROM g WHERE n_class >= 50
        |GROUP BY event_type ORDER BY event_type""".stripMargin),

    // experiment readout: per-event-type success rate with the Wilson
    // score interval — the sort-by-lower-bound comparator
    Q("q_wilson", (s, dir) => {
      val ev = table(s, dir, "events")
        .withColumn("success", col("value") >= 100.0)
      Profile.wilsonRates(ev, Seq("event_type"), "success", z = 1.96)
        .select(col("event_type"), col("n"), col("n_success"),
          round(col("rate"), 6).as("rate"),
          round(col("wilson_lo"), 6).as("wilson_lo"),
          round(col("wilson_hi"), 6).as("wilson_hi"))
        .orderBy("event_type")
    },
      // Wilson interval mirrored closed-form on the same (n, s) integers
      """WITH g AS (SELECT event_type, count(*) AS n,
        |    CAST(COALESCE(sum(CASE WHEN value >= 100.0 THEN 1 ELSE 0 END),
        |      0) AS BIGINT) AS n_success
        |  FROM events WHERE (value >= 100.0) IS NOT NULL
        |  GROUP BY event_type)
        |SELECT event_type, n, n_success,
        |  round(CAST(n_success AS DOUBLE) / n, 6) AS rate,
        |  round(((CAST(n_success AS DOUBLE) / n + 3.8416 / (2.0 * n))
        |    - (1.96 * sqrt((CAST(n_success AS DOUBLE) / n)
        |        * (1.0 - CAST(n_success AS DOUBLE) / n) / n
        |        + 3.8416 / (4.0 * n * n))))
        |    / (1.0 + 3.8416 / n), 6) AS wilson_lo,
        |  round(((CAST(n_success AS DOUBLE) / n + 3.8416 / (2.0 * n))
        |    + (1.96 * sqrt((CAST(n_success AS DOUBLE) / n)
        |        * (1.0 - CAST(n_success AS DOUBLE) / n) / n
        |        + 3.8416 / (4.0 * n * n))))
        |    / (1.0 + 3.8416 / n), 6) AS wilson_hi
        |FROM g ORDER BY event_type""".stripMargin),

    // feature screening: weight of evidence / information value of the
    // doc-length bucket against the lang='en' label — one grouped
    // count aggregate, +0.5 cell smoothing
    Q("q_woe", (s, dir) => {
      import graft.operators.FeatureEng
      val docs = table(s, dir, "documents")
        .where(col("n_chars").isNotNull && col("lang").isNotNull)
        .withColumn("cat", floor(col("n_chars") / 250).cast("long"))
        .withColumn("label", col("lang") === "en")
      FeatureEng.woeTable(docs, "cat", "label")
        .select(col("cat"), col("n"), col("n_pos"), col("n_neg"),
          round(col("woe"), 6).as("woe"), round(col("iv"), 9).as("iv"))
        .orderBy("cat")
    },
      s"""WITH r AS (SELECT * FROM documents
         |  WHERE n_chars IS NOT NULL AND lang IS NOT NULL)
         |SELECT cat, n, n_pos, n_neg, round(woe, 6) AS woe,
         |  round(iv, 9) AS iv FROM (
         |${graft.operators.FeatureEng.woeOracleSql("r",
             "CAST(floor(n_chars / 250) AS BIGINT)", "lang = 'en'")}
         |) ORDER BY cat""".stripMargin),

    // model prep: leave-one-out smoothed target encoding of lang
    // against the long-document label — grouped integer sums + prior
    // broadcast, no category window, no target leakage through own row
    Q("q_target_encode", (s, dir) => {
      import graft.operators.FeatureEng
      val docs = table(s, dir, "documents")
        .select(col("doc_id").as("id"), col("lang").as("cat"),
          (col("n_chars") % 1000 >= 500).as("label"))
      FeatureEng.targetEncode(docs, "cat", "label", m = 10.0)
        .select(col("id"), col("cat"), round(col("te"), 9).as("te"))
        .orderBy("id")
    },
      s"""SELECT id, cat, round(te, 9) AS te FROM (
         |${graft.operators.FeatureEng.targetEncodeOracleSql("documents",
             "doc_id", "lang", "n_chars % 1000 >= 500", 10.0)}
         |) ORDER BY id""".stripMargin),

    // cross-source score comparability: fixed-bin quantile
    // normalization of each event type's value distribution onto the
    // pooled one — integer cross-multiplied CDF map, broadcast back,
    // corpus scanned once
    Q("q_quantile_norm", (s, dir) => {
      import graft.operators.FeatureEng
      FeatureEng.quantileNormalize(table(s, dir, "events"),
          "event_id", "event_type", "value", lo = 0.0, hi = 500.0,
          bins = 50)
        .select(col("event_id"), col("event_type"),
          round(col("value"), 6).as("value"), round(col("qn"), 6).as("qn"))
        .orderBy("event_id")
    },
      s"""SELECT id AS event_id, g AS event_type, round(v, 6) AS value,
         |  round(qn, 6) AS qn FROM (
         |${graft.operators.FeatureEng.quantileNormalizeOracleSql("events",
             "event_id", "event_type", "value", lo = 0.0, hi = 500.0,
             bins = 50)}
         |) ORDER BY event_id""".stripMargin),

    // seasonal-residual anomaly screening — the operator-algebra
    // composition: seasonalDecompose strips the hour-of-day profile,
    // robustZScore standardizes the residual per phase (median/MAD —
    // the outliers being hunted can't drag the gate), |z| > 3.5 flags
    Q("q_anomaly", (s, dir) => {
      val dec = WindowOps.seasonalDecompose(eventsMicros(s, dir),
        "event_id", "tsu", "value", period = 3600000000L, phases = 24)
      WindowOps.robustZScore(dec, Seq("phase"), "residual", "rz")
        .select(col("event_id"), col("phase"), col("residual"),
          round(col("rz"), 9).as("rz"),
          coalesce(abs(col("rz")) > 3.5, lit(false)).as("anomaly"))
        .orderBy("event_id")
    },
      // the q_seasonal CTEs extended with per-phase median/MAD (the
      // q_robust_z arithmetic) — anomaly tested on the UNROUNDED z
      """WITH e AS (SELECT event_id, epoch_us(ts) AS tsu, value FROM events),
        |b AS (SELECT event_id,
        |        ((tsu // 3600000000) % 24 + 24) % 24 AS phase, value FROM e),
        |p AS (SELECT phase, count(*) AS n,
        |        sum(CAST(value AS DECIMAL(18,6))) AS s FROM b GROUP BY phase),
        |r AS (SELECT b.event_id, b.phase,
        |        round(b.value - CAST(p.s AS DOUBLE) / p.n, 6) AS residual
        |      FROM b JOIN p USING (phase)),
        |m AS (SELECT phase, quantile_cont(residual, 0.5) AS med
        |      FROM r GROUP BY phase),
        |w AS (SELECT r.event_id, r.phase, r.residual, m.med
        |      FROM r JOIN m USING (phase)),
        |d AS (SELECT phase, quantile_cont(abs(residual - med), 0.5) AS mad
        |      FROM w GROUP BY phase)
        |SELECT event_id, w.phase, residual,
        |  CASE WHEN mad = 0.0 THEN NULL
        |    ELSE round((residual - med) / (1.4826 * mad), 9) END AS rz,
        |  CASE WHEN mad = 0.0 THEN FALSE
        |    ELSE abs((residual - med) / (1.4826 * mad)) > 3.5 END AS anomaly
        |FROM w JOIN d USING (phase) ORDER BY event_id""".stripMargin),

    // snapshot-over-snapshot profile drift: two one-aggregate profile
    // scans joined by column — null-rate movement, distinct movement,
    // null-safe [min, max] envelope drift
    Q("q_profile_drift", (s, dir) => {
      val docs = table(s, dir, "documents")
      graft.operators.Profile.profileDrift(
          docs.where(col("doc_id") % 2 === 0),
          docs.where(col("doc_id") % 2 === 1),
          Seq("lang", "source", "n_chars"))
        .orderBy("col_name")
    }, {
      val cols = Seq("lang", "source", "n_chars")
      s"""WITH o AS (
         |${graft.operators.Profile.profileOracleSql(
             "(SELECT * FROM documents WHERE doc_id % 2 = 0)", cols)}),
         |nn AS (
         |${graft.operators.Profile.profileOracleSql(
             "(SELECT * FROM documents WHERE doc_id % 2 = 1)", cols)})
         |SELECT o.col_name, o.n_rows AS old_rows, nn.n_rows AS new_rows,
         |  o.n_nulls AS old_nulls, nn.n_nulls AS new_nulls,
         |  o.n_distinct AS old_distinct, nn.n_distinct AS new_distinct,
         |  round(CAST(nn.n_nulls AS DOUBLE) / nn.n_rows
         |    - CAST(o.n_nulls AS DOUBLE) / o.n_rows, 9) AS null_rate_delta,
         |  (o.min_value IS DISTINCT FROM nn.min_value
         |    OR o.max_value IS DISTINCT FROM nn.max_value) AS range_drifted
         |FROM o JOIN nn USING (col_name) ORDER BY col_name""".stripMargin
    }),

    // classifier-filter readout: exact ROC-AUC of the synthetic score
    // against the high-value label — Mann-Whitney rank-sum with
    // average-rank ties, integer pair counts over the collapsed
    // 1000-distinct-score relation, ONE double division at the end
    Q("q_auc", (s, dir) => {
      val ev = table(s, dir, "events")
        .select(((col("event_id") % 1000).cast("double") / 1000.0)
            .as("score"), (col("value") > 250.0).as("label"))
      graft.operators.Eval.aucRoc(ev, "score", "label")
        .select(col("n_pos"), col("n_neg"), round(col("auc"), 9).as("auc"))
    },
      // exact Mann-Whitney AUC mirrored on the same integer pair counts
      s"""SELECT n_pos, n_neg, round(auc, 9) AS auc FROM (
         |${graft.operators.Eval.aucRocOracleSql("events",
             "CAST(event_id % 1000 AS DOUBLE) / 1000.0", "value > 250.0")}
         |)""".stripMargin),

    // per-slice classification report: how the filter behaves on EACH
    // source plus the overall row ('__all__'), in ONE rollup aggregate
    // — aggregate accuracy hides the slice a filter guts
    Q("q_class_report", (s, dir) => {
      val d = table(s, dir, "documents")
        .select(col("source"), (col("lang") === "en").as("label"),
          ((col("n_chars") % 1000) >= 500).as("pred"))
      graft.operators.Eval.classificationReport(d, "label", "pred", "source")
        .select(col("slice"), col("n"), col("tp"), col("fp"), col("fn"),
          col("tn"),
          round(col("prec"), 9).as("prec"), round(col("rec"), 9).as("rec"),
          round(col("f1"), 9).as("f1"), round(col("acc"), 9).as("acc"),
          round(col("mcc"), 9).as("mcc"))
        .orderBy("slice")
    },
      s"""SELECT slice, n, tp, fp, fn, tn,
         |  round(prec, 9) AS prec, round(rec, 9) AS rec,
         |  round(f1, 9) AS f1, round(acc, 9) AS acc,
         |  round(mcc, 9) AS mcc FROM (
         |${graft.operators.Eval.classificationReportOracleSql("documents",
             "lang = 'en'", "(n_chars % 1000) >= 500", "source")}
         |) ORDER BY slice""".stripMargin),

    // retrieval-eval readout: per-query MRR / precision@10 / recall@10 /
    // AP / NDCG@10 over a scored candidate relation (query = user
    // cohort, relevance = click) — one query-keyed shuffle, two window
    // sorts, nano-quantized per-term quotients
    Q("q_ranking", (s, dir) => {
      val ev = table(s, dir, "events")
        .select((col("user_id") % 20).as("q"), col("event_id").as("d"),
          col("value").as("sc"),
          when(col("event_type") === "click", 1L).otherwise(0L).as("rel"))
      graft.operators.Eval.rankingMetrics(ev, "q", "d", "sc", "rel", k = 10)
        .select(col("query"), col("n_docs"), col("n_rel"),
          round(col("mrr"), 9).as("mrr"),
          round(col("precision_at_k"), 9).as("precision_at_k"),
          round(col("recall_at_k"), 9).as("recall_at_k"),
          round(col("avg_precision"), 9).as("avg_precision"),
          round(col("ndcg_at_k"), 9).as("ndcg_at_k"))
        .orderBy("query")
    },
      s"""SELECT query, n_docs, n_rel, round(mrr, 9) AS mrr,
         |  round(precision_at_k, 9) AS precision_at_k,
         |  round(recall_at_k, 9) AS recall_at_k,
         |  round(avg_precision, 9) AS avg_precision,
         |  round(ndcg_at_k, 9) AS ndcg_at_k FROM (
         |${graft.operators.Eval.rankingMetricsOracleSql(
             """(SELECT user_id % 20 AS query, event_id AS doc,
               |  value AS score,
               |  CASE WHEN event_type = 'click' THEN 1 ELSE 0 END AS rel
               |  FROM events)""".stripMargin, 10)}
         |) ORDER BY query""".stripMargin),

    // annotation QA: Cohen's kappa between the lang label and a
    // synthetically noised second annotator — one (a, b) cell count,
    // marginal products in DECIMAL, closed-form kappa
    Q("q_kappa", (s, dir) => {
      val docs = table(s, dir, "documents")
        .select(col("lang").as("a"),
          when(col("doc_id") % 5 === 0, lit("en"))
            .otherwise(col("lang")).as("b"))
      graft.operators.Eval.cohenKappa(docs, "a", "b")
        .select(col("n"),
          round(col("observed_agreement"), 9).as("observed_agreement"),
          round(col("expected_agreement"), 9).as("expected_agreement"),
          round(col("kappa"), 9).as("kappa"))
    },
      s"""SELECT n, round(observed_agreement, 9) AS observed_agreement,
         |  round(expected_agreement, 9) AS expected_agreement,
         |  round(kappa, 9) AS kappa FROM (
         |${graft.operators.Eval.cohenKappaOracleSql("documents", "lang",
             "CASE WHEN doc_id % 5 = 0 THEN 'en' ELSE lang END")}
         |)""".stripMargin),

    // multi-annotator agreement: Fleiss' kappa over synthetic rating
    // items (event_id % 150 = item, event_type = category, first 5
    // ratings in event_id order) — exact integer agreement/marginal
    // sums, closed-form double readout
    Q("q_fleiss", (s, dir) => {
      val ev = table(s, dir, "events")
        .select((col("event_id") % 150).as("item"), col("event_type"),
          col("event_id"))
      graft.operators.Eval.fleissKappa(ev, "item", "event_type",
        "event_id", n = 5)
        .select(col("n_items"), col("n_raters"),
          round(col("p_bar"), 9).as("p_bar"),
          round(col("p_e"), 9).as("p_e"),
          round(col("kappa"), 9).as("kappa"))
    },
      s"""SELECT n_items, n_raters, round(p_bar, 9) AS p_bar,
         |  round(p_e, 9) AS p_e, round(kappa, 9) AS kappa
         |FROM (
         |${graft.operators.Eval.fleissKappaOracleSql("events",
             "event_id % 150", "event_type", "event_id", n = 5)}
         |)""".stripMargin),

    // the agreement coefficient for RAGGED annotation drops —
    // Krippendorff's alpha handles variable rater counts and missing
    // ratings, which Cohen (exactly 2) and Fleiss (fixed n) cannot;
    // user_id % 7 makes item coverage genuinely uneven
    Q("q_krippendorff", (s, dir) => {
      val ev = table(s, dir, "events")
        .where(col("user_id") % 7 < 4)
        .select((col("event_id") % 200).as("item"), col("event_type"))
      graft.operators.Eval.krippendorffAlpha(ev, "item", "event_type")
        .select(col("n"), col("n_items"), col("n_cats"),
          round(col("alpha"), 9).as("alpha"))
    },
      s"""SELECT n, n_items, n_cats, round(alpha, 9) AS alpha FROM (
         |${graft.operators.Eval.krippendorffAlphaOracleSql(
             "(SELECT event_id % 200 AS item, event_type FROM events " +
               "WHERE user_id % 7 < 4)",
             "item", "event_type")}
         |)""".stripMargin),

    // Cramer's V between order status and priority: contingency effect
    // size (redundant-label / leakage screen) — one count aggregate,
    // densified model-sized chi-square fold with quantized terms
    Q("q_cramers_v", (s, dir) => {
      graft.operators.Profile.cramersV(table(s, dir, "orders"),
        "o_orderstatus", "o_orderpriority")
        .select(col("n"), col("rows"), col("cols"),
          round(col("chi2"), 6).as("chi2"), round(col("v"), 6).as("v"))
    },
      s"""SELECT n, rows, cols, round(chi2, 6) AS chi2, round(v, 6) AS v
         |FROM (
         |${graft.operators.Profile.cramersVOracleSql("orders",
             "o_orderstatus", "o_orderpriority")}
         |)""".stripMargin),

    // sample autocorrelation per event type at lags 1..4: one ordered
    // window pass + one aggregate of exact quantized cross-moments —
    // the seasonality diagnostic, integer-identity exact
    Q("q_acf", (s, dir) => {
      graft.operators.WindowOps.autocorr(
        graft.streaming.GraftStreaming.normalizeTs(
          table(s, dir, "events")),
        Seq("event_type"), Seq("ts", "event_id"), "value", maxLag = 4)
        .select(col("event_type"), col("lag"), col("n"),
          round(col("r"), 9).as("r"))
        .orderBy("event_type", "lag")
    },
      s"""WITH ${graft.operators.WindowOps.autocorrOracleCtes(
             "e AS (SELECT event_type, epoch_us(ts) AS tsu, event_id, " +
               "value AS v FROM events)",
             "event_type", Seq("tsu", "event_id"), maxLag = 4)}
         |SELECT event_type, lag, n, round(r, 9) AS r FROM acf
         |ORDER BY event_type, lag""".stripMargin),

    // one-vs-rest Mann-Whitney U on fixed-bin midranks: nonparametric
    // "does this event type's value distribution dominate the rest" —
    // ONE corpus aggregate, integer-exact midranks + tie correction on
    // the model-sized bin relation
    Q("q_mannwhitney", (s, dir) => {
      graft.operators.Profile.mannWhitneyBinned(
        table(s, dir, "events").select(col("event_type"), col("value")),
        "event_type", "value", lo = 0.0, hi = 500.0, bins = 1000)
        .select(col("event_type"), col("n"), col("u"),
          round(col("z"), 6).as("z"))
        .orderBy("event_type")
    },
      s"""SELECT event_type, n, u, round(z, 6) AS z FROM (
         |${graft.operators.Profile.mannWhitneyOracleSql("events",
             "event_type", "value", lo = 0.0, hi = 500.0, bins = 1000,
             groupAlias = "event_type")}
         |) ORDER BY event_type""".stripMargin),

    // Holt double exponential smoothing per user over the last 16
    // events: level + trend + one-step forecast, left-to-right fold
    // with identical IEEE sequences both engines
    Q("q_holt", (s, dir) => {
      graft.operators.WindowOps.holtSmooth(
        graft.streaming.GraftStreaming.normalizeTs(
          table(s, dir, "events")),
        Seq("user_id"), Seq("ts", "event_id"), "value",
        alpha = 0.5, beta = 0.25, maxHistory = 16)
        .select(col("user_id"), col("n_obs"),
          round(col("level"), 9).as("level"),
          round(col("trend"), 9).as("trend"),
          round(col("forecast"), 9).as("forecast"))
        .orderBy("user_id")
    },
      s"""WITH ${graft.operators.WindowOps.holtOracleCtes(
             "e AS (SELECT user_id, epoch_us(ts) AS tsu, event_id, " +
               "CAST(value AS DOUBLE) AS v FROM events)",
             "user_id", Seq("tsu", "event_id"),
             alpha = 0.5, beta = 0.25, maxHistory = 16)
             .replaceFirst("^e AS", "e AS").stripPrefix("")}
         |SELECT user_id, CAST(n_obs AS BIGINT) AS n_obs,
         |  round(level, 9) AS level, round(trend, 9) AS trend,
         |  round(forecast, 9) AS forecast
         |FROM hw ORDER BY user_id""".stripMargin),

    // Welch's t between every event-type pair on value: nano-quantized
    // exact moments, model-sized pairwise algebra, no pooled-variance
    // assumption
    Q("q_ttest", (s, dir) => {
      graft.operators.Profile.welchTTest(
        table(s, dir, "events").select(col("event_type"), col("value")),
        "event_type", "value")
        .select(col("group_a"), col("group_b"), col("n_a"), col("n_b"),
          round(col("mean_diff"), 6).as("mean_diff"),
          round(col("t_stat"), 6).as("t_stat"),
          round(col("welch_df"), 6).as("welch_df"))
        .orderBy("group_a", "group_b")
    },
      s"""SELECT group_a, group_b, n_a, n_b,
         |  round(mean_diff, 6) AS mean_diff, round(t_stat, 6) AS t_stat,
         |  round(welch_df, 6) AS welch_df FROM (
         |${graft.operators.Profile.welchTTestOracleSql("events",
             "event_type", "value")}
         |) ORDER BY group_a, group_b""".stripMargin),

    // greedy k-center coreset (farthest-point traversal): 12 maximally-
    // spread embeddings — k rounds of one broadcast join + min/argmax
    // aggregate, per-coordinate nano-quantized distances (integer-exact
    // selection, no ulp flips)
    Q("q_kcenter", (s, dir) => {
      graft.operators.Coreset.kCenter(table(s, dir, "embeddings"),
        "vec_id", "embedding", k = 12)
        .orderBy("round")
    },
      s"""SELECT round, vec_id, d2_q9 FROM (
         |${graft.operators.Coreset.kCenterOracleSql(
             "p AS (SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS v " +
               "FROM embeddings)",
             "vec_id", k = 12)}
         |) ORDER BY round""".stripMargin),

    // DBSCAN roles over the embedding plane via the epsilon-grid join:
    // 3x3-neighborhood candidates, exact squared-distance filter,
    // core/border/noise labels — never a cartesian product
    Q("q_dbscan", (s, dir) => {
      graft.operators.Density.dbscanRoles(
        table(s, dir, "embeddings")
          .select(col("vec_id"),
            element_at(col("embedding"), 1).as("x"),
            element_at(col("embedding"), 2).as("y")),
        "vec_id", "x", "y", eps = 0.02, minPts = 5L)
        .orderBy("vec_id")
    },
      s"""SELECT vec_id, n_neighbors, role FROM (
         |${graft.operators.Density.dbscanOracleSql(
             "p AS (SELECT vec_id AS id, CAST(embedding[1] AS DOUBLE) AS x, " +
               "CAST(embedding[2] AS DOUBLE) AS y FROM embeddings)",
             "vec_id", eps = 0.02, minPts = 5L)}
         |) ORDER BY vec_id""".stripMargin),

    // in-engine decision-tree training by level-wise histogram split
    // finding (the XGBoost pattern): depth-2 tree on the first 8
    // embedding coordinates predicting label<5, 16 exact-binary-width
    // bins — ONE corpus aggregate per level, model-sized driver hops,
    // integer-exact histograms, 1e-9-quantized gain ranking
    Q("q_tree", (s, dir) => {
      val pts = table(s, dir, "embeddings")
        .select(col("embedding"),
          (col("label") < 5).cast("int").as("y"))
      graft.operators.TreeModel.treeFit(pts, "embedding", "y",
        nFeatures = 8, bins = 16, lo = -0.5, hi = 0.5, depth = 2,
        minLeaf = 5L)
        .orderBy("node_id")
    },
      s"""SELECT node_id, depth, n, n_pos, feature, bin, threshold,
         |  gain_q9 FROM (
         |${graft.operators.TreeModel.treeCtesSql(
             "pts AS (SELECT vec_id AS rid, CAST(embedding AS DOUBLE[]) AS v, " +
               "CASE WHEN label < 5 THEN 1 ELSE 0 END AS y FROM embeddings)",
             nFeatures = 8, bins = 16, lo = -0.5, hi = 0.5, depth = 2,
             minLeaf = 5L)}
         |SELECT * FROM nodes
         |) ORDER BY node_id""".stripMargin),

    // ...and the fitted tree's training-set confusion: a map-only
    // CASE-chain walk to the leaf + one count aggregate
    Q("q_tree_acc", (s, dir) => {
      val pts = table(s, dir, "embeddings")
        .select(col("embedding"),
          (col("label") < 5).cast("int").as("y"))
      val tree = graft.operators.TreeModel.treeFit(pts, "embedding", "y",
        nFeatures = 8, bins = 16, lo = -0.5, hi = 0.5, depth = 2,
        minLeaf = 5L)
      graft.operators.TreeModel.treeConfusion(pts, "embedding", "y",
        tree, nFeatures = 8, bins = 16, lo = -0.5, hi = 0.5)
        .orderBy("label", "pred")
    },
      s"""SELECT label, pred, n FROM (
         |${graft.operators.TreeModel.treeConfusionSql(
             "pts AS (SELECT vec_id AS rid, CAST(embedding AS DOUBLE[]) AS v, " +
               "CASE WHEN label < 5 THEN 1 ELSE 0 END AS y FROM embeddings)",
             nFeatures = 8, bins = 16, lo = -0.5, hi = 0.5, depth = 2,
             minLeaf = 5L)}
         |) ORDER BY label, pred""".stripMargin),

    // variance-optimal budget spending: Neyman-allocation stratified
    // sample of 600 events across event types (n_h proportional to
    // N_h*sigma_h) — exact quantized moments, integer allocation,
    // md5-rank membership
    Q("q_neyman", (s, dir) => {
      Sampling.neymanSample(table(s, dir, "events")
          .select(col("event_type"), col("event_id"), col("value")),
        "event_type", "value", "event_id", budget = 600L)
        .select(col("event_type"), col("event_id"), col("n_stratum"),
          round(col("sigma"), 9).as("sigma"), col("alloc"))
        .orderBy("event_type", "event_id")
    },
      s"""SELECT st AS event_type, id AS event_id, n_stratum,
         |  round(sigma, 9) AS sigma, alloc FROM (
         |${graft.operators.Sampling.neymanOracleSql("events",
             "event_type", "value", "event_id", budget = 600L)}
         |) ORDER BY event_type, event_id""".stripMargin),

    // deployment gate for a trained filter: split-conformal prediction
    // sets at alpha=0.1 over the synthetic q_auc classifier (even
    // events calibrate, odd evaluate) — rank-statistic threshold on the
    // distinct-nonconformity relation, exact count ratios
    Q("q_conformal", (s, dir) => {
      val ev = table(s, dir, "events")
        .select(col("event_id"),
          ((col("event_id") % 1000).cast("double") / 1000.0).as("score"),
          (col("value") > 250.0).as("label"))
      graft.operators.Eval.splitConformal(
        ev.where(col("event_id") % 2 === 0),
        ev.where(col("event_id") % 2 === 1),
        "score", "label", alpha = 0.1)
        .select(col("n_cal"), col("k"), round(col("qhat"), 9).as("qhat"),
          col("n_eval"), round(col("coverage"), 9).as("coverage"),
          round(col("avg_set_size"), 9).as("avg_set_size"))
    },
      s"""SELECT n_cal, k, round(qhat, 9) AS qhat, n_eval,
         |  round(coverage, 9) AS coverage,
         |  round(avg_set_size, 9) AS avg_set_size FROM (
         |${graft.operators.Eval.splitConformalOracleSql(
             "(SELECT * FROM events WHERE event_id % 2 = 0)",
             "(SELECT * FROM events WHERE event_id % 2 = 1)",
             "CAST(event_id % 1000 AS DOUBLE) / 1000.0",
             "value > 250.0", alpha = 0.1)}
         |)""".stripMargin),

    // label-error mining: the confident-learning joint over the same
    // scored corpus — class-conditional mean-probability thresholds
    // (nano-quantized), off-diagonal cells = estimated label errors
    Q("q_label_errors", (s, dir) => {
      val ev = table(s, dir, "events")
        .select(((col("event_id") % 1000).cast("double") / 1000.0)
            .as("score"), (col("value") > 250.0).as("label"))
      graft.operators.Eval.confidentJointBinary(ev, "score", "label")
        .orderBy("label", "assigned")
    },
      s"""SELECT label, assigned, n FROM (
         |${graft.operators.Eval.confidentJointOracleSql("events",
             "CAST(event_id % 1000 AS DOUBLE) / 1000.0",
             "value > 250.0")}
         |) ORDER BY label, assigned""".stripMargin),

    // rare-positive readout: area under the precision-recall curve of
    // the same synthetic classifier as q_auc — step-wise average
    // precision over descending distinct-score thresholds,
    // nano-quantized per-threshold terms
    Q("q_pr_auc", (s, dir) => {
      val ev = table(s, dir, "events")
        .select(((col("event_id") % 1000).cast("double") / 1000.0)
            .as("score"), (col("value") > 250.0).as("label"))
      graft.operators.Eval.prAuc(ev, "score", "label")
        .select(col("n_pos"), col("n_neg"),
          round(col("pr_auc"), 9).as("pr_auc"))
    },
      s"""SELECT n_pos, n_neg, round(pr_auc, 9) AS pr_auc FROM (
         |${graft.operators.Eval.prAucOracleSql("events",
             "CAST(event_id % 1000 AS DOUBLE) / 1000.0", "value > 250.0")}
         |)""".stripMargin),

    // generation-eval readout: corpus BLEU of each sampled doc's 80%
    // prefix against the full doc — clipped modified n-gram precisions
    // (n=1..4), brevity penalty on total token lengths, geometric mean
    Q("q_bleu", (s, dir) => {
      val pairs = table(s, dir, "documents")
        .where(col("doc_id") % 10 === 0)
        .select(col("doc_id").as("id"),
          expr("substring(text, 1, CAST(n_chars * 4 DIV 5 AS INT))")
            .as("cand"),
          col("text").as("ref"))
      graft.operators.Eval.bleuCorpus(pairs, "id", "cand", "ref", maxN = 4)
        .select(col("n_pairs"), col("cand_tokens"), col("ref_tokens"),
          round(col("p1"), 9).as("p1"), round(col("p2"), 9).as("p2"),
          round(col("p3"), 9).as("p3"), round(col("p4"), 9).as("p4"),
          round(col("bp"), 9).as("bp"), round(col("bleu"), 9).as("bleu"))
    },
      s"""SELECT n_pairs, cand_tokens, ref_tokens,
         |  round(p1, 9) AS p1, round(p2, 9) AS p2,
         |  round(p3, 9) AS p3, round(p4, 9) AS p4,
         |  round(bp, 9) AS bp, round(bleu, 9) AS bleu FROM (
         |${graft.operators.Eval.bleuCorpusOracleSql(
             """(SELECT doc_id AS id,
               |  substring(text, 1, CAST(n_chars * 4 // 5 AS INT)) AS cand,
               |  text AS ref
               |  FROM documents WHERE doc_id % 10 = 0)""".stripMargin, 4)}
         |)""".stripMargin),

    // summarization-style overlap scoring: ROUGE-2 of each sampled doc
    // against its successor — clipped multiset bigram counts, integer
    // overlap, F1 = 2o/(ct+rt) as one division
    Q("q_rouge", (s, dir) => {
      val docs = table(s, dir, "documents")
      val pairs = docs.where(col("doc_id") % 10 === 0)
        .select(col("doc_id").as("id"), col("text").as("cand"))
        .join(docs.select((col("doc_id") - 1).as("id"),
          col("text").as("ref")), "id")
      graft.operators.Eval.rougeN(pairs, "id", "cand", "ref", n = 2)
        .select(col("id"), col("overlap"), col("cand_ngrams"),
          col("ref_ngrams"),
          round(col("rouge_precision"), 9).as("rouge_precision"),
          round(col("rouge_recall"), 9).as("rouge_recall"),
          round(col("rouge_f1"), 9).as("rouge_f1"))
        .orderBy("id")
    },
      s"""WITH pairs AS (SELECT a.doc_id AS id, a.text AS cand,
         |    b.text AS ref
         |  FROM documents a JOIN documents b ON b.doc_id = a.doc_id + 1
         |  WHERE a.doc_id % 10 = 0)
         |SELECT id, overlap, cand_ngrams, ref_ngrams,
         |  round(rouge_precision, 9) AS rouge_precision,
         |  round(rouge_recall, 9) AS rouge_recall,
         |  round(rouge_f1, 9) AS rouge_f1 FROM (
         |${graft.operators.Eval.rougeNOracleSql("pairs", 2)}
         |) ORDER BY id""".stripMargin)
  )
}
