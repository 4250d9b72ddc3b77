package graft

import org.apache.spark.sql.{DataFrame => SDF, SparkSession}
import org.apache.spark.sql.functions._
import graft.api.{DataFrame, Frames, Series}
import graft.operators.{AsOfJoin, Dedup, Multimodal, Privacy, Profile, RangeJoin, Sampling, ShardPack, Similarity, SkewJoin, TextAnalysis, WindowOps}
import graft.streaming.GraftStreaming
import org.apache.spark.sql.types.DecimalType
import org.apache.spark.sql.expressions.Window

/** Driver contract — one `queries` entry per implemented operator from
  * SURVEY.md §2, each mirrored by equivalent DuckDB SQL in [[oracleSql]].
  * Column names are aligned between both sides (the driver sorts columns by
  * name before hashing). Every query ends with a deterministic ORDER BY on
  * both sides. */
object SparkEntry {

  /** Per-session parquet table registry: file listing + footer/schema
    * read happen once per (session, path) instead of once per query — in
    * a 54-query Verify/Bench sweep that shaves a fixed planning cost off
    * every query without changing any plan (the returned DataFrame is the
    * same lazy scan). */
  private val tableCache =
    scala.collection.concurrent.TrieMap.empty[(SparkSession, String), SDF]

  /** Epoch-ns long time base for `events.ts`, fixed at the read
    * boundary: every query downstream does integer arithmetic on nanos,
    * and the testdata has shipped both timestamp[ns] and timestamp[us]
    * vintages — both converge through the ONE shared seam,
    * [[GraftStreaming.tsToEpochNs]] (batch and streaming must never
    * diverge on this). Tables without a `ts` column pass through. */
  private def table(s: SparkSession, dir: String, name: String): SDF =
    tableCache.getOrElseUpdate((s, s"$dir/$name.parquet"), {
      val raw = s.read.parquet(s"$dir/$name.parquet")
      if (raw.schema.fieldNames.contains("ts")) GraftStreaming.tsToEpochNs(raw)
      else raw
    })

  /** The events table with the µs time base (`tsu = ts DIV 1000`)
    * derived ONCE — the glue-layer twin of [[table]]'s ns seam. Every
    * query that works in microseconds derives `tsu` here, so the next
    * ts-vintage change has exactly one seam in the query glue too
    * (exact integer division; a double `/1e3` loses ns precision at
    * 2e18 epoch values). */
  private def eventsMicros(s: SparkSession, dir: String): SDF =
    table(s, dir, "events").withColumn("tsu", expr("ts DIV 1000"))

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

  /** Synthetic classifier (score, label) over documents — ONE
    * definition shared by q_calibration, q_gains, and q_gini, whose
    * gates all assume "same synthesis" (q_gini must band exactly
    * q_gains' input). Rows with NULL n_chars or lang are excluded HERE
    * so the Spark side and the oracle CTEs drop the same rows — the
    * downstream operators' own NULL filters would otherwise disagree
    * with an unguarded oracle synthesis. */
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

  private def scoredDocs(s: SparkSession, dir: String): SDF =
    table(s, dir, "documents")
      .where(col("n_chars").isNotNull && col("lang").isNotNull)
      .select((col("n_chars") % 1000).cast("double").divide(1000.0)
          .as("score"),
        (col("lang") === "en").as("label"))

  /** The view→click→purchase recursive min chain, shared by q_funnel
    * and q_stream_funnel (the stream's distinct-keys-per-step is the
    * batch count by construction — one string keeps the gates synced). */
  private val funnelOracleSql: String =
    """WITH s1 AS (SELECT user_id AS u, min(epoch_us(ts)) AS t FROM events
      |            WHERE event_type = 'view' GROUP BY 1),
      |s2 AS (SELECT e.user_id AS u, min(epoch_us(e.ts)) AS t FROM events e
      |       JOIN s1 ON e.user_id = s1.u
      |       WHERE e.event_type = 'click' AND epoch_us(e.ts) > s1.t
      |       GROUP BY 1),
      |s3 AS (SELECT e.user_id AS u, min(epoch_us(e.ts)) AS t FROM events e
      |       JOIN s2 ON e.user_id = s2.u
      |       WHERE e.event_type = 'purchase' AND epoch_us(e.ts) > s2.t
      |       GROUP BY 1)
      |SELECT 1 AS step, 'view' AS event_type,
      |  (SELECT count(*) FROM s1) AS n_users
      |UNION ALL SELECT 2, 'click', (SELECT count(*) FROM s2)
      |UNION ALL SELECT 3, 'purchase', (SELECT count(*) FROM s3)
      |ORDER BY step""".stripMargin

  /** The tombstone-replay snapshot (latest per key, latest-delete keys
    * gone), shared by q_cdc and q_stream_cdc — the stream's compacted
    * emission set IS the batch snapshot, so one string keeps the two
    * gates synced. */
  private val CdcOracleSql: String =
    """WITH b AS (SELECT event_id, epoch_us(ts) AS tsu, value FROM events),
      |log AS (SELECT event_id, tsu, value, 'I' AS op FROM b
      |  UNION ALL SELECT event_id, tsu + 1000, value * 2, 'U' FROM b
      |    WHERE event_id % 10 = 0
      |  UNION ALL SELECT event_id, tsu + 2000, 0.0, 'D' FROM b
      |    WHERE event_id % 20 = 0),
      |r AS (SELECT *, row_number() OVER (PARTITION BY event_id
      |  ORDER BY tsu DESC) AS rn FROM log)
      |SELECT event_id, tsu, value FROM r WHERE rn = 1 AND op <> 'D'
      |ORDER BY event_id""".stripMargin

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

  private def lineitem(s: SparkSession, dir: String): DataFrame =
    DataFrame.fromSpark(table(s, dir, "lineitem"),
      index = Seq("l_orderkey", "l_linenumber"))

  private def ordersByKey(s: SparkSession, dir: String): DataFrame =
    DataFrame.fromSpark(table(s, dir, "orders"), index = Seq("o_orderkey"))

  private def partByKey(s: SparkSession, dir: String): DataFrame =
    DataFrame.fromSpark(table(s, dir, "part"), index = Seq("p_partkey"))

  /** Flagship query on sf=0.001; driver smoke-checks rows>0. */
  /** Flagship: the end-to-end corpus-curation pipeline (quality gate →
    * exact-dedup canonicalization → benchmark decontamination → token
    * accounting) — one declarative plan composing four operator
    * families; 421 of 500 docs survive at sf0.001. */
  def entry(spark: SparkSession): SDF =
    queries("q_curation")(spark, "/root/testdata/sf0.001")

  // Sentinels used to make NaN/±Inf hash-stable across engines in
  // oracle-checked outputs (DuckDB x/0.0 is NULL, so the numpy semantics
  // are spelled out in the oracle SQL as CASE arms producing the same
  // sentinels).
  private val NanS = 9e9
  private val PInfS = 8e8
  private val NInfS = -8e8

  // fixed learned-merge list for the BPE-encode query — the vocabulary is
  // an offline artifact in a real pipeline; the query applies it
  private val BpeMerges: Seq[(String, String)] = Seq(
    "t" -> "h", "th" -> "e", "i" -> "n", "a" -> "n", "e" -> "r",
    "o" -> "n", "r" -> "e", "a" -> "t", "in" -> "g", "s" -> "t",
    "an" -> "d", "o" -> "u")

  def queries: Map[String, (SparkSession, String) => SDF] = Map(
    // §2.7 scalar broadcasting + fused same-base Series arithmetic
    "q_scalar_arith" -> ((s, dir) => {
      val li = lineitem(s, dir)
      val rev = li("l_extendedprice") * li("l_discount").rsub(1.0)
      li.select(Seq("l_quantity"))
        .withColumn("revenue", rev)
        .withColumn("charge", rev * li("l_tax").radd(1.0))
        .toSpark(includeIndex = true)
        .orderBy("l_orderkey", "l_linenumber")
    }),

    // §2.7 comparison ops (eq/gt/le) producing boolean columns
    "q_cmp" -> ((s, dir) => {
      val li = lineitem(s, dir)
      li.select(Nil)
        .withColumn("big_qty", li("l_quantity") > 25)
        .withColumn("low_disc", li("l_discount") <= 0.05)
        .withColumn("is_return", li("l_returnflag") === "R")
        .toSpark(includeIndex = true)
        .orderBy("l_orderkey", "l_linenumber")
    }),

    // coercion.py:48-70 numpy-IEEE division via the Semantics when-chain,
    // classified to finite sentinels for cross-engine hashing
    "q_ieee_div" -> ((s, dir) => {
      val li = lineitem(s, dir)
      val d = (li("l_quantity") - 25).div(li("l_discount") - 0.05)
      li.select(Nil)
        .withColumn("division", d)
        .applymap(c => when(isnan(c), lit(NanS))
          .when(c === lit(Double.PositiveInfinity), lit(PInfS))
          .when(c === lit(Double.NegativeInfinity), lit(NInfS))
          .otherwise(c))
        .toSpark(includeIndex = true)
        .orderBy("l_orderkey", "l_linenumber")
    }),

    // alchemy.py:254-262 clip = GREATEST/LEAST through broadcast machinery
    "q_clip" -> ((s, dir) => {
      val li = lineitem(s, dir)
      li.select(Seq("l_quantity")).clip(10, 40)
        .toSpark(includeIndex = true)
        .orderBy("l_orderkey", "l_linenumber")
    }),

    // generic.py:77-79 abs; §2.7 scalar sub
    "q_abs" -> ((s, dir) => {
      val li = lineitem(s, dir)
      li.select(Nil)
        .withColumn("disc_dev", (li("l_discount") - 0.05).abs)
        .toSpark(includeIndex = true)
        .orderBy("l_orderkey", "l_linenumber")
    }),

    // base.py:72-79 full-outer index alignment + alchemy.py:178-181
    // post-op fill_value coalesce
    "q_fill_value" -> ((s, dir) => {
      val o = ordersByKey(s, dir)("o_totalprice")
      val p = partByKey(s, dir)("p_retailprice")
      o.add(p, fillValue = Some(-1.0)).rename(Some("s"))
        .toSpark(includeIndex = true)
        .orderBy("o_orderkey")
    }),

    // pandas assignment alignment: df[c] = foreign series LEFT-aligns (s is
    // reindexed to df's index; part keys absent from orders are dropped,
    // orders rows without a part get NULL) — oracle = LEFT JOIN
    "q_assign_align" -> ((s, dir) => {
      val o = ordersByKey(s, dir).select(Seq("o_totalprice"))
      val p = partByKey(s, dir)("p_retailprice")
      o.withColumn("rp", p)
        .toSpark(includeIndex = true)
        .orderBy("o_orderkey")
    }),

    // pandas assignment OVERWRITE: `df[c] = s` with an existing label
    // replaces that column IN PLACE (same-base fuse for o_custkey,
    // left-aligned foreign series for o_totalprice) — never appends a
    // duplicate label
    "q_assign_overwrite" -> ((s, dir) => {
      val o = ordersByKey(s, dir).select(Seq("o_totalprice", "o_custkey"))
      val p = partByKey(s, dir)("p_retailprice")
      o.withColumn("o_custkey", o("o_custkey") * 10)
        .withColumn("o_totalprice", p)
        .toSpark(includeIndex = true)
        .orderBy("o_orderkey")
    }),

    // §2.7 comparisons across FOJ-aligned frames WITH NULLs: the engine
    // (like the reference, SURVEY §7.4.2 — unlike pandas' False) lets
    // NULL propagate through eq/gt; this query pins that choice against
    // the oracle's SQL comparison semantics
    "q_cmp_null" -> ((s, dir) => {
      val o = ordersByKey(s, dir)("o_totalprice")
      val p = partByKey(s, dir)("p_retailprice")
      val eqf = (o === p).rename(Some("v"))
        .toSpark(includeIndex = true).withColumn("op", lit("eq"))
      val gtf = o.gt(p).rename(Some("v"))
        .toSpark(includeIndex = true).withColumn("op", lit("gt"))
      eqf.unionAll(gtf).orderBy("op", "o_orderkey")
    }),

    // generic.py:69-75 isna over the NULLs produced by outer alignment
    "q_isna" -> ((s, dir) => {
      val o = ordersByKey(s, dir)("o_totalprice")
      val p = partByKey(s, dir)("p_retailprice")
      o.add(p).rename(Some("s")).isna
        .toSpark(includeIndex = true)
        .orderBy("o_orderkey")
    }),

    // generic.py:46-48 head on a sorted source
    "q_head" -> ((s, dir) => {
      val o = DataFrame.fromSpark(
        table(s, dir, "orders").orderBy("o_orderkey"),
        index = Seq("o_orderkey"))
      o.select(Seq("o_totalprice", "o_orderstatus")).head(10)
        .toSpark(includeIndex = true)
        .orderBy("o_orderkey")
    }),

    // generic.py:50-57 tail = COUNT then LIMIT/OFFSET
    "q_tail" -> ((s, dir) => {
      val o = DataFrame.fromSpark(
        table(s, dir, "orders").orderBy("o_orderkey"),
        index = Seq("o_orderkey"))
      o.select(Seq("o_totalprice", "o_orderstatus")).tail(10)
        .toSpark(includeIndex = true)
        .orderBy("o_orderkey")
    }),

    // the one-pass tail (every partition ships its count + last ≤ n
    // rows in a single sweep — the scan-dominated path a 100 TB table
    // wants instead of tail()'s COUNT-then-OFFSET double scan); same
    // oracle as q_tail because the row contract is identical
    "q_tail_onepass" -> ((s, dir) => {
      val o = DataFrame.fromSpark(
        table(s, dir, "orders").orderBy("o_orderkey"),
        index = Seq("o_orderkey"))
      o.select(Seq("o_totalprice", "o_orderstatus")).tailOnePass(10)
        .toSpark(includeIndex = true)
        .orderBy("o_orderkey")
    }),

    // alchemy.py:470-478 Series add_prefix — concat onto index values
    // str accessor: upper/len/contains/extract/pad/count as one fused
    // projection over the scan
    "q_str_ops" -> ((s, dir) => {
      val o = ordersByKey(s, dir)
      val p = o("o_orderpriority")
      o.select(Nil)
        .withColumn("up", p.str.upper)
        .withColumn("ln", p.str.len)
        .withColumn("has_urgent", p.str.contains("URGENT"))
        .withColumn("prio_num", p.str.extract("(\\d)", 1))
        .withColumn("urg", p.str.extract("(URGENT)", 1)) // no match → NULL
        // alternation: group 2 does not PARTICIPATE when the URGENT arm
        // matches → NULL (not ""), the pandas semantics the native
        // RegexGroupExtract kernel pins down
        .withColumn("alt2", p.str.extract("(URGENT)|(LOW)", 2))
        .withColumn("padded", p.str.pad(12, "_"))
        .withColumn("n_vowels", p.str.count("[AEIOU]"))
        .toSpark(includeIndex = true)
        .orderBy("o_orderkey")
    }),

    // str accessor round-out (pandas parity the reference leaves
    // unchecked — API_COVERAGE.md:238-290): zfill/find/get/capitalize/
    // char-class tests/repeat/strips, one fused projection like
    // q_str_ops
    "q_str_ops2" -> ((s, dir) => {
      val o = ordersByKey(s, dir)
      val p = o("o_orderpriority")
      o.select(Nil)
        .withColumn("z", p.str.zfill(12))
        .withColumn("f", p.str.find("URGENT"))
        .withColumn("g2", p.str.get(2))
        .withColumn("cap", p.str.capitalize)
        .withColumn("alnum", p.str.slice(2, 4).str.isalnum)
        .withColumn("rep", p.str.get(0).str.repeat(3))
        .withColumn("dig", p.str.get(0).str.isdigit)
        .toSpark(includeIndex = true)
        .orderBy("o_orderkey")
    }),

    // dt accessor round-out: dayofyear/quarter/ISO week/pandas weekday
    // (Mon=0)/days-in-month/month-boundary flags — same fused
    // projection shape as q_dt_parts
    "q_dt_parts2" -> ((s, dir) => {
      val li = lineitem(s, dir)
      val d = li("l_shipdate")
      li.select(Nil)
        .withColumn("doy", d.dt.dayofyear)
        .withColumn("q", d.dt.quarter)
        .withColumn("wk", d.dt.week)
        .withColumn("wd", d.dt.weekday)
        .withColumn("dim", d.dt.daysInMonth)
        .withColumn("ms", d.dt.isMonthStart)
        .withColumn("me", d.dt.isMonthEnd)
        .toSpark(includeIndex = true)
        .orderBy("l_orderkey", "l_linenumber")
    }),

    "q_series_prefix" -> ((s, dir) => {
      ordersByKey(s, dir)("o_totalprice").addPrefix("k_")
        .toSpark(includeIndex = true)
        .orderBy("o_orderkey")
    }),

    // extension: groupBy/agg (TPC-H Q1 shape); double sums go through
    // DECIMAL(18,4) so they are exact and aggregation-order-independent,
    // then back to DOUBLE for hashing
    // ROLLUP: hierarchical subtotals + grand total in ONE aggregate pass
    // (Expand, same shuffle as plain groupBy); decimal sums engine-exact
    "q_rollup" -> ((s, dir) => {
      val li = lineitem(s, dir)
      val typed = li.select(Seq("l_returnflag", "l_linestatus"))
        .withColumn("qty_d", li("l_quantity").astype(DecimalType(18, 4)))
      typed.groupby(Seq("l_returnflag", "l_linestatus"))
        .rollupAgg(("qty_d", "sum", "sum_qty"), ("qty_d", "count", "cnt"))
        .toSpark(includeIndex = false)
        .selectExpr("l_returnflag", "l_linestatus",
          "CAST(sum_qty AS DOUBLE) AS sum_qty", "cnt")
        .orderBy("l_returnflag", "l_linestatus")
    }),

    // winsorize per group: clip to the group's [p05, p95] via two
    // percentile transforms (each a tiny grouped aggregate joined back
    // broadcast-style — the 5-value priority key would collapse a
    // window plan into 5 tasks at scale)
    "q_winsorize" -> ((s, dir) => {
      val o = DataFrame.fromParquet(s, s"$dir/orders.parquet",
        index = Seq("o_orderkey"))
      val t = o.groupby(Seq("o_orderpriority"))
        .transform("o_totalprice", "p05", "p05")
        .groupby(Seq("o_orderpriority"))
        .transform("o_totalprice", "p95", "p95")
      t.toSpark(includeIndex = true)
        .select(col("o_orderkey"),
          greatest(least(col("o_totalprice"), col("p95")), col("p05")).as("w"))
        .orderBy("o_orderkey")
    }),

    // extension: engine-exact numeric describe (long format) — decimal
    // moments, doubles only at the final arithmetic (zscore contract)
    "q_describe" -> ((s, dir) => {
      DataFrame.fromSpark(table(s, dir, "lineitem"))
        .describeStats(Seq("l_quantity", "l_extendedprice", "l_discount"))
        .toSpark(includeIndex = false)
        .select(col("column"), col("n"), round(col("mean"), 6).as("mean"),
          round(col("std"), 6).as("std"), col("mn"), col("mx"))
        .orderBy("column")
    }),

    // pipeline: per-group z-score feature scaling — decimal-exact moments
    // over ONE unordered window, doubles only at the final arithmetic
    "q_zscore" -> ((s, dir) => {
      WindowOps.zscore(table(s, dir, "orders"), Seq("o_orderpriority"),
          "o_totalprice")
        .select(col("o_orderkey"), round(col("z"), 6).as("z"))
        .orderBy("o_orderkey")
    }),

    // robust (median/MAD) standardization — the outlier-resistant gate;
    // exact percentiles make it engine-exact (quantile parity proven by
    // q_group_quantile); MAD = 0 groups yield NULL, not ±Inf
    "q_robust_z" -> ((s, dir) => {
      WindowOps.robustZScore(table(s, dir, "orders")
        .select("o_orderkey", "o_orderpriority", "o_totalprice"),
        Seq("o_orderpriority"), "o_totalprice")
        .select(col("o_orderkey"), round(col("robust_z"), 9).as("robust_z"))
        .orderBy("o_orderkey")
    }),

    // the approx seam contract for robustZScore (q_outliers_approx's
    // pattern): the bounded-memory GK-sketch twin (percentile_approx in
    // BOTH median passes) must land every row's robust z within
    // tolerance of the exact-percentile z — NULL classes (MAD = 0
    // groups) must agree too. The oracle recomputes the group sizes and
    // pins approx_ok TRUE, so the documented 100 TB sketch swap is an
    // executable claim, not a doc sentence
    "q_robust_z_approx" -> ((s, dir) => {
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
    }),

    // pipeline: incremental-ingest novelty — batch docs (id%10>=7) anti-
    // joined on fingerprint against the corpus (id%10<8); the %10==7
    // docs ARE corpus members, so exactly the 8/9 buckets survive
    "q_novel" -> ((s, dir) => {
      val docs = table(s, dir, "documents").select("doc_id", "text")
      val corpus = docs.where(pmod(col("doc_id"), lit(10)) < 8)
      val batch = docs.where(pmod(col("doc_id"), lit(10)) >= 7)
      Dedup.novelAgainst(batch, corpus, "text")
        .select("doc_id").orderBy("doc_id")
    }),

    // vocabulary drift between snapshot halves (even vs odd doc ids):
    // chi-square contribution per word, largest movers first — log-free
    // rational arithmetic over exact counts, so no quantization needed
    "q_vocab_drift" -> ((s, dir) => {
      val docs = table(s, dir, "documents").select("doc_id", "text")
      TextAnalysis.vocabularyDrift(
        docs.where(pmod(col("doc_id"), lit(2)) === 0),
        docs.where(pmod(col("doc_id"), lit(2)) === 1),
        "text", topK = 100)
    }),

    // bounded-memory heavy hitters: one ≤ capacity-entry Misra–Gries
    // sketch per map partial on the wire instead of a keyspace-wide
    // exchange; capacity 1024 >> the test vocabulary, so counts are
    // exact and the result ≡ the GROUP BY oracle
    "q_heavy_hitters" -> ((s, dir) => {
      TextAnalysis.heavyHitterTokens(
        table(s, dir, "documents").select("text"), "text",
        capacity = 1024, k = 10)
        .orderBy("rank")
    }),

    // boilerplate probe: document frequency of 3-gram shingles (distinct
    // per doc) through the MG sketch — "which phrases repeat across the
    // crawl"; capacity 32768 > the 16k distinct shingles at test scale,
    // so counts are exact document frequencies
    "q_boilerplate" -> ((s, dir) => {
      val docs = table(s, dir, "documents").select("doc_id", "text")
      TextAnalysis.heavyHitters(
        docs.select(explode(Dedup.shingles(col("text"), 3)).as("__sh")),
        col("__sh"), capacity = 32768, k = 20)
        .orderBy("rank")
    }),

    // Count–Min frequency sketch honesty check: ONE fixed 2048×4 counter
    // array summarizes the whole user_id stream (64 KB on the wire,
    // independent of cardinality), probed for the exact top-20 users.
    // The oracle asserts the one-sided guarantee est ≥ exact and the
    // ε·N width bound (est ≤ exact + 4N/width, deterministic for the
    // fixed murmur3 row seeds) — both spelled TRUE in the oracle
    "q_cm_freq" -> ((s, dir) => {
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
    }),

    // snapshot diff (daily-crawl delta): old = ids % 7 != 0, new = ids
    // % 5 != 0 with every id % 3 == 0 text edited — so added/removed/
    // changed are all exercised by construction; unchanged rows (the
    // 100 TB bulk) are excluded, the output IS the delta
    "q_corpus_diff" -> ((s, dir) => {
      val docs = table(s, dir, "documents").select("doc_id", "text")
      val oldSnap = docs.where(pmod(col("doc_id"), lit(7)) =!= 0)
      val newSnap = docs.where(pmod(col("doc_id"), lit(5)) =!= 0)
        .withColumn("text", when(pmod(col("doc_id"), lit(3)) === 0,
          concat(col("text"), lit(" EDIT"))).otherwise(col("text")))
      Dedup.corpusDiff(oldSnap, newSnap, "doc_id", "text")
        .orderBy("doc_id")
    }),

    // Bloom-filter novelty — the sublinear-memory form of q_novel: the
    // corpus collapses to a 2^23-bit deterministic Bloom sketch that
    // broadcasts, so neither side shuffles. At this scale the false-
    // positive probability is ≪ 1/|batch| and the filter is fully
    // deterministic (seeded xxhash64), so the result provably EQUALS
    // exact novelty — the oracle is the exact anti-join itself (any
    // false positive would hash-mismatch the gate, pinning FP-freedom).
    "q_bloom_novel" -> ((s, dir) => {
      val docs = table(s, dir, "documents").select("doc_id", "text")
      val corpus = docs.where(pmod(col("doc_id"), lit(10)) < 8)
      val batch = docs.where(pmod(col("doc_id"), lit(10)) >= 7)
      Dedup.novelAgainstBloom(batch, corpus, "text")
        .select("doc_id").orderBy("doc_id")
    }),

    // the Bloom novelty gate on a STREAM: the corpus sketch is an
    // eager batch scalar riding the streaming plan as a literal, so the
    // stream filter is stateless map-side work — ingest-time dedup
    // against a static corpus with zero streaming state
    "q_stream_novel" -> ((s, dir) => {
      val docs = table(s, dir, "documents").select("doc_id", "text")
      val corpus = docs.where(pmod(col("doc_id"), lit(10)) < 8)
      val stream = GraftStreaming.readDocumentsGlob(s, dir, "documents.parquet")
        .where(pmod(col("doc_id"), lit(10)) >= 7)
        .select("doc_id", "text")
      val novel = Dedup.novelAgainstBloom(stream, corpus, "text")
      runStreamQuery(s, "stream_novel", novel).select("doc_id").orderBy("doc_id")
    }),

    // pipeline: per-language quality gate — keep docs strictly above the
    // language's median quality. The per-language medians are a
    // |langs|-row aggregate joined back (broadcast under AQE) — a
    // percentile window over the handful-of-values lang key would
    // funnel the corpus into |langs| tasks at scale.
    "q_quality_filter" -> ((s, dir) => {
      val scored = table(s, dir, "documents").select(col("doc_id"),
        col("lang"), round(TextAnalysis.qualityScore(col("text")), 6).as("q"))
      val med = scored.groupBy(col("lang").as("__mlang"))
        .agg(expr("percentile(q, 0.5)").as("med"))
      scored.join(med, col("lang") <=> col("__mlang"), "left")
        .where(col("q") > col("med"))
        .select("doc_id", "lang").orderBy("doc_id")
    }),

    // exact per-group quantiles (percentile inside groupBy — one pass)
    "q_group_quantile" -> ((s, dir) => {
      val o = DataFrame.fromParquet(s, s"$dir/orders.parquet")
      o.groupby(Seq("o_orderpriority"))
        .agg(("o_totalprice", "p25", "q25"), ("o_totalprice", "p50", "q50"),
          ("o_totalprice", "p90", "q90"))
        .toSpark(includeIndex = true)
        .orderBy("o_orderpriority")
    }),

    // semi/anti joins: filter orders by (non-)existence of a matching
    // part key — no right columns materialize, no row duplication
    "q_merge_semi" -> ((s, dir) => {
      val o = DataFrame.fromParquet(s, s"$dir/orders.parquet",
        columns = Seq("o_orderkey", "o_totalprice"))
      val p = DataFrame.fromParquet(s, s"$dir/part.parquet",
        columns = Seq("p_partkey"))
        .renameColumns(Map("p_partkey" -> "o_orderkey"))
      val hit = o.merge(p, Seq("o_orderkey"), how = "semi")
        .toSpark(includeIndex = false).withColumn("side", lit("in_part"))
      val miss = o.merge(p, Seq("o_orderkey"), how = "anti")
        .toSpark(includeIndex = false).withColumn("side", lit("no_part"))
      hit.unionAll(miss).orderBy("o_orderkey")
    }),

    "q_groupby_agg" -> ((s, dir) => {
      val li = DataFrame.fromParquet(s, s"$dir/lineitem.parquet")
      val typed = li.select(Seq("l_returnflag", "l_linestatus"))
        .withColumn("qty_d", li("l_quantity").astype(DecimalType(18, 4)))
        .withColumn("price_d", li("l_extendedprice").astype(DecimalType(18, 4)))
      typed.groupby(Seq("l_returnflag", "l_linestatus"))
        .agg(("qty_d", "sum", "sum_qty"), ("price_d", "sum", "sum_price"),
          ("qty_d", "count", "cnt"))
        .toSpark(includeIndex = true)
        .selectExpr("l_returnflag", "l_linestatus",
          "CAST(sum_qty AS DOUBLE) AS sum_qty",
          "CAST(sum_price AS DOUBLE) AS sum_price", "cnt")
        .orderBy("l_returnflag", "l_linestatus")
    }),

    // extension: sort_values + head → TakeOrderedAndProject (top-k without
    // a global sort materialization)
    "q_sort_topk" -> ((s, dir) => {
      val o = DataFrame.fromParquet(s, s"$dir/orders.parquet")
      o.select(Seq("o_orderkey", "o_totalprice"))
        .sortValues(Seq("o_totalprice", "o_orderkey"), Seq(false, true))
        .head(20)
        .toSpark()
        .orderBy(desc("o_totalprice"), col("o_orderkey"))
    }),

    // extension: merge (broadcast-joined small dims) + groupBy
    "q_merge_groupby" -> ((s, dir) => {
      val c = DataFrame.fromParquet(s, s"$dir/customer.parquet")
      val n = DataFrame.fromParquet(s, s"$dir/nation.parquet")
      val r = DataFrame.fromParquet(s, s"$dir/region.parquet")
      c.merge(n.renameColumns(Map("n_nationkey" -> "c_nationkey")), Seq("c_nationkey"))
        .merge(r.renameColumns(Map("r_regionkey" -> "n_regionkey")), Seq("n_regionkey"))
        .groupby(Seq("r_name"))
        .agg(("c_acctbal", "count", "n_customers"),
          ("c_acctbal", "min", "min_bal"), ("c_acctbal", "max", "max_bal"))
        .toSpark(includeIndex = true)
        .orderBy("r_name")
    }),

    // extension: Series.value_counts
    "q_value_counts" -> ((s, dir) => {
      val li = lineitem(s, dir)
      li("l_returnflag").valueCounts()
        .toSpark(includeIndex = true)
    }),

    // extension: column-axis reduction df.sum() → Series indexed by column
    // label (decimal accumulation for cross-engine exactness)
    "q_col_reduce" -> ((s, dir) => {
      val li = lineitem(s, dir)
      val typed = li.select(Nil)
        .withColumn("qty", li("l_quantity").astype(DecimalType(18, 4)))
        .withColumn("price", li("l_extendedprice").astype(DecimalType(18, 4)))
      typed.sum().rename(Some("total"))
        .toSpark(includeIndex = true)
        .selectExpr("index_0 AS col", "CAST(total AS DOUBLE) AS total")
        .orderBy("col")
    }),

    // extension: per-column nunique
    "q_nunique" -> ((s, dir) => {
      DataFrame.fromParquet(s, s"$dir/orders.parquet",
        columns = Seq("o_orderkey", "o_custkey", "o_orderstatus", "o_orderpriority"))
        .nunique()
        .toSpark()
    }),

    // extension: set_index → loc lookup → reset_index round-trip; the loc
    // predicate pushes to the scan
    "q_set_index" -> ((s, dir) => {
      DataFrame.fromParquet(s, s"$dir/orders.parquet",
          columns = Seq("o_orderkey", "o_custkey", "o_totalprice"))
        .setIndex(Seq("o_custkey")).loc(371L)
        .resetIndex()
        .toSpark()
        .orderBy("o_orderkey")
    }),

    // pipeline: changelog → snapshot compaction (upsert): planted update
    // rows (later tsu, doubled value) must win their keys; µs integer time
    "q_latest" -> ((s, dir) => {
      val ev = table(s, dir, "events")
        .select(col("event_id"), expr("ts DIV 1000").as("tsu"), col("value"))
      val updates = ev.where(col("event_id") % 10 === 0)
        .select(col("event_id"), (col("tsu") + 1000L).as("tsu"),
          (col("value") * 2).as("value"))
      Dedup.latestByKey(ev.unionAll(updates), Seq("event_id"), Seq("tsu"))
        .orderBy("event_id")
    }),

    // pipeline: PII scrub (emails/URLs/long digit runs → placeholders),
    // regexp chain mirrored verbatim in the oracle
    "q_scrub" -> ((s, dir) => {
      table(s, dir, "documents")
        .select(col("doc_id"), TextAnalysis.scrubPii(col("text")).as("scrubbed"))
        .orderBy("doc_id")
    }),

    // extension: unstack — last index level pivots into columns (per-user
    // event-type count matrix); NULL combos filled to 0 to mirror counts
    "q_unstack" -> ((s, dir) => {
      val types = Seq("click", "error", "purchase", "signup", "view")
      DataFrame.fromParquet(s, s"$dir/events.parquet",
          columns = Seq("user_id", "event_type", "event_id"))
        .groupby(Seq("user_id", "event_type")).count("n")
        .unstack(types)
        .fillna(0L)
        .toSpark(includeIndex = true)
        .orderBy("user_id")
    }),

    // pipeline: deterministic weighted sampling (A-ES keys from md5
    // uniforms) — price-weighted top-100 orders, reproducible anywhere
    "q_weighted_sample" -> ((s, dir) => {
      Sampling.weighted(table(s, dir, "orders"), "o_orderkey",
          "o_totalprice", k = 100)
        .select("o_orderkey", "o_totalprice")
        .orderBy("o_orderkey")
    }),

    // extension: rolling sum/min/max over a 5-row trailing window — all
    // three share one (user_id) shuffle (single Window node); sum goes
    // through decimal for engine-exact accumulation
    "q_rolling" -> ((s, dir) => {
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
    }),

    // extension: Series.replace (pass-through) vs Series.map (unmapped →
    // NULL) — both codegen'd when-chains over the same fused base
    "q_replace" -> ((s, dir) => {
      val o = ordersByKey(s, dir)
      val st = o("o_orderstatus")
      o.select(Nil)
        .withColumn("status", st.replace(Seq("O" -> "OPEN", "F" -> "FILLED")))
        .withColumn("code", st.map(Seq("O" -> 1.0, "F" -> 2.0)))
        .toSpark(includeIndex = true).orderBy("o_orderkey")
    }),

    // extension: pivot_table with sum — explicit pivot values keep it a
    // single aggregate pass; decimal accumulation for exactness
    "q_pivot_sum" -> ((s, dir) => {
      val li = lineitem(s, dir)
      li.select(Seq("l_returnflag", "l_linestatus"))
        .withColumn("qty_d", li("l_quantity").astype(DecimalType(18, 4)))
        .groupby(Seq("l_returnflag"))
        .pivotAgg("l_linestatus", Seq("F", "O"), "qty_d")
        .toSpark(includeIndex = true)
        .selectExpr("l_returnflag",
          "CAST(F AS DOUBLE) AS f_qty", "CAST(O AS DOUBLE) AS o_qty")
        .orderBy("l_returnflag")
    }),

    // pipeline: cluster → canonical-doc selection (struct-max per cluster;
    // longest text wins, id is the deterministic tiebreak)
    "q_canonical" -> ((s, dir) => {
      val docs = table(s, dir, "documents").select("doc_id", "text", "n_chars")
      val copy1 = docs.where(col("doc_id") < 20)
        .select((col("doc_id") + 100000).as("doc_id"), col("text"), col("n_chars"))
      val copy2 = docs.where(col("doc_id") < 10)
        .select((col("doc_id") + 200000).as("doc_id"), col("text"), col("n_chars"))
      val all = docs.unionAll(copy1).unionAll(copy2)
      val pairs = Dedup.exactTextPairs(all, "text", "doc_id")
      Dedup.canonicalize(all,
          Dedup.duplicateClusters(pairs, "id_l", "id_r"), "doc_id", "n_chars")
        .orderBy("cluster")
    }),

    // pipeline: batch sessionization — gap flag + running sum, one shuffle;
    // integer nanos so the session ids are engine-exact
    // one-pass data-quality profile (nulls / exact distincts / min / max
    // per column, long format) over integer+string event columns
    "q_profile" -> ((s, dir) => {
      graft.operators.Profile.profile(table(s, dir, "events"),
        Seq("event_id", "user_id", "event_type"))
        .orderBy("col_name")
    }),

    // weekly cohort retention triangle: users bucketed by first-event
    // week, counted per (cohort, weeks-since) — integer DIV time math
    // end to end (µs base)
    "q_cohort" -> ((s, dir) => {
      val ev = eventsMicros(s, dir)
      WindowOps.cohortRetention(ev, "user_id", "tsu",
        period = 7L * 86400L * 1000000L)
        .orderBy("cohort", "age")
    }),

    // ordered-sequence conversion funnel view → click → purchase: each
    // step counts only users whose earliest step-i completion precedes
    // it strictly (µs time base; k min-ts aggregates + k-1 user joins)
    "q_funnel" -> ((s, dir) => {
      val ev = eventsMicros(s, dir)
      WindowOps.funnel(ev, "user_id", "event_type", "tsu",
        Seq("view", "click", "purchase"))
        .orderBy("step")
    }),

    "q_sessions" -> ((s, dir) => {
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
    }),

    // pipeline: random-projection dim reduction (JL pre-step before ANN);
    // seeded planes inline into the oracle, dot accumulation bit-exact
    "q_rand_proj" -> ((s, dir) => {
      val rp = Similarity.randomProjection(col("embedding"),
        outDim = 4, dim = 64, seed = 7L)
      table(s, dir, "embeddings")
        .select(col("vec_id") +: rp.zipWithIndex.map {
          case (c, i) => c.as(s"rp$i") }: _*)
        .orderBy("vec_id")
    }),

    // pipeline: symmetric int8 embedding quantization — floor-based so the
    // quantized codes are bit-exact across engines; exploded for hashing
    "q_quantize" -> ((s, dir) => {
      table(s, dir, "embeddings")
        .select(col("vec_id"), Similarity.quantScale(col("embedding")).as("scale"),
          posexplode(Similarity.quantizeInt8(col("embedding"))).as(Seq("pos0", "q")))
        .select(col("vec_id"), col("scale"), (col("pos0") + 1).as("pos"), col("q"))
        .orderBy("vec_id", "pos")
    }),

    // extension: groupby().transform — group aggregate broadcast back onto
    // rows via a partitioned window (one shuffle, no agg+join); decimal
    // accumulation for cross-engine exact sums
    "q_transform" -> ((s, dir) => {
      val li = lineitem(s, dir)
      li.select(Seq("l_returnflag"))
        .withColumn("qty_d", li("l_quantity").astype(DecimalType(18, 4)))
        .groupby(Seq("l_returnflag")).transform("qty_d", "sum", "grp_sum")
        .toSpark(includeIndex = true)
        .selectExpr("l_orderkey", "l_linenumber", "l_returnflag",
          "CAST(grp_sum AS DOUBLE) AS grp_sum")
        .orderBy("l_orderkey", "l_linenumber")
    }),

    // extension: duplicated() mask — first-in-index-order keeps False
    "q_duplicated" -> ((s, dir) => {
      ordersByKey(s, dir).select(Seq("o_orderstatus"))
        .duplicated(Seq("o_orderstatus")).rename(Some("dup"))
        .toSpark(includeIndex = true)
        .orderBy("o_orderkey")
    }),

    // extension: combine_first — outer align + coalesce; evens keep their
    // price, odds get patched from the doubled frame
    "q_combine_first" -> ((s, dir) => {
      val o = ordersByKey(s, dir)
      val evens = o.select(Seq("o_totalprice"))
        .where(o("o_custkey").mod(2) === 0)
        .renameColumns(Map("o_totalprice" -> "v"))
      val doubled = o.select(Seq("o_totalprice")).mul(2.0)
        .renameColumns(Map("o_totalprice" -> "v"))
      evens.combineFirst(doubled)
        .toSpark(includeIndex = true)
        .orderBy("o_orderkey")
    }),

    // pipeline: document TF-IDF — two shuffles (tf groupBy, df groupBy),
    // vocab-sized join back; tfidf rounded to 6dp for cross-engine ln parity
    "q_tfidf" -> ((s, dir) => {
      val docs = table(s, dir, "documents")
      TextAnalysis.tfidf(docs, "doc_id", "text", nDocs = docs.count())
        .select(col("doc_id"), col("token"), col("tf"), col("df"),
          round(col("tfidf"), 6).as("tfidf_r"))
        .orderBy("doc_id", "token")
    }),

    // pipeline: dup-pair graph → connected components (iterative min-label
    // propagation). Duplicates are planted in-query (two shifted copies of
    // doc slices) so chains a~b~c exist and the expected clusters are
    // SQL-derivable; the oracle closes the same graph with a recursive CTE.
    "q_dup_clusters" -> ((s, dir) => {
      val docs = table(s, dir, "documents").select("doc_id", "text")
      val copy1 = docs.where(col("doc_id") < 20)
        .select((col("doc_id") + 100000).as("doc_id"), col("text"))
      val copy2 = docs.where(col("doc_id") < 10)
        .select((col("doc_id") + 200000).as("doc_id"), col("text"))
      val pairs = Dedup.exactTextPairs(
        docs.unionAll(copy1).unionAll(copy2), "text", "doc_id")
      Dedup.duplicateClusters(pairs, "id_l", "id_r")
        .orderBy("node")
    }),

    // differential skew salting: 70% of lineitem rows pile onto key 0;
    // the MG pre-pass detects it, salts ONLY that key (build side
    // replicates factor× just for the hot set) — result must equal the
    // plain inner join, which IS the oracle
    "q_skew_join_auto" -> ((s, dir) => {
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
    }),

    // leakage-safe split over the same planted-dup corpus as
    // q_dup_clusters: each near-dup cluster rides ONE md5(group-key)
    // draw, so duplicates can never straddle train/test
    "q_leak_split" -> ((s, dir) => {
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
    }),

    // leakage-safe k-fold CV assignment: near-dup clusters ride one
    // md5 residue so copies never straddle folds (q_leak_split's CC
    // machinery with fold = hash mod k)
    "q_kfold" -> ((s, dir) => {
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
    }),

    // pipeline: token-budget shard packing per language — per-key window
    // (no global order), integer token math, then the shard manifest
    "q_shards" -> ((s, dir) => {
      val docs = table(s, dir, "documents")
        .withColumn("n_tokens",
          TextAnalysis.tokenCount(col("text")).cast("long"))
      val assigned = ShardPack.assignShards(docs, "lang", "doc_id",
        "n_tokens", budget = 2000L)
      ShardPack.shardManifest(assigned, "lang", "n_tokens")
        .orderBy("lang", "shard")
    }),

    // pipeline: RAG-style overlapping token chunking — 64-token windows
    // every 48 tokens, no shuffle (pure per-doc expansion)
    "q_chunks" -> ((s, dir) => {
      TextAnalysis.chunkTokens(table(s, dir, "documents"),
          "doc_id", "text", chunkSize = 64, overlap = 16)
        .orderBy("doc_id", "chunk_idx")
    }),

    // pipeline: token-budget mixture sampling — per language, docs in
    // stable md5 order until 50k tokens (first crossing doc included)
    "q_budget_sample" -> ((s, dir) => {
      val docs = table(s, dir, "documents")
        .withColumn("n_tokens",
          TextAnalysis.tokenCount(col("text")).cast("long"))
        .select("lang", "doc_id", "n_tokens")
      Sampling.budgetSample(docs, "lang", "doc_id", "n_tokens",
          budget = 50000L)
        .orderBy("lang", "doc_id")
    }),

    // pipeline: domain-mixture sampling to target proportions — per-lang
    // token budgets floor(20000 × w) with w = en .5 / zh .2 / es .2 /
    // fr .1; de is unlisted → dropped entirely; es is under-supplied
    // (≈3.9k tokens < 4k budget) → contributes everything it has
    "q_mixture_sample" -> ((s, dir) => {
      val docs = table(s, dir, "documents")
        .withColumn("n_tokens",
          TextAnalysis.tokenCount(col("text")).cast("long"))
        .select("lang", "doc_id", "n_tokens")
      Sampling.mixtureSample(docs, "lang", "doc_id", "n_tokens",
        totalBudget = 20000L,
        weights = Seq("en" -> 0.5, "zh" -> 0.2, "es" -> 0.2, "fr" -> 0.1))
        .orderBy("lang", "doc_id")
    }),

    // pipeline: temperature mixture (weight ∝ tokens^0.5, the
    // multilingual up-weighting recipe) — budgets DERIVED from per-lang
    // token counts, integer-quantized so the weight sum is association-
    // order-exact; α = 0.5 routes through IEEE-correctly-rounded sqrt,
    // so the whole budget derivation is hash-oracle-safe
    "q_temperature_mix" -> ((s, dir) => {
      val docs = table(s, dir, "documents")
        .withColumn("n_tokens",
          TextAnalysis.tokenCount(col("text")).cast("long"))
        .select("lang", "doc_id", "n_tokens")
      Sampling.temperatureMixture(docs, "lang", "doc_id", "n_tokens",
        totalBudget = 15000L, alpha = 0.5)
        .orderBy("lang", "doc_id")
    }),

    // pipeline: fractional-epoch OVERsampling — "2.25 epochs of de,
    // 0.4 of en" — the upsampling complement of q_mixture_sample's
    // budget subsample; extra-copy membership is an exact integer
    // md5-threshold draw, each copy carries a 0-based epoch index
    "q_epoch_mix" -> ((s, dir) => {
      Sampling.epochExpand(
          table(s, dir, "documents").select("doc_id", "lang"),
          "lang", "doc_id",
          Seq("en" -> 0.4, "de" -> 2.25, "fr" -> 1.0, "zh" -> 0.8))
        .orderBy("doc_id", "epoch")
    }),

    // pipeline: GPT-style fixed-length sequence packing — docs
    // concatenate per language and SPLIT across 2048-token boundaries;
    // integral DIV math so the fragment table is engine-exact
    "q_pack" -> ((s, dir) => {
      val docs = table(s, dir, "documents")
        .withColumn("n_tokens",
          TextAnalysis.tokenCount(col("text")).cast("long"))
      ShardPack.packSequences(docs, "lang", "doc_id", "n_tokens",
          seqLen = 2048L)
        .orderBy("lang", "doc_id", "seq")
    }),

    // extension: cut (fixed edges) + qcut (exact-percentile edges) binning,
    // counted per bin; the when-chains are codegen'd projections
    "q_cut" -> ((s, dir) => {
      val price = ordersByKey(s, dir)("o_totalprice")
      val cutCounts = price
        .cut(Seq(0, 50000, 150000, 300000, 700000), Seq("lo", "mid", "hi", "top"))
        .rename(Some("bin")).valueCounts().rename(Some("n"))
        .toSpark(includeIndex = true).withColumn("src", lit("cut"))
      val qcutCounts = price.qcut(4)
        .rename(Some("bin")).valueCounts().rename(Some("n"))
        .toSpark(includeIndex = true).withColumn("src", lit("qcut"))
      cutCounts.unionAll(qcutCounts).orderBy("src", "bin")
    }),

    // extension: melt (wide→long) — Spark Expand, single streamed pass
    "q_melt" -> ((s, dir) => {
      DataFrame.fromSpark(table(s, dir, "lineitem"))
        .melt(Seq("l_orderkey", "l_linenumber"),
          Seq("l_quantity", "l_extendedprice", "l_discount"))
        .toSpark(includeIndex = false)
        .orderBy("l_orderkey", "l_linenumber", "variable")
    }),

    // extension: explode array column with position (Generate, zero shuffle);
    // pos is 1-based to mirror DuckDB generate_subscripts
    "q_explode" -> ((s, dir) => {
      DataFrame.fromSpark(table(s, dir, "embeddings"))
        .explode("embedding", "pos0", "component")
        .toSpark(includeIndex = false)
        .select(col("vec_id"), (col("pos0") + 1).as("pos"),
          col("component").cast("double").as("component"))
        .orderBy("vec_id", "pos")
    }),

    // extension: gap-filling + running extremes + pct_change windows.
    // Nulls are planted deterministically (event_id % 7) so ffill/bfill
    // have real gaps to fill; every window partitions by user_id — no
    // global-order window anywhere.
    "q_window_fill" -> ((s, dir) => {
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
    }),

    // extension: linear interpolation of planted gaps, partitioned by
    // user — same one-shuffle window family as q_window_fill
    "q_interp" -> ((s, dir) => {
      val ev = table(s, dir, "events")
        .withColumn("v", when(col("event_id") % 7 === 0, lit(null))
          .otherwise(col("value")))
      WindowOps.interpolate(ev, Seq("user_id"), Seq("ts", "event_id"), "v", "vi")
        .select(col("event_id"), round(col("vi"), 6).as("vi"))
        .orderBy("event_id")
    }),

    // extension: one-hot encoding with explicit categories — pure
    // projection, no distinct pre-scan
    "q_dummies" -> ((s, dir) => {
      val o = ordersByKey(s, dir)
      o.select(Seq("o_orderstatus"))
        .getDummies("o_orderstatus", Seq("O", "F", "P"), Some("os"))
        .toSpark(includeIndex = true)
        .orderBy("o_orderkey")
    }),

    // pandas df.where(cond, other): shape-preserving cell conditional,
    // fused into the scan projection (NOT the row filter)
    "q_where_other" -> ((s, dir) => {
      val li = lineitem(s, dir)
      li.select(Seq("l_quantity", "l_extendedprice"))
        .whereValues(li("l_quantity").le(25), 0.0)
        .toSpark(includeIndex = true)
        .orderBy("l_orderkey", "l_linenumber")
    }),

    // engine-exact Pearson correlation matrix from decimal power sums —
    // ONE aggregate pass for all pairs, no rounding needed
    "q_corr_matrix" -> ((s, dir) => {
      val li = lineitem(s, dir)
      li.select(Seq("l_quantity", "l_extendedprice", "l_discount"))
        .corrMatrix()
        .toSpark(includeIndex = false)
        .orderBy("col_a", "col_b")
    }),

    // extension: exact quantiles — Spark `percentile` (sort-based exact,
    // NOT approx_percentile), all requested quantiles in ONE aggregate pass
    "q_quantile" -> ((s, dir) => {
      val o = ordersByKey(s, dir)
      val qs = Seq(0.1, 0.25, 0.5, 0.75, 0.9, 0.99)
      val vals = o("o_totalprice").quantiles(qs)
      qs.zip(vals)
        .map { case (q, v) => s.range(1).select(lit(q).as("q"), lit(v).as("value")) }
        .reduce(_ unionAll _)
        .orderBy("q")
    }),

    // extension: Series nlargest/nsmallest → TakeOrderedAndProject (bounded
    // per-partition selection, no global sort materialization)
    "q_nlargest" -> ((s, dir) => {
      val o = ordersByKey(s, dir)
      val top = o("o_totalprice").nlargest(10)
        .toSpark(includeIndex = true).withColumn("side", lit("top"))
      val bot = o("o_totalprice").nsmallest(10)
        .toSpark(includeIndex = true).withColumn("side", lit("bot"))
      top.unionAll(bot).orderBy("side", "o_orderkey")
    }),

    // extension: boolean masking; same-base mask → filter above the scan
    // (predicate pushes into parquet)
    "q_where_mask" -> ((s, dir) => {
      val li = lineitem(s, dir)
      li.select(Seq("l_quantity", "l_discount"))
        .where(li("l_quantity") > 45)
        .toSpark(includeIndex = true)
        .orderBy("l_orderkey", "l_linenumber")
    }),

    // extension: concat (row-wise union with label alignment)
    "q_concat" -> ((s, dir) => {
      val li = lineitem(s, dir)
      val hi = li.select(Seq("l_quantity")).where(li("l_quantity") > 45)
      val lo = li.select(Seq("l_quantity")).where(li("l_quantity") < 3)
      Frames.concat(Seq(hi, lo))
        .toSpark(includeIndex = true)
        .orderBy("l_orderkey", "l_linenumber")
    }),

    // extension: dropna over alignment-produced NULLs (= inner join)
    "q_dropna" -> ((s, dir) => {
      val o = ordersByKey(s, dir)("o_totalprice")
      val p = partByKey(s, dir)("p_retailprice")
      o.add(p).rename(Some("s")).dropna()
        .toSpark(includeIndex = true)
        .orderBy("o_orderkey")
    }),

    // text analysis: token counts, BPE-ish estimate, md5 fingerprint,
    // n-gram language ID — all codegen'd expressions, no UDFs
    "q_text_stats" -> ((s, dir) => {
      val docs = table(s, dir, "documents")
      docs.select(col("doc_id"),
        TextAnalysis.tokenCount(col("text")).as("n_tokens"),
        TextAnalysis.bpeishTokenCount(col("text")).as("n_bpeish"),
        TextAnalysis.fingerprint(col("text")).as("fp"),
        TextAnalysis.langId(col("text")).as("lang_pred"))
        .orderBy("doc_id")
    }),

    // data-quality gate: declarative constraint validation (Deequ-shaped)
    // — all scalar rules fold into ONE scan (conditional sums inside a
    // single aggregate + stack); uniqueness costs one value-keyed groupBy
    "q_validate" -> ((s, dir) => {
      import graft.operators.Validate._
      check(table(s, dir, "lineitem"), Seq(
        NotNull("l_shipdate"),
        InRange("l_quantity", 1, 49),
        InSet("l_returnflag", Seq("A", "N")),
        MatchesRegex("l_linestatus", "[OF]"),
        Unique("l_orderkey")))
        .orderBy("rule", "col_name")
    }),

    // cross-table FK audit: one left-join + aggregate per edge — the
    // orphan-key report a warehouse reviews before trusting a join
    "q_ref_integrity" -> ((s, dir) => {
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
    }),

    // language-ID eval: confusion matrix of the n-gram classifier
    // against the labeled lang column — the calibration artifact a
    // pipeline reviews before trusting the cheap classifier as a
    // filter; one map-side-combined |langs|² aggregate
    "q_lang_confusion" -> ((s, dir) => {
      val docs = table(s, dir, "documents")
      docs.select(col("lang"),
          TextAnalysis.langId(col("text")).as("pred"))
        .groupBy("lang", "pred").agg(count(lit(1)).as("n"))
        .orderBy("lang", "pred")
    }),

    // exact dedup on normalized-text fingerprint (hash groupBy)
    "q_dedup_exact" -> ((s, dir) => {
      Dedup.exactText(table(s, dir, "documents"), "text", "doc_id")
        .orderBy("fp")
    }),

    // k-means assign step: nearest of 8 centroids per embedding
    // (broadcast centroids, map-side argmax fold)
    "q_kmeans_assign" -> ((s, dir) => {
      val emb = table(s, dir, "embeddings")
      val cents = emb.where(col("vec_id") < 8)
      Similarity.assignCentroids(emb, "vec_id", "embedding",
        cents, "vec_id", "embedding")
        .select(col("vec_id"), col("centroid_id"),
          round(col("cosine"), 6).as("cosine"))
        .orderBy("vec_id")
    }),

    // deterministic hash-based train/val/test split — pure projection,
    // membership recomputable from the id alone
    "q_split" -> ((s, dir) => {
      Sampling.splitAssign(table(s, dir, "orders").select("o_orderkey"),
        "o_orderkey", Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
        .orderBy("o_orderkey")
    }),

    // one full Lloyd's k-means iteration: assign + quantized-exact mean
    // update, two shuffles, no assignment-back join
    "q_kmeans_iter" -> ((s, dir) => {
      val emb = table(s, dir, "embeddings")
      Similarity.kmeansIterate(emb, "vec_id", "embedding",
        emb.where(col("vec_id") < 8), "vec_id", "embedding")
        .select(col("centroid_id"), col("pos"),
          round(col("mean"), 9).as("mean"))
        .orderBy("centroid_id", "pos")
    }),

    // brute-force cosine top-k similarity (broadcast queries, window top-k)
    "q_cosine_topk" -> ((s, dir) => {
      val emb = table(s, dir, "embeddings")
      val queries = emb.where(col("vec_id") < 10)
      Similarity.bruteForceTopK(emb, "vec_id", "embedding",
        queries, "vec_id", "embedding", k = 5)
        .select(col("query_id"), col("rank"), col("neighbor_id"),
          round(col("cosine"), 6).as("cosine"))
        .orderBy("query_id", "rank")
    }),

    // margin-based pair mining (CCMatrix ratio criterion): even vs odd
    // vec_ids as the two corpora; each even id keeps its best-margin
    // odd partner at margin >= 1.02 — hub-normalized, not raw cosine
    "q_margin_pairs" -> ((s, dir) => {
      val emb = table(s, dir, "embeddings")
      val a = emb.where(col("vec_id") % 2 === 0)
      val b = emb.where(col("vec_id") % 2 === 1)
      Similarity.marginPairs(a, b, "vec_id", "embedding",
          k = 4, threshold = 1.02)
        .select(col("a_id"), col("b_id"), round(col("cosine"), 6).as("cosine"),
          round(col("margin"), 6).as("margin"))
        .orderBy("a_id")
    }),

    // hybrid retrieval: dense cosine + sparse token-Jaccard candidate
    // lists (20 per side, map-side partial top-k each) fused by
    // reciprocal rank 1/(60+r) — rank-only fusion, no score calibration
    "q_hybrid_topk" -> ((s, dir) => {
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
    }),

    // dense + BM25 hybrid (the standard RRF pairing): both candidate
    // generators avoid corpus × query work where possible — BM25 via the
    // postings join, dense via map-side partial top-k
    "q_hybrid_bm25" -> ((s, dir) => {
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
    }),

    // partitioned window ops over events (ts is ns-precision → read as
    // Long nanos via nanosAsLong; ordering semantics identical). Running
    // sums accumulate in DECIMAL so they are association-order-exact across
    // engines (DuckDB's segment-tree window aggregation reassociates double
    // sums); the double cast at the end is deterministic.
    "q_window_cumsum" -> ((s, dir) => {
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
    }),

    // MinHash-LSH generate → exact-Jaccard verify at t=0.5 (64 hashes, 32
    // bands of 2 rows: a J=0.5 pair is missed with prob (1-0.25)^32 ≈ 1e-4,
    // and the hashes are seed-deterministic, so on this corpus recall is a
    // fixed, locally-verified fact). Oracle = exhaustive all-pairs exact
    // Jaccard — a hash match proves the banding lost nothing AND the
    // verify arithmetic is exact.
    "q_minhash_pairs" -> ((s, dir) => {
      Dedup.nearDuplicates(table(s, dir, "documents"),
        "doc_id", "text", threshold = 0.5, numHashes = 64, bands = 32)
        .select(col("id_l"), col("id_r"), round(col("jaccard"), 6).as("jaccard"))
        .orderBy("id_l", "id_r")
    }),

    // the composite near-duplicate pipeline at its production threshold
    // (t=0.8, 16 bands of 4 rows — miss prob (1-0.41)^16 ≈ 2e-4), same
    // exhaustive oracle
    "q_near_dup" -> ((s, dir) => {
      Dedup.nearDuplicates(table(s, dir, "documents"),
        "doc_id", "text", threshold = 0.8)
        .select(col("id_l"), col("id_r"), round(col("jaccard"), 6).as("jaccard"))
        .orderBy("id_l", "id_r")
    }),

    // q_near_dup with the banding DERIVED by the S-curve tuner instead
    // of hand-picked: tuneLsh solves for the cheapest (bands, rows)
    // meeting 0.999 candidate recall at t=0.8, and the generate→verify
    // pipeline under that plan must still reproduce the EXHAUSTIVE
    // Jaccard oracle — the tuner's guarantee surfaced through the same
    // hash gate as everything else (deterministic: fixed seed).
    "q_near_dup_tuned" -> ((s, dir) => {
      val plan = Dedup.tuneLsh(threshold = 0.8, minRecall = 0.999,
        maxHashes = 128)
      Dedup.nearDuplicates(table(s, dir, "documents"), "doc_id", "text",
        threshold = 0.8, numHashes = plan.numHashes, bands = plan.bands)
        .select(col("id_l"), col("id_r"), round(col("jaccard"), 6).as("jaccard"))
        .orderBy("id_l", "id_r")
    }),

    // q_near_dup with the banding solved DENSITY-ADAPTIVELY: one probe
    // pass measures the corpus's actual per-band colliding-pair mass
    // and tuneLshAdaptive picks the cheapest plan that meets 0.999
    // candidate recall at t=0.8 within a measured candidate budget —
    // the relief valve for corpora that densify at scale (the round-10
    // 50x sweep's steepening). Same exhaustive Jaccard oracle: the
    // generate->verify pipeline under the measured plan must still
    // reproduce it (deterministic: fixed seed, integer bucket counts).
    "q_near_dup_adaptive" -> ((s, dir) => {
      val docs = table(s, dir, "documents")
      val plan = Dedup.tuneLshAdaptive(docs, "doc_id", "text",
        threshold = 0.8, minRecall = 0.999, maxHashes = 128,
        candidateBudgetPerDoc = 2.0)
      Dedup.nearDuplicates(docs, "doc_id", "text",
        threshold = 0.8, numHashes = plan.numHashes, bands = plan.bands)
        .select(col("id_l"), col("id_r"), round(col("jaccard"), 6).as("jaccard"))
        .orderBy("id_l", "id_r")
    }),

    // SimHash-banded exact dedup, generate→verify: pigeonhole candidates
    // at hamming 0, then exact md5 verification. Identical text ⇒
    // identical token multiset ⇒ identical 64-bit signature ⇒ the band
    // join MUST surface the pair — so recall on exact duplicates is 1 BY
    // CONSTRUCTION (not a corpus accident) and the output provably equals
    // the oracle's exhaustive md5-equal pairs. Exact duplicates are
    // planted in-query (ids shifted by 100000, SQL-mirrorable) since the
    // corpus has none. Near-dup behavior (hamming ≤ 3) stays spec-tested.
    "q_simhash" -> ((s, dir) => {
      val docs = table(s, dir, "documents").select("doc_id", "text")
      val planted = docs.union(
        docs.select((col("doc_id") + 100000).as("doc_id"), col("text")))
      val cand = Dedup.simhashNearDup(planted, "doc_id", "text", maxHamming = 0)
      val fp = planted.select(col("doc_id"), md5(col("text").cast("binary")).as("fp"))
      cand
        .join(fp.select(col("doc_id").as("id_l"), col("fp").as("fp_l")), Seq("id_l"))
        .join(fp.select(col("doc_id").as("id_r"), col("fp").as("fp_r")), Seq("id_r"))
        .where(col("fp_l") === col("fp_r"))
        .select(col("id_l"), col("id_r"), col("hamming"))
        .orderBy("id_l", "id_r")
    }),

    // exact n-gram Jaccard pairs via shingle join; oracle = DuckDB
    // list_intersect over re-derived shingles (the 1000-doc frequency cap
    // is provably inactive at oracle scale: a distinct shingle appears at
    // most once per doc and the corpus is 500 docs)
    "q_jaccard_pairs" -> ((s, dir) => {
      Dedup.ngramJaccardPairs(table(s, dir, "documents"),
        "doc_id", "text", n = 3, threshold = 0.05)
        .select(col("id_l"), col("id_r"), round(col("jaccard"), 6).as("jaccard"))
        .orderBy("id_l", "id_r")
    }),

    // DSIR importance weights (Xie et al. 2023): target = first 50 docs,
    // hashed unigram+bigram multinomials, nano-quantized log ratios —
    // oracle rebuilds both models and every per-doc integer sum
    "q_dsir" -> ((s, dir) => {
      val docs = table(s, dir, "documents").select("doc_id", "text")
      val target = docs.where(col("doc_id") < 50)
      TextAnalysis.dsirWeights(docs, "doc_id", "text", target, "text",
        numBuckets = 1024)
        .select(col("doc_id"), col("n_feats"),
          round(col("log_weight"), 6).as("log_weight"))
        .orderBy("doc_id")
    }),

    // asymmetric containment |A∩B|/min(|A|,|B|): planted excerpts
    // (prefix substring of a longer doc) score ≈1 where Jaccard ≈ |A|/|B|;
    // oracle = exhaustive all-pairs over the same union
    "q_containment" -> ((s, dir) => {
      val docs = table(s, dir, "documents").select("doc_id", "text")
      val excerpts = docs.where(col("doc_id") < 10)
        .select((col("doc_id") + 200000).as("doc_id"),
          substring(col("text"), 1, 200).as("text"))
      Dedup.containmentPairs(docs.union(excerpts), "doc_id", "text",
        n = 3, threshold = 0.5)
        .select(col("id_l"), col("id_r"),
          round(col("containment"), 6).as("containment"))
        .orderBy("id_l", "id_r")
    }),

    // character-level near-dup: shared-shingle candidates verified by
    // threshold-limited Levenshtein; planted docs differ by a 3-char
    // prefix patch built identically in both engines
    "q_edit_pairs" -> ((s, dir) => {
      val base = table(s, dir, "documents").select("doc_id", "text")
        .where(col("doc_id") < 100)
      val planted = base.where(col("doc_id") < 20)
        .select((col("doc_id") + 100000).as("doc_id"),
          concat(lit("XQZ"), expr("substring(text, 4)")).as("text"))
      Dedup.editDistancePairs(base.union(planted), "doc_id", "text",
        n = 3, maxDist = 50, minSharedShingles = 3L)
        .orderBy("id_l", "id_r")
    }),

    // blocked fuzzy record linkage over the DISTINCT-name dictionary
    // (vocabulary-bounded regardless of row count — the honest way to
    // link a low-cardinality catalog column: match the dictionary, then
    // hash-join labels back), Jaro-Winkler-scored inside the block
    "q_fuzzy_linkage" -> ((s, dir) => {
      val names = table(s, dir, "part")
        .groupBy("p_name").agg(min("p_partkey").as("id"))
      Dedup.fuzzyLinkage(names, "id", "p_name",
        split(col("p_name"), " ").getItem(0), threshold = 0.85)
        .select(col("id_a"), col("id_b"), round(col("jw"), 6).as("jw"))
        .orderBy("id_a", "id_b")
    }),

    // LSH-bucketed approximate nearest neighbors with hamming-1
    // multi-probe; the hyperplanes are seed-deterministic so the oracle
    // inlines them as literals and recomputes the exact same buckets and
    // probe masks
    "q_ann_topk" -> ((s, dir) => {
      val emb = table(s, dir, "embeddings")
      val queries = emb.where(col("vec_id") < 20)
      Similarity.annTopK(emb, "vec_id", "embedding",
        queries, "vec_id", "embedding", k = 5, planes = 3, probeBits = 1)
        .select(col("query_id"), col("rank"), col("neighbor_id"),
          round(col("cosine"), 6).as("cosine"))
        .orderBy("query_id", "rank")
    }),

    // IVF-Flat at nprobe = nlist: every inverted list is probed, so the
    // result is provably the exact top-k (the oracle is the exhaustive
    // computation); partial-probe recall is spec-tested
    "q_ivf_topk" -> ((s, dir) => {
      val emb = table(s, dir, "embeddings")
      val queries = emb.where(col("vec_id") >= 10 && col("vec_id") < 25)
      Similarity.ivfTopK(emb, "vec_id", "embedding",
        queries, "vec_id", "embedding", k = 5, nlist = 16, nprobe = 16)
        .select(col("query_id"), col("rank"), col("neighbor_id"),
          round(col("cosine"), 6).as("cosine"))
        .orderBy("query_id", "rank")
    }),

    // the hyperplane-LSH and PQ siblings of q_ivf_recall: batch
    // recall@10 of each approximate path vs the exact brute force,
    // pinned by the oracle as a TRUE claim — every ANN variant now
    // carries an executable speed/recall contract
    "q_ann_recall" -> ((s, dir) => {
      val emb = table(s, dir, "embeddings")
      val queries = emb.where(col("vec_id") < 10)
      recallContract(
        Similarity.bruteForceTopK(emb, "vec_id", "embedding",
          queries, "vec_id", "embedding", k = 10),
        Similarity.annTopK(emb, "vec_id", "embedding",
          queries, "vec_id", "embedding", k = 10, planes = 3,
          probeBits = 1),
        num = 4L, den = 10L) // recall@10 >= 0.4
    }),


    // the PARTIAL-probe honesty check (the q_approx_quantile pattern
    // applied to ANN): IVF at nprobe < nlist vs the exact brute force —
    // the oracle recomputes the exact side and pins the recall claim
    // TRUE, making "probe a quarter of the lists, keep most of the
    // neighbors" an executable contract instead of a doc sentence
    "q_ivf_recall" -> ((s, dir) => {
      val emb = table(s, dir, "embeddings")
      val queries = emb.where(col("vec_id") < 10)
      recallContract(
        Similarity.bruteForceTopK(emb, "vec_id", "embedding",
          queries, "vec_id", "embedding", k = 10),
        Similarity.ivfTopK(emb, "vec_id", "embedding",
          queries, "vec_id", "embedding", k = 10, nlist = 16,
          nprobe = 4),
        num = 4L, den = 10L) // recall@10 >= 0.4
    }),

    // the PERSISTED IVF path: build the bucketed-by-list index + trained
    // centroids once, then probe it. At nprobe = nlist every inverted
    // list is probed, so the result is provably the exact top-k whatever
    // the training produced (the oracle is the exhaustive computation);
    // bucket pruning + zero corpus-side shuffle are plan-asserted in
    // OperatorsSpec.
    "q_ivf_indexed" -> ((s, dir) => {
      val emb = table(s, dir, "embeddings")
      Similarity.buildIvfIndex(emb, "vec_id", "embedding",
        "graft_ivf_idx", nlist = 16, buckets = 8)
      val queries = emb.where(col("vec_id") >= 30 && col("vec_id") < 40)
      Similarity.ivfTopKIndexed(s, "graft_ivf_idx",
        queries, "vec_id", "embedding", k = 5, nprobe = 16)
        .select(col("query_id"), col("rank"), col("neighbor_id"),
          round(col("cosine"), 6).as("cosine"))
        .orderBy("query_id", "rank")
    }),

    // INCREMENTAL index growth: build the IVF index on vec_id < 400,
    // append the 400+ batch against the frozen centroids, then probe at
    // nprobe = nlist — exactness over old + new rows proves appended
    // files joined the right inverted lists (oracle = brute force over
    // the full corpus).
    "q_ivf_append" -> ((s, dir) => {
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
    }),

    // embedding TAKEDOWNS: build the IVF index over everything, delete
    // vec_id % 9 = 0, probe at nprobe = nlist — exactness against the
    // brute-force oracle over the SURVIVORS proves the rewrite removed
    // precisely the tombstoned rows and nothing else (and the bucketed
    // layout kept probing, or the scan would miss lists)
    "q_ivf_delete" -> ((s, dir) => {
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
    }),

    // FILTERED vector search on the persisted IVF index: `label` rides
    // in the index as a payload column and the predicate pushes to the
    // index's parquet scan (PushedFilters, plan-asserted in
    // OperatorsSpec) — pre-filter, so k survivors are k MATCHING rows.
    // nprobe = nlist makes the result provably the exact filtered top-k;
    // oracle = brute force WHERE label = 3.
    "q_filtered_topk" -> ((s, dir) => {
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
    }),

    // product-quantization codes: every vector compressed to m=4 codes
    // (nearest of 8 seeded sub-centroids per 16-dim subspace); codes
    // joined to a string so the compare stays scalar
    "q_pq_codes" -> ((s, dir) => {
      Similarity.pqEncode(table(s, dir, "embeddings"), "vec_id", "embedding")
        .select(col("vec_id"),
          array_join(transform(col("codes"), c => c.cast("string")), "-")
            .as("code_str"))
        .orderBy("vec_id")
    }),

    // ADC top-k over the PQ codes: corpus side is codes-only (m table
    // lookups per row), query side carries the distance table. ADC ties
    // are REAL here (4096 possible code combos over the corpus) so the
    // (adc asc, id asc) tiebreak is exercised, not incidental.
    "q_pq_topk" -> ((s, dir) => {
      val emb = table(s, dir, "embeddings")
      val queries = emb.where(col("vec_id") < 15)
      Similarity.pqTopK(emb, "vec_id", "embedding",
        queries, "vec_id", "embedding", k = 5)
        .select(col("query_id"), col("rank"), col("neighbor_id"),
          round(col("adc"), 6).as("adc"))
        .orderBy("query_id", "rank")
    }),

    // the IVF-PQ composition: bucket-pruned probe over a persisted index
    // holding m-byte PQ codes instead of vectors. At nprobe = nlist every
    // list is probed, so the result is provably pqTopK over the whole
    // corpus — the same ADC oracle re-derives it exhaustively.
    "q_ivfpq_topk" -> ((s, dir) => {
      val emb = table(s, dir, "embeddings")
      Similarity.buildIvfPqIndex(emb, "vec_id", "embedding",
        "graft_ivfpq_idx", nlist = 16, buckets = 8)
      val queries = emb.where(col("vec_id") >= 40 && col("vec_id") < 50)
      Similarity.ivfPqTopKIndexed(s, "graft_ivfpq_idx",
        queries, "vec_id", "embedding", k = 5, nprobe = 16)
        .select(col("query_id"), col("rank"), col("neighbor_id"),
          round(col("adc"), 6).as("adc"))
        .orderBy("query_id", "rank")
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
    "q_ivfpq_append" -> ((s, dir) => {
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
    }),

    // the IVF-PQ recall contract on the CLUSTERED fixture (the last
    // un-contracted retrieval approximation): probe a quarter of the
    // lists over m-byte PQ codes and still keep >= 80% of the exact
    // cosine top-10 — executable because the fixture's 16 separated
    // clusters make both the coarse quantizer and the PQ codebook
    // non-degenerate. Oracle recomputes the exact side on the same
    // synthesized relation and pins recall_ok TRUE.
    "q_ivfpq_recall" -> ((s, dir) => {
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
    }),

    // IVF-PQ + exact re-rank (the FAISS refine stage): 6·k ADC
    // candidates fetch their RAW vectors back by id (candidate-bounded
    // broadcast join — the 100 TB corpus is scanned, never shuffled)
    // and the final top-10 is true cosine — which must CLEAR a recall
    // bar strictly above q_ivfpq_recall's unrefined 0.8 on the same
    // clustered fixture, same nprobe. The oracle recomputes the exact
    // side and pins the claim TRUE
    "q_ivfpq_rerank" -> ((s, dir) => {
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
    }),

    // PQ with TRAINED codebooks — Lloyd over each subspace's sliced
    // vectors runs in-engine (one argmin-when-chain job per iteration,
    // codebook model-sized on the driver), then the SAME encode/ADC
    // expressions consume the trained literals; recall@10 of the
    // 40-candidate ADC sweep must clear 0.9 on the clustered fixture.
    // The oracle recomputes the exact side and pins the claim TRUE
    "q_pq_trained" -> ((s, dir) => {
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
    }),

    // banded hyperplane-LSH embedding dedup, generate→verify. Identical
    // vectors produce identical buckets in EVERY band (same deterministic
    // expression), so recall on exact copies is 1 by construction; planted
    // copies (vec_id + 100000) are the only pairs at cosine ≥ 0.95 in this
    // corpus (max natural pairwise cosine 0.513), so the output provably
    // equals the oracle's planted-pair list.
    "q_emb_dedup" -> ((s, dir) => {
      val emb = table(s, dir, "embeddings")
        .select("vec_id", "embedding")
      val planted = emb.select((col("vec_id") + 100000).as("vec_id"),
        col("embedding"))
      Dedup.embeddingNearDup(emb.union(planted), "vec_id", "embedding",
        threshold = 0.95, planes = 8, bands = 4)
        .select(col("id_l"), col("id_r"), round(col("cosine"), 6).as("cosine"))
        .orderBy("id_l", "id_r")
    }),

    // semantic decontamination: training embeddings vs the broadcast
    // benchmark set, flag pairs at cosine >= 0.95 — the paraphrase-
    // robust companion to q_decontaminate's exact-n-gram check (the
    // benchmark here is a verbatim id-shifted slice, so every planted
    // leak scores 1.0 and must be flagged)
    "q_semantic_decon" -> ((s, dir) => {
      val emb = table(s, dir, "embeddings").select("vec_id", "embedding")
      val ev = emb.where(col("vec_id") % 53 === 0)
        .select((col("vec_id") + 1000000L).as("eval_id"),
          col("embedding").as("ev"))
      Similarity.semanticDecontaminate(emb, "vec_id", "embedding",
          ev, "eval_id", "ev", threshold = 0.95)
        .select(col("train_id"), col("eval_id"),
          round(col("cosine"), 6).as("cosine"))
        .orderBy("train_id", "eval_id")
    }),

    // SemDeDup: k-means cells (8 seed centroids, broadcast argmax
    // assignment) + within-cell min-id-survives pruning at cosine >=
    // 0.95. Planted exact copies of vec_id < 60 (at larger ids) are the
    // in-cell near-dups, so the survivor set is construction-checkable:
    // the 500 originals. Oracle replays assignment + drop rule exactly.
    "q_semantic_dedup" -> ((s, dir) => {
      val emb = table(s, dir, "embeddings").select("vec_id", "embedding")
      val planted = emb.where(col("vec_id") < 60)
        .select((col("vec_id") + 100000L).as("vec_id"), col("embedding"))
      val cents = emb.where(col("vec_id") < 8)
      Dedup.semanticDedup(emb.union(planted), "vec_id", "embedding",
        cents, "vec_id", "embedding", threshold = 0.95)
        .orderBy("vec_id")
    }),

    // benchmark decontamination: corpus docs sharing >= 5 distinct
    // 3-grams with an eval probe set (probes broadcast — corpus side
    // never shuffles). Planted verbatim copies of every probe guarantee
    // non-empty, construction-checkable contamination.
    "q_contam" -> ((s, dir) => {
      val base = table(s, dir, "documents").select("doc_id", "text")
      val probes = base.where(col("doc_id") < 40)
      val corpus = base.where(col("doc_id") >= 40)
        .union(probes.select((col("doc_id") + 1000000L).as("doc_id"), col("text")))
      Dedup.contaminationPairs(corpus, "doc_id", "text",
        probes, "doc_id", "text", n = 3, minShared = 5L)
        .orderBy("doc_id", "probe_id")
    }),

    // the one-call end-to-end dedup pipeline: exact star edges + LSH
    // near-dup edges (t=0.8, recall pinned by q_near_dup's identical
    // banding) → connected components → canonical pick by (n_chars
    // desc, id desc). Oracle re-derives the whole composition with a
    // recursive CTE over the unioned exhaustive edge sets.
    "q_dedup_pipeline" -> ((s, dir) => {
      val base = table(s, dir, "documents").select("doc_id", "text", "n_chars")
        .where(col("doc_id") < 150)
      val corpus = base.union(base.where(col("doc_id") < 20)
        .select((col("doc_id") + 100000L).as("doc_id"), col("text"),
          col("n_chars")))
      Dedup.dedupCorpus(corpus, "doc_id", "text", "n_chars", threshold = 0.8)
        .orderBy("doc_id")
    }),

    // dedup PROVENANCE: for every doc the pipeline dropped, WHY — exact
    // copy of the kept canonical, direct near-dup of it (true Jaccard ≥
    // t), or transitively chained in (canonical-loser). Same corpus as
    // q_dedup_pipeline; the oracle recomputes clusters (recursive CTE),
    // canonicals, and all three labels from scratch.
    "q_dedup_provenance" -> ((s, dir) => {
      val base = table(s, dir, "documents").select("doc_id", "text", "n_chars")
        .where(col("doc_id") < 150)
      val corpus = base.union(base.where(col("doc_id") < 20)
        .select((col("doc_id") + 100000L).as("doc_id"), col("text"),
          col("n_chars")))
      Dedup.dedupProvenance(corpus, "doc_id", "text", "n_chars",
        threshold = 0.8)
        .orderBy("doc_id")
    }),

    // the PERSISTED near-dup index: corpus signatured + banded + bucketed
    // ONCE, then a new batch (fresh docs + planted copies of ten corpus
    // docs) probes it paying only its own signature cost — the
    // incremental-crawl face of q_near_dup. Exact copies share every
    // band bucket, so recall on the planted pairs is 1 by construction;
    // natural cross pairs ride the same banding recall q_near_dup pins.
    "q_neardup_indexed" -> ((s, dir) => {
      val docs = table(s, dir, "documents").select("doc_id", "text")
      val corpus = docs.where(col("doc_id") >= 100)
      val batch = docs.where(col("doc_id") < 100)
        .union(docs.where(col("doc_id") >= 100 && col("doc_id") < 110)
          .select((col("doc_id") + 200000L).as("doc_id"), col("text")))
      Dedup.buildNearDupIndex(corpus, "doc_id", "text", "graft_nd_idx",
        buckets = 8)
      Dedup.nearDupAgainstIndex(s, "graft_nd_idx", batch, "doc_id", "text",
        threshold = 0.8)
        .select(col("corpus_id"), col("batch_id"),
          round(col("jaccard"), 6).as("jaccard"))
        .orderBy("corpus_id", "batch_id")
    }),

    // line-level boilerplate dedup (CCNet/RefinedWeb): lines appearing in
    // > 50 distinct docs are dropped, docs reassembled in order. The
    // corpus synthesizes multi-line docs (substring lines + planted
    // boilerplate on doc_id % 3 / % 2 subsets) since the source texts are
    // single-line; every construction step mirrors into the oracle.
    "q_line_dedup" -> ((s, dir) => {
      val corpus = table(s, dir, "documents").select(col("doc_id"),
        concat_ws("\n",
          substring(col("text"), 1, 60),
          substring(col("text"), 61, 60),
          when(col("doc_id") % 3 === 0, lit("Subscribe to our newsletter"))
            .otherwise(substring(col("text"), 121, 60)),
          when(col("doc_id") % 2 === 0, lit("(c) All rights reserved"))
            .otherwise(concat(lit("id "), col("doc_id").cast("string"))))
          .as("text"))
      Dedup.stripBoilerplateLines(corpus, "doc_id", "text", maxDocs = 50)
        .orderBy("doc_id")
    }),

    // cross-doc repeated-substring spans (exact-substring dedup): planted
    // copies embed tokens 3..14 of each source doc behind a 2-token
    // unique prefix, so each (src, planted) pair shares one maximal
    // 12-token span at diag 0 (docs shorter than 14 tokens shed tokens
    // off the slice; both engines see the same shorter span)
    "q_spans" -> ((s, dir) => {
      val docs = table(s, dir, "documents").select(col("doc_id"), col("text"))
        .where(col("doc_id") < 100)
      val tk = TextAnalysis.tokens(col("text"))
      val planted = docs.where(col("doc_id") < 30)
        .select((col("doc_id") + 5000).as("doc_id"),
          concat_ws(" ",
            concat(lit("px"), col("doc_id").cast("string")),
            concat(lit("qx"), col("doc_id").cast("string")),
            array_join(slice(tk, 3, 12), " "),
            concat(lit("rx"), col("doc_id").cast("string"))).as("text"))
      Dedup.repeatedSpans(docs.union(planted), "doc_id", "text", minTokens = 8)
        .orderBy("id_l", "id_r", "start_l", "start_r")
    }),

    // Gopher-style repetition filters: duplicate / top word-2-gram
    // occupancy per doc (two hash aggs, no joins)
    "q_repetition" -> ((s, dir) => {
      TextAnalysis.repetitionStats(table(s, dir, "documents"), "doc_id", "text", 2)
        .select(col("doc_id"), col("n_grams"), col("n_distinct"),
          round(col("dup_frac"), 6).as("dup_frac"),
          round(col("top_frac"), 6).as("top_frac"))
        .orderBy("doc_id")
    }),

    // web-corpus markup extraction: HTML synthesized around each doc
    // (script/style/comment containers, attributes, entities), stripped
    // back to text by the RE2-compatible regex program mirrored verbatim
    // in the oracle
    "q_strip_markup" -> ((s, dir) => {
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
    }),

    // unigram-LM quality signal: fit the corpus unigram model, score
    // every doc by mean token log-prob (nano-quantized integer sums —
    // order-independent, engine-exact; see TextAnalysis.unigramScore)
    "q_unigram_lm" -> ((s, dir) => {
      val docs = table(s, dir, "documents").select("doc_id", "text")
      val model = TextAnalysis.unigramModel(docs, "text")
      TextAnalysis.unigramScore(docs, "doc_id", "text", model)
        .select(col("doc_id"), col("n_tokens"),
          round(col("logprob_mean"), 6).as("logprob_mean"))
        .orderBy("doc_id")
    }),

    // bigram-LM fluency signal with stupid backoff (Brants et al. 2007):
    // model fit on the English sub-corpus, every doc scored — seen-bigram,
    // backoff-to-unigram and OOV branches all live; nano-quantized
    // integer sums keep the score engine-exact
    "q_bigram_lm" -> ((s, dir) => {
      val docs = table(s, dir, "documents").select("doc_id", "text")
      val model = table(s, dir, "documents")
        .where(col("lang") === "en").select("text")
      TextAnalysis.stupidBackoffScore(docs, model, "doc_id", "text")
        .select(col("doc_id"), col("n_tokens"),
          round(col("logprob_mean"), 6).as("logprob_mean"))
        .orderBy("doc_id")
    }),

    // BM25 retrieval: postings-join shape (query terms join the (doc,
    // term, tf) relation — no doc × query cross product), nano-quantized
    // per-term scores so the per-(query, doc) sum is order-exact
    "q_bm25" -> ((s, dir) => {
      val docs = table(s, dir, "documents").select("doc_id", "text")
      val queries = docs.where(col("doc_id") < 5)
      TextAnalysis.bm25(docs, "doc_id", "text",
        queries, "doc_id", "text", topK = 10)
        .select(col("query_id"), col("rank"), col("doc_id"),
          TextAnalysis.bm25Micro(col("bm25")).as("bm25"))
        .orderBy("query_id", "rank")
    }),

    // the PERSISTED BM25 path — the sparse twin of q_neardup_indexed /
    // q_ivf_indexed: term-bucketed postings + one stats row built once,
    // then the query batch scores against the stored index with the
    // corpus side exchange-free (plan-asserted in TextStatsSpec).
    // Identical integers in, identical quantized arithmetic — the
    // single-shot q_bm25 oracle pins indexed ≡ single-shot bit for bit.
    "q_bm25_indexed" -> ((s, dir) => {
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
    }),

    // INCREMENTAL index growth for the sparse index (the q_ivf_append
    // pattern): build the BM25 index on doc_id < 300, append the 300+
    // batch (postings into the term buckets, df MERGED, stats added),
    // then probe — exactness over old + new docs proves the merged df
    // and stats equal a from-scratch build (oracle = single-shot bm25
    // over the full corpus).
    "q_bm25_append" -> ((s, dir) => {
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
    }),

    // index MAINTENANCE for the sparse index — the lakehouse OPTIMIZE
    // step the append path accrues debt for: every appendToBm25Index
    // lands one more file per touched term bucket (per-file open cost
    // grows with crawl-append count, and >1 file per bucket demotes the
    // bucket SORT property on read). compactBucketed rewrites the
    // postings to ONE file per bucket; probing AFTER compaction against
    // the single-shot oracle proves compaction moved only the file
    // inventory, not a bit of the results.
    "q_bm25_compact" -> ((s, dir) => {
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
    }),

    // the FULL lakehouse lifecycle for the sparse index — build →
    // append → DELETE → compact → probe. Deletion is the direction
    // where global statistics can silently go stale: df must shrink by
    // exactly the deleted postings (terms whose postings all died
    // leave the vocabulary) and (n, tot) must subtract the deleted
    // docs' mass — the oracle is single-shot bm25 over the SURVIVING
    // corpus only, so any stale df/stat hash-fails the idf of every
    // query term it touches
    "q_bm25_delete" -> ((s, dir) => {
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
    }),

    // the SERVING loop of the persisted sparse index: a STREAM of query
    // docs scores per micro-batch against the stored BM25 postings
    // (foreachBatch probe — zero streaming state, the index IS the
    // state; each batch pays only its own broadcast-probe joins).
    // Query ids are disjoint across micro-batches, so the drained
    // stream ≡ one batch probe of the union — the q_bm25_indexed
    // single-shot oracle gates it bit for bit.
    "q_stream_bm25" -> ((s, dir) => {
      val docs = table(s, dir, "documents").select("doc_id", "text")
      TextAnalysis.buildBm25Index(docs, "doc_id", "text",
        "graft_bm25_srv", buckets = graft.operators.Bucketing.bucketsFor(docs))
      val qs = GraftStreaming.readDocumentsGlob(s, dir, "documents.parquet")
        .where(col("doc_id") < 5).select("doc_id", "text")
      val out = org.apache.spark.sql.GraftSqlBridge
        .managedTempDir("graft-bm25-srv").getAbsolutePath
      val q = GraftStreaming.probeEachBatch(qs, out)(b =>
        TextAnalysis.bm25AgainstIndex(s, "graft_bm25_srv",
          b, "doc_id", "text", topK = 10))
      assert(q.awaitTermination(300000), "stream did not finish within 300s")
      s.read.parquet(out)
        .select(col("query_id"), col("rank"), col("doc_id"),
          TextAnalysis.bm25Micro(col("bm25")).as("bm25"))
        .orderBy("query_id", "rank")
    }),

    // the SERVING loop of the persisted dense index: streamed probe
    // vectors score per micro-batch against the stored IVF inverted
    // lists at nprobe = nlist (provably exact whatever the training),
    // via the same zero-state foreachBatch probe — the q_ivf_indexed
    // exhaustive oracle gates the drain.
    "q_stream_ivf" -> ((s, dir) => {
      val emb = table(s, dir, "embeddings")
      Similarity.buildIvfIndex(emb, "vec_id", "embedding",
        "graft_ivf_srv", nlist = 16, buckets = 8)
      val qs = GraftStreaming.readEmbeddingsGlob(s, dir, "embeddings.parquet")
        .where(col("vec_id") >= 30 && col("vec_id") < 40)
      val out = org.apache.spark.sql.GraftSqlBridge
        .managedTempDir("graft-ivf-srv").getAbsolutePath
      val q = GraftStreaming.probeEachBatch(qs, out)(b =>
        Similarity.ivfTopKIndexed(s, "graft_ivf_srv",
          b, "vec_id", "embedding", k = 5, nprobe = 16))
      assert(q.awaitTermination(300000), "stream did not finish within 300s")
      s.read.parquet(out)
        .select(col("query_id"), col("rank"), col("neighbor_id"),
          round(col("cosine"), 6).as("cosine"))
        .orderBy("query_id", "rank")
    }),

    // CSV sink→source round trip against the LIVE oracle (closing the
    // last spec-only rows in the source table): four typed customer
    // columns go out through the extension sink and come back through
    // fromCsv with explicit production casts (no inference pass); the
    // oracle reads the original parquet — a hash match proves BOTH ends
    // of the text-format seam (quoting, header, double round-trip).
    "q_csv_source" -> ((s, dir) => {
      val tmp = org.apache.spark.sql.GraftSqlBridge
        .managedTempDir("graft-csvq").getAbsolutePath
      graft.api.DataFrame.fromSpark(
        s.read.parquet(s"$dir/customer.parquet")
          .select("c_custkey", "c_name", "c_mktsegment", "c_acctbal"))
        .writeCsv(tmp, includeIndex = false)
      graft.api.DataFrame.fromCsv(s, tmp,
          options = Map("header" -> "true"))
        .toSpark(includeIndex = false)
        .select(col("c_custkey").cast("long").as("c_custkey"),
          col("c_name"), col("c_mktsegment"),
          col("c_acctbal").cast("double").as("c_acctbal"))
        .orderBy("c_custkey")
    }),

    // JSON-lines (gzip) sink→source round trip, same contract: the
    // crawl-style compressed path — Spark decompresses transparently on
    // read, and the parquet-read oracle pins value fidelity.
    "q_json_source" -> ((s, dir) => {
      val tmp = org.apache.spark.sql.GraftSqlBridge
        .managedTempDir("graft-jsonq").getAbsolutePath
      graft.api.DataFrame.fromSpark(
        s.read.parquet(s"$dir/orders.parquet")
          .select("o_orderkey", "o_orderstatus", "o_totalprice"))
        .writeJson(tmp, includeIndex = false,
          options = Map("compression" -> "gzip"))
      graft.api.DataFrame.fromJson(s, tmp)
        .toSpark(includeIndex = false)
        .select(col("o_orderkey").cast("long").as("o_orderkey"),
          col("o_orderstatus"),
          col("o_totalprice").cast("double").as("o_totalprice"))
        .orderBy("o_orderkey")
    }),

    // ORC sink→source round trip — the other first-class columnar
    // format; types survive natively (no casts needed beyond the
    // oracle-matching projection)
    "q_orc_source" -> ((s, dir) => {
      val tmp = org.apache.spark.sql.GraftSqlBridge
        .managedTempDir("graft-orcq").getAbsolutePath
      graft.api.DataFrame.fromSpark(
        s.read.parquet(s"$dir/nation.parquet"))
        .writeOrc(tmp, includeIndex = false)
      graft.api.DataFrame.fromOrc(s, tmp)
        .toSpark(includeIndex = false)
        .select(col("n_nationkey"), col("n_name"), col("n_regionkey"))
        .orderBy("n_nationkey")
    }),

    // per-doc token entropy (gibberish signal): order-exact quantized
    // sum over the per-doc token histogram
    "q_entropy" -> ((s, dir) => {
      TextAnalysis.tokenEntropy(table(s, dir, "documents")
        .select("doc_id", "text"), "doc_id", "text")
        .select(col("doc_id"), col("n_tokens"),
          round(col("entropy"), 6).as("entropy"))
        .orderBy("doc_id")
    }),

    // quality scoring (C4/Gopher-style cheap filters; oracle mirrors the
    // when-chains in SQL)
    "q_quality" -> ((s, dir) => {
      val docs = table(s, dir, "documents")
      docs.select(col("doc_id"),
        round(TextAnalysis.qualityScore(col("text")), 6).as("quality"))
        .orderBy("doc_id")
    }),

    // Gopher hard-rejection rules (Rae et al. 2021 §A1.1): per-rule
    // boolean flags + conjunction; oracle shares tokenization, regex
    // programs and IEEE division via gopherOracleSqlExprs
    "q_gopher" -> ((s, dir) => {
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
    }),

    // Unicode script detection: shared literal BMP ranges → identical
    // counts; dominant script + scripted-char ratio
    "q_script" -> ((s, dir) => {
      val docs = table(s, dir, "documents")
      docs.select(col("doc_id"),
        TextAnalysis.dominantScript(col("text")).as("script"),
        round(TextAnalysis.dominantScriptRatio(col("text")), 6)
          .as("script_ratio"))
        .orderBy("doc_id")
    }),

    // §2.7 numeric ops: mod (fmod), floor division, power
    "q_pow_mod" -> ((s, dir) => {
      val li = lineitem(s, dir)
      li.select(Nil)
        .withColumn("qmod", li("l_quantity").mod(7))
        .withColumn("qfdiv", li("l_quantity").floordiv(7))
        .withColumn("p2", li("l_discount").radd(1.0).pow(2))
        .toSpark(includeIndex = true)
        .selectExpr("l_orderkey", "l_linenumber", "qmod", "qfdiv",
          "round(p2, 10) AS p2")
        .orderBy("l_orderkey", "l_linenumber")
    }),

    // coercion.py:88-116 bool→int arithmetic
    "q_bool_coercion" -> ((s, dir) => {
      val li = lineitem(s, dir)
      val a = li("l_quantity") > 25
      val b = li("l_discount") > 0.05
      li.select(Nil)
        .withColumn("flags", a.add(b))
        .withColumn("scaled", (li("l_quantity") > 25).mul(10))
        .toSpark(includeIndex = true)
        .orderBy("l_orderkey", "l_linenumber")
    }),

    // generic.py:59-62 astype casts
    "q_astype" -> ((s, dir) => {
      val li = lineitem(s, dir)
      li.select(Nil)
        .withColumn("qty_int", li("l_quantity").astype(org.apache.spark.sql.types.IntegerType))
        .withColumn("qty_str", li("l_quantity").astype(org.apache.spark.sql.types.StringType))
        .toSpark(includeIndex = true)
        .orderBy("l_orderkey", "l_linenumber")
    }),

    // alchemy.py:264-275 applymap with na_action='ignore' over real NULLs
    "q_applymap" -> ((s, dir) => {
      val o = ordersByKey(s, dir)("o_totalprice")
      val p = partByKey(s, dir)("p_retailprice")
      val joined = o.add(p).rename(Some("s"))
      new graft.api.DataFrame(joined.frame)
        .applymap(c => c * 2, naAction = Some("ignore"))
        .toSpark(includeIndex = true)
        .orderBy("o_orderkey")
    }),

    // generic.py:8-22 len/shape as a 1-row relation
    "q_len" -> ((s, dir) => {
      val li = lineitem(s, dir)
      val o = DataFrame.fromParquet(s, s"$dir/orders.parquet")
      s.range(1).select(lit(li.len).as("lineitem_rows"),
        lit(o.len).as("order_rows"), lit(o.shape(1)).as("order_cols"))
    }),

    // multimodal: synthesize a real binary-PPM payload, re-PARSE its
    // header from the bytes (probeImages → ImageCodec), then resize-meta.
    // The oracle recomputes width/height from the text length and the
    // resize math — a hash match proves the byte-level header parse
    // round-trips the synthesis exactly.
    // perceptual image dedup: planted byte-identical images (copies of
    // the same source text through the deterministic PPM framing) must
    // pair at hamming 0 through decode → pooled grid → dHash → the
    // simhash pigeonhole machinery; the generator is text-deterministic,
    // so the oracle is text equality over the planted corpus
    "q_image_dedup" -> ((s, dir) => {
      val docs = table(s, dir, "documents").select("doc_id", "text")
      val copies = docs.where(col("doc_id") < 15)
        .select((col("doc_id") + 500000L).as("doc_id"), col("text"))
      val framed = Multimodal.withImagePayload(docs.unionAll(copies), "text")
      Multimodal.imageNearDup(framed, "doc_id", "content",
        dim = 8, maxHamming = 0)
        .orderBy("id_l", "id_r")
    }),

    // multimodal, real-codec leg: the SAME deterministic raster encoded
    // once as PNG and once as JPEG (javax.imageio both ways) must pair
    // inside a small hamming ball through the REAL pixel decode → luma
    // grid → dHash — the cross-container promise the byte path cannot
    // make. The raster is text-deterministic, so the oracle is text
    // equality over the planted corpus (q_image_dedup's pattern); the
    // hamming value itself is codec-noise-dependent and stays out of
    // the compared columns. maxHamming = 3 is the largest radius the
    // 4x16-bit pigeonhole banding FULLY recalls (hamming <= 3 => one
    // chunk equal — hammingNearDupFromSig's contract); the planted
    // twins land at hamming 0 with a 16/255 cell margin vs <~2/255
    // JPEG DC noise, so the radius is slack, not load-bearing
    "q_image_dedup2" -> ((s, dir) => {
      val docs = table(s, dir, "documents").select("doc_id", "text")
        .where(col("doc_id") < 120)
      val png = Multimodal.withEncodedImagePayload(docs, "text", "png",
        minPartitions = Some(s.sparkContext.defaultParallelism))
      val jpg = Multimodal.withEncodedImagePayload(
        docs.select((col("doc_id") + 500000L).as("doc_id"), col("text")),
        "text", "jpeg", minPartitions = Some(s.sparkContext.defaultParallelism))
      Multimodal.imageNearDup(png.unionByName(jpg), "doc_id", "content",
          dim = 8, maxHamming = 3)
        .select("id_l", "id_r")
        .orderBy("id_l", "id_r")
    }),

    // PERSISTED perceptual image dedup — the ingest-time face: the
    // corpus (PNG containers) is decoded + dHashed ONCE into the
    // hamming index, then a JPEG batch of re-encoded twins probes it
    // at its own decode cost only. Every batch image must match its
    // corpus original CROSS-CONTAINER (real pixel decode, radius 3 =
    // the pigeonhole full-recall bound); the raster is text-
    // deterministic, so the oracle is text equality
    "q_image_index" -> ((s, dir) => {
      val docs = table(s, dir, "documents").select("doc_id", "text")
        .where(col("doc_id") < 100)
      val corpus = Multimodal.withEncodedImagePayload(docs, "text", "png",
        minPartitions = Some(s.sparkContext.defaultParallelism))
      Multimodal.buildImageDupIndex(corpus, "doc_id", "content",
        "graft_img_idx", dim = 8, buckets = 8)
      val batch = Multimodal.withEncodedImagePayload(
        docs.select((col("doc_id") + 500000L).as("doc_id"), col("text")),
        "text", "jpeg", minPartitions = Some(s.sparkContext.defaultParallelism))
      Multimodal.imageDupAgainstIndex(s, "graft_img_idx", batch,
          "doc_id", "content", dim = 8, maxHamming = 3)
        .select("corpus_id", "batch_id")
        .orderBy("corpus_id", "batch_id")
    }),

    // the SERVING loop of the persisted image index: a STREAM of image
    // payloads (JPEG re-encodes of the corpus texts) checks each
    // micro-batch against the stored PNG-built signatures — ingest-time
    // perceptual dedup with zero streaming state (the index IS the
    // state); batch ids are disjoint across micro-batches so the
    // drained stream ≡ one batch probe, gated by the text-equality
    // oracle (q_image_index's pattern through the stream)
    "q_stream_image" -> ((s, dir) => {
      val docs = table(s, dir, "documents").select("doc_id", "text")
        .where(col("doc_id") < 60)
      val corpus = Multimodal.withEncodedImagePayload(docs, "text", "png",
        minPartitions = Some(s.sparkContext.defaultParallelism))
      Multimodal.buildImageDupIndex(corpus, "doc_id", "content",
        "graft_img_srv", dim = 8, buckets = 8)
      val qs = GraftStreaming.readDocumentsGlob(s, dir, "documents.parquet")
        .where(col("doc_id") < 60).select("doc_id", "text")
      val out = org.apache.spark.sql.GraftSqlBridge
        .managedTempDir("graft-img-srv").getAbsolutePath
      val q = GraftStreaming.probeEachBatch(qs, out)(b =>
        Multimodal.imageDupAgainstIndex(s, "graft_img_srv",
          Multimodal.withEncodedImagePayload(
            b.select((col("doc_id") + 500000L).as("doc_id"), col("text")),
            "text", "jpeg"),
          "doc_id", "content", dim = 8, maxHamming = 3))
      assert(q.awaitTermination(300000), "stream did not finish within 300s")
      s.read.parquet(out)
        .select("corpus_id", "batch_id")
        .orderBy("corpus_id", "batch_id")
    }),

    // image dedup CLUSTERS: the near-dup pair relation (decode → dHash
    // → banded hamming) closed into connected components — three
    // planted framings of each text form one clique, so the component
    // label is the min id of the text-equal group (the
    // duplicateClusters composition the text family already has,
    // applied to the image signature path)
    "q_image_clusters" -> ((s, dir) => {
      val docs = table(s, dir, "documents").select("doc_id", "text")
        .where(col("doc_id") < 60)
      val all = docs
        .unionByName(docs.select((col("doc_id") + 500000L).as("doc_id"),
          col("text")))
        .unionByName(docs.select((col("doc_id") + 600000L).as("doc_id"),
          col("text")))
      val framed = Multimodal.withImagePayload(all, "text")
      val pairs = Multimodal.imageNearDup(framed, "doc_id", "content",
        dim = 8, maxHamming = 0)
      Dedup.duplicateClusters(pairs, "id_l", "id_r")
        .orderBy("node")
    }),

    // streaming INGEST-TIME metadata extraction: container probes run
    // per micro-batch in the serving loop (probeEachBatch — zero
    // streaming state, the probe is a pure row kernel), so crawl
    // payloads carry typed metadata from the moment they land. The
    // probe is row-deterministic, so the drained stream ≡ the batch
    // probe of the union — gated by the same header-arithmetic oracle
    // as q_audio2
    "q_stream_probe" -> ((s, dir) => {
      val qs = GraftStreaming.readDocumentsGlob(s, dir, "documents.parquet")
      val out = org.apache.spark.sql.GraftSqlBridge
        .managedTempDir("graft-probe-srv").getAbsolutePath
      val q = GraftStreaming.probeEachBatch(qs, out)(b =>
        Multimodal.probeAudio(Multimodal.withMp3Payload(b, "text"),
            "content")
          .select(col("doc_id"),
            col("probed_audio.sample_rate").as("sample_rate"),
            col("probed_audio.channels").as("channels"),
            col("probed_audio.n_samples").as("n_samples"),
            col("probed_audio.format").as("format")))
      assert(q.awaitTermination(300000), "stream did not finish within 300s")
      s.read.parquet(out)
        .select("doc_id", "sample_rate", "channels", "n_samples", "format")
        .orderBy("doc_id")
    }),

    "q_multimodal" -> ((s, dir) => {
      val docs = table(s, dir, "documents")
      val mm = Multimodal.withImagePayload(docs, "text")
      val probed = Multimodal.probeImages(mm.repartition(8), "content")
      Multimodal.resizeMeta(probed, "probed_meta", 256, 256)
        .select(col("doc_id"),
          col("probed_meta.width").as("width"),
          col("probed_meta.height").as("height"),
          col("resized_meta.width").as("rs_width"),
          col("resized_meta.height").as("rs_height"))
        .orderBy("doc_id")
    }),

    // multimodal image, compressed-container leg: a REAL PNG signature +
    // IHDR chunk assembled byte-for-byte (big-endian dims, truecolor),
    // re-parsed from the bytes by the PNG header probe; the oracle
    // recomputes the dimension arithmetic from the text length. JPEG's
    // SOF marker walk is spec-covered (handcrafted + fuzzed payloads).
    "q_image2" -> ((s, dir) => {
      val docs = table(s, dir, "documents")
      val mm = Multimodal.withPngPayload(docs, "text")
      Multimodal.probeImages(mm.repartition(8), "content")
        .select(col("doc_id"),
          col("probed_meta.width").as("width"),
          col("probed_meta.height").as("height"),
          col("probed_meta.channels").as("channels"),
          col("probed_meta.format").as("format"))
        .orderBy("doc_id")
    }),

    // multimodal audio: REAL RIFF/WAVE header synthesis (byte-exact LE
    // fields from expressions) round-tripped through the byte parser;
    // oracle recomputes the header arithmetic from the text byte length
    "q_audio" -> ((s, dir) => {
      val docs = table(s, dir, "documents")
      val mm = Multimodal.withAudioPayload(docs, "text")
      val probed = Multimodal.probeAudio(mm.repartition(8), "content")
      Multimodal.frameSampleMeta(probed, "probed_audio", 4)
        .select(col("doc_id"),
          col("probed_audio.sample_rate").as("sample_rate"),
          col("probed_audio.channels").as("channels"),
          col("probed_audio.n_samples").as("n_samples"),
          col("sampled_meta.sample_rate").as("fs_rate"),
          col("sampled_meta.n_samples").as("fs_samples"))
        .orderBy("doc_id")
    }),

    // multimodal video: real Y4M stream synthesis (header + FRAME
    // sections) frame-COUNTED back by the chunk-walking parser; oracle
    // recomputes dimensions/frame count from the text byte length
    "q_video" -> ((s, dir) => {
      val docs = table(s, dir, "documents")
      val mm = Multimodal.withVideoPayload(docs, "text")
      val probed = Multimodal.probeVideo(mm.repartition(8), "content")
      Multimodal.videoFrameSamplePlan(probed, "probed_video",
          everyN = 2, maxFrames = 3)
        .select(col("doc_id"),
          col("probed_video.width").as("width"),
          col("probed_video.fps_num").as("fps_num"),
          col("probed_video.n_frames").as("n_frames"),
          size(col("sampled_frames")).as("n_sampled"))
        .orderBy("doc_id")
    }),

    // multimodal audio, compressed-container leg: a REAL MPEG1 Layer
    // III frame sequence (ID3v2 tag skipped via its syncsafe size,
    // then frames counted at their computed bitrate/samplerate stride)
    // walked back by the byte parser; the oracle recomputes the header
    // arithmetic — rate/channel tables and frames×1152 samples — from
    // the text byte length
    "q_audio2" -> ((s, dir) => {
      val docs = table(s, dir, "documents")
      val mm = Multimodal.withMp3Payload(docs, "text")
      Multimodal.probeAudio(mm.repartition(8), "content")
        .select(col("doc_id"),
          col("probed_audio.sample_rate").as("sample_rate"),
          col("probed_audio.channels").as("channels"),
          col("probed_audio.bits").as("bits"),
          col("probed_audio.n_samples").as("n_samples"),
          col("probed_audio.format").as("format"))
        .orderBy("doc_id")
    }),

    // REAL audio signal analysis: energy (Σ s²), zero-crossing count
    // and peak over the signed 16-bit PCM sample stream — the classic
    // cheap speech/music/noise discriminators, computed EXACTLY in
    // integers (no float leaves the kernel). The PCM data is
    // md5-derived bytes (full 0–255 range → real negative samples and
    // crossings, unlike ASCII text), so the oracle replays every
    // sample from the hex-pair arithmetic and the result hash-matches
    "q_audio3" -> ((s, dir) => {
      val docs = table(s, dir, "documents")
      val r = lit(2) + pmod(length(col("text")), lit(5))
      val src = docs.select(col("doc_id"),
        unhex(repeat(md5(col("text")), r)).as("pcm"))
      val mm = Multimodal.withAudioPayload(src, "pcm")
      Multimodal.audioStats(mm.repartition(8), "content")
        .select(col("doc_id"),
          col("pcm_stats.n_samples").as("n_samples"),
          col("pcm_stats.sum_sq").as("sum_sq"),
          col("pcm_stats.zero_crossings").as("zero_crossings"),
          col("pcm_stats.peak").as("peak"))
        .orderBy("doc_id")
    }),

    // ID3v2 tag extraction: the TIT2/TPE1 text frames parsed back out
    // of real tag bytes — title/artist are the join keys audio
    // curation dedups and caps on; absent frames (TALB here) read
    // NULL. The fixture strings derive from the doc text, so the
    // oracle recomputes exactly what the frame walk must decode
    "q_audio5" -> ((s, dir) => {
      val docs = table(s, dir, "documents")
      val mm = Multimodal.withMp3TagPayload(docs, "text")
      Multimodal.audioTags(mm.repartition(8), "content")
        .select(col("doc_id"),
          col("tags.title").as("title"),
          col("tags.artist").as("artist"),
          col("tags.album").as("album"))
        .orderBy("doc_id")
    }),

    // windowed PCM energy → silence profile: the dead-air / truncated-
    // upload curation gate — 4-sample blocks, exact long energies,
    // silent iff energy < 1.2e9 (≈ the md5-uniform expectation, so
    // both classes occur); the oracle replays every sample and the
    // same window grouping
    "q_audio4" -> ((s, dir) => {
      val docs = table(s, dir, "documents")
      val r = lit(2) + pmod(length(col("text")), lit(5))
      val src = docs.select(col("doc_id"),
        unhex(repeat(md5(col("text")), r)).as("pcm"))
      val mm = Multimodal.withAudioPayload(src, "pcm")
      Multimodal.audioSilence(mm.repartition(8), "content",
          window = 4, threshold = 1200000000L)
        .select(col("doc_id"),
          col("silence.n_windows").as("n_windows"),
          col("silence.n_silent").as("n_silent"),
          col("silence.max_window_energy").as("max_window_energy"))
        .orderBy("doc_id")
    }),

    // multimodal video, ISO-BMFF leg: a REAL minimal MP4 box tree
    // (ftyp/moov/trak/mdia/stbl, 16.16 tkhd dims, mdhd timescale, stts
    // sample table; mvhd carries a DECOY timescale) box-walked back by
    // the byte parser; the oracle recomputes every field from the text
    // byte length
    "q_video2" -> ((s, dir) => {
      val docs = table(s, dir, "documents")
      val mm = Multimodal.withMp4Payload(docs, "text")
      Multimodal.probeVideo(mm.repartition(8), "content")
        .select(col("doc_id"),
          col("probed_video.width").as("width"),
          col("probed_video.height").as("height"),
          col("probed_video.fps_num").as("fps_num"),
          col("probed_video.fps_den").as("fps_den"),
          col("probed_video.n_frames").as("n_frames"),
          col("probed_video.format").as("format"))
        .orderBy("doc_id")
    }),

    // multimodal video, EBML leg: a REAL WebM element tree (DocType,
    // TrackEntry DefaultDuration → the nominal-fps ratio, Video dims,
    // SimpleBlocks counted across Clusters) EBML-walked back by the
    // byte parser; oracle recomputes from the text byte length
    "q_video3" -> ((s, dir) => {
      val docs = table(s, dir, "documents")
      val mm = Multimodal.withWebmPayload(docs, "text")
      Multimodal.probeVideo(mm.repartition(8), "content")
        .select(col("doc_id"),
          col("probed_video.width").as("width"),
          col("probed_video.height").as("height"),
          col("probed_video.fps_num").as("fps_num"),
          col("probed_video.fps_den").as("fps_den"),
          col("probed_video.n_frames").as("n_frames"),
          col("probed_video.format").as("format"))
        .orderBy("doc_id")
    }),

    // REAL inter-frame motion analysis: sum-of-absolute-differences
    // between consecutive Y4M rasters — the scene-cut / static-content
    // discriminator for video curation — exact in integers over a
    // varying-frame fixture (frame k = md5(text|k) bytes), every
    // raster byte replayed by the oracle
    "q_video4" -> ((s, dir) => {
      val docs = table(s, dir, "documents")
      val mm = Multimodal.withVideoPayload2(docs, "text")
      Multimodal.videoFrameStats(mm.repartition(8), "content")
        .select(col("doc_id"),
          col("frame_stats.n_frames").as("n_frames"),
          col("frame_stats.total_sad").as("total_sad"),
          col("frame_stats.max_sad").as("max_sad"))
        .orderBy("doc_id")
    }),

    // extension: left merge with NULL-extension semantics
    "q_merge_left" -> ((s, dir) => {
      val o = DataFrame.fromParquet(s, s"$dir/orders.parquet",
        columns = Seq("o_orderkey", "o_totalprice"))
      val p = DataFrame.fromParquet(s, s"$dir/part.parquet",
        columns = Seq("p_partkey", "p_retailprice"))
      o.merge(p.renameColumns(Map("p_partkey" -> "o_orderkey")),
        Seq("o_orderkey"), how = "left")
        .toSpark()
        .orderBy("o_orderkey")
    }),

    // base.py:86-102 MultiIndex level join: (user_id, event_id)-indexed
    // frame + user_id-indexed frame aligned on the shared level
    "q_level_join" -> ((s, dir) => {
      val multi = DataFrame.fromParquet(s, s"$dir/events.parquet",
        columns = Seq("value"), index = Seq("user_id", "event_id"))
      val perUser = DataFrame.fromParquet(s, s"$dir/events.parquet",
        columns = Seq("user_id", "event_id"))
        .groupby(Seq("user_id")).count("value")
      multi.add(perUser, axis = 0, level = Some("user_id"))
        .toSpark(includeIndex = true)
        .orderBy("user_id", "event_id")
    }),

    // temporal: backward as-of join (latest purchase at/before each click
    // per user), oracle = DuckDB's native ASOF LEFT JOIN
    "q_asof" -> ((s, dir) => {
      val ev = table(s, dir, "events")
      val clicks = ev.where(col("event_type") === "click")
      val purchases = ev.where(col("event_type") === "purchase")
        .select("user_id", "ts", "value")
      AsOfJoin.asof(clicks, purchases, Seq("user_id"), "ts", "ts", Seq("value"))
        .select(col("event_id"), col("value_asof"))
        .orderBy("event_id")
    }),

    // merge_asof direction="nearest" with a 1h tolerance: backward and
    // forward candidates are two frames of ONE window node; the right
    // side dedupes to one row per (user, ts) so the match is unique.
    // Runs on the µs time base (eventsMicros seam) — the oracle can
    // only see µs (DuckDB truncates parquet ns timestamps), so ns-side
    // distances/grouping would diverge on a ns-vintage drop
    "q_asof_nearest" -> ((s, dir) => {
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
    }),

    // resample to hourly OHLC bars per event type: ONE map-combined
    // aggregate, open/close by (tsu, event_id)-deterministic min_by/max_by
    "q_resample" -> ((s, dir) => {
      WindowOps.resampleOhlc(eventsMicros(s, dir), Seq("event_type"),
          "tsu", "value", period = 3600000000L, tieBreak = Seq("event_id"))
        .select(col("event_type"), col("bucket"), col("n"),
          round(col("open"), 6).as("open"), round(col("high"), 6).as("high"),
          round(col("low"), 6).as("low"), round(col("close"), 6).as("close"))
        .orderBy("event_type", "bucket")
    }),

    // streaming strict-order funnel: per-key step progress tracked live
    // (state = monotone prefix of reach times, <= |steps| longs/key);
    // distinct keys per emitted step == the batch funnel counts. The
    // step list left-joins the counts so a step NO key reached still
    // reports 0 (the oracle always emits every step row)
    "q_stream_funnel" -> ((s, dir) => {
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
    }),

    // streaming last-touch attribution: each purchase credited at
    // ingest to the key's latest touch since the previous purchase —
    // state is ONE pending-touch triple per key
    "q_stream_attribution" -> ((s, dir) => {
      val stream = GraftStreaming.readEventsGlob(s, dir, "events.parquet")
      val hits = GraftStreaming.lastTouchStream(stream, "purchase")
      runStreamQuery(s, "stream_attr", hits)
        .select(col("convId").as("conv_id"), col("touchType").as("touch_type"),
          col("touchTs").as("touch_tsu"))
        .orderBy("conv_id")
    }),

    // streaming OHLC bars at ingest: the resample aggregate as a
    // watermarked stateful windowed aggregate — state is one buffer per
    // live (window, type), pruned by the watermark
    "q_stream_ohlc" -> ((s, dir) => {
      val stream = GraftStreaming.readEventsGlob(s, dir, "events.parquet")
      val agg = GraftStreaming.ohlcStream(stream,
        watermark = "1 hour", window_ = "1 hour")
      runStreamQuery(s, "stream_ohlc", agg, "complete")
        .select(col("window.start").cast("long").as("win_start"),
          col("event_type"), col("n"),
          round(col("open"), 6).as("open"), round(col("high"), 6).as("high"),
          round(col("low"), 6).as("low"), round(col("close"), 6).as("close"))
        .orderBy("win_start", "event_type")
    }),

    // entity resolution end-to-end: fuzzy-linkage pairs -> connected
    // components -> one entity label per linked record (min-id labels,
    // the same CC machinery as duplicate clustering)
    "q_entities" -> ((s, dir) => {
      val names = table(s, dir, "part")
        .groupBy("p_name").agg(min("p_partkey").as("id"))
      val pairs = Dedup.fuzzyLinkage(names, "id", "p_name",
        split(col("p_name"), " ").getItem(0), threshold = 0.85)
      Dedup.duplicateClusters(
          pairs.select(col("id_a").as("id_l"), col("id_b").as("id_r")),
          "id_l", "id_r")
        .orderBy("node")
    }),

    // pandas conveniences: isin/between masks + str accessor
    "q_isin_str" -> ((s, dir) => {
      val li = lineitem(s, dir)
      li.select(Nil)
        .withColumn("flag_in", li("l_returnflag").isin(Seq("R", "A")))
        .withColumn("qty_mid", li("l_quantity").between(10, 20))
        .withColumn("flag_up", li("l_linestatus").str.lower)
        .toSpark(includeIndex = true)
        .orderBy("l_orderkey", "l_linenumber")
    }),

    // dt accessor: timestamp parts (UTC session both sides)
    "q_dt_parts" -> ((s, dir) => {
      val li = lineitem(s, dir)
      li.select(Nil)
        .withColumn("y", li("l_shipdate").dt.year)
        .withColumn("m", li("l_shipdate").dt.month)
        .withColumn("d", li("l_shipdate").dt.day)
        .toSpark(includeIndex = true)
        .orderBy("l_orderkey", "l_linenumber")
    }),

    // text cleaning: control-char strip + whitespace collapse + trim
    "q_text_clean" -> ((s, dir) => {
      val docs = table(s, dir, "documents")
      docs.select(col("doc_id"),
        length(TextAnalysis.cleanText(col("text"))).as("clean_len"),
        md5(TextAnalysis.cleanText(col("text"))).as("clean_md5"))
        .orderBy("doc_id")
    }),

    // Unicode NFC canonicalization (codegen'd native expression, ASCII
    // fast path): planted combining-mark + compatibility-singleton text
    // (e+U+0301, U+212B angstrom) must collapse to the precomposed forms
    "q_unicode_norm" -> ((s, dir) => {
      val docs = table(s, dir, "documents").select("doc_id", "text")
      docs.select(col("doc_id"),
        TextAnalysis.unicodeNormalize(
          concat(col("text"), lit(" café Å naive"))).as("nfc"))
        .orderBy("doc_id")
    }),

    // vocabulary: corpus word-frequency table (explode + count)
    "q_word_freq" -> ((s, dir) => {
      val docs = table(s, dir, "documents")
      docs.select(explode(TextAnalysis.tokens(lower(col("text")))).as("word"))
        .groupBy("word").agg(count(lit(1)).as("freq"))
        .orderBy(desc("freq"), col("word"))
        .limit(50)
    }),

    // training-data ordering: deterministic pseudo-random shuffle
    "q_shuffle" -> ((s, dir) => {
      val ev = table(s, dir, "events")
      graft.operators.Sampling.deterministicShuffle(ev, "event_id")
        .select("event_id").limit(100)
    }),

    // embedding analytics: per-label centroids, decimal-exact means
    "q_centroids" -> ((s, dir) => {
      val emb = table(s, dir, "embeddings")
      Similarity.centroids(emb, Seq("label"), "embedding")
        .orderBy("label", "pos")
    }),

    // top-k per group (argmax pattern): 2 highest-value events per user
    "q_topk_per_group" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val ev = table(s, dir, "events")
      val w = Window.partitionBy("user_id").orderBy(desc("value"), col("event_id"))
      ev.withColumn("rn", row_number().over(w)).where(col("rn") <= 2)
        .select(col("user_id"), col("rn"), col("event_id"), col("value"))
        .orderBy("user_id", "rn")
    }),

    // training-data sampling: deterministic n-per-key via stable
    // pseudo-random (md5) ordering — reproducible across engines
    "q_sample_per_key" -> ((s, dir) => {
      val ev = table(s, dir, "events")
      graft.operators.Sampling.perKey(ev, Seq("user_id"), "event_id", n = 3)
        .select(col("user_id"), col("event_id"))
        .orderBy("user_id", "event_id")
    }),

    // temporal: bucketized point-in-interval range join — events falling
    // into each user's first-half-hour-of-the-hour windows
    "q_range_join" -> ((s, dir) => {
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
    }),

    // interval-OVERLAP join: 30-minute purchase spans × error spans per
    // user — bucketized equi-join, each true pair kept once in its
    // overlap-start bucket (no DISTINCT exchange in the plan)
    "q_interval_join" -> ((s, dir) => {
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
    }),

    // extension: pivoted per-user event-type counts
    "q_pivot" -> ((s, dir) => {
      val ev = DataFrame.fromParquet(s, s"$dir/events.parquet",
        columns = Seq("user_id", "event_type"))
      ev.groupby(Seq("user_id"))
        .pivotCount("event_type", Seq("click", "error", "purchase", "signup", "view"))
        .toSpark(includeIndex = true)
        .orderBy("user_id")
    }),

    // semi-structured: JSON field extraction from the events payload
    "q_json" -> ((s, dir) => {
      val ev = table(s, dir, "events")
      ev.select(col("event_id"),
        get_json_object(col("props"), "$.k").cast("int").as("k"))
        .groupBy(col("k")).agg(count(lit(1)).as("n"))
        .orderBy("k")
    }),

    // extension: rank window over events
    "q_rank" -> ((s, dir) => {
      val ev = table(s, dir, "events")
      WindowOps.rank(ev, Seq("user_id"), Seq("value", "event_id"), "rnk")
        .select(col("event_id"), col("rnk"))
        .orderBy("event_id")
    }),

    // rank/dense_rank/percent_rank over a COARSE key (floor(value/10)) —
    // real ties, still deterministic (rank functions depend only on the
    // order-key multiset); ntile gets a total order. One Window node.
    "q_rank_methods" -> ((s, dir) => {
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
    }),

    // time-range rolling sum: trailing 1 hour per user over epoch-µs
    // RANGE frame (decimal accumulation → engine-exact)
    "q_rolling_time" -> ((s, dir) => {
      val ev = table(s, dir, "events")
        .withColumn("ts_us", expr("ts DIV 1000"))
        .withColumn("vd", col("value").cast(DecimalType(18, 6)))
      WindowOps.rollingRangeAgg(ev, Seq("user_id"), "ts_us",
        sum(col("vd")), 3600000000L, "hsum")
        .select(col("event_id"), col("hsum").cast("double").as("hsum"))
        .orderBy("event_id")
    }),

    // approx_count_distinct honesty check: exact distinct (oracled
    // exactly) + a deterministic HLL++-within-5% claim the oracle
    // asserts as TRUE
    "q_approx_distinct" -> ((s, dir) => {
      val ev = table(s, dir, "events")
      ev.groupBy(col("event_type"))
        .agg(countDistinct(col("user_id")).as("n_exact"),
          approx_count_distinct(col("user_id"), 0.02).as("n_approx"))
        .select(col("event_type"), col("n_exact"),
          (abs(col("n_approx") - col("n_exact")) <
            col("n_exact") * 0.05).as("approx_ok"))
        .orderBy("event_type")
    }),

    // generic.py:81-83 round (HALF_UP on both engines for these values —
    // parity verified over the full price column)
    "q_round" -> ((s, dir) => {
      val li = lineitem(s, dir)
      li.select(Seq("l_extendedprice")).round(1)
        .toSpark(includeIndex = true)
        .orderBy("l_orderkey", "l_linenumber")
    }),

    // set ops: intersect/except with exact row semantics
    "q_set_ops" -> ((s, dir) => {
      val li = lineitem(s, dir)
      val big = li.select(Seq("l_quantity", "l_returnflag")).where(li("l_quantity") > 40)
      val ret = li.select(Seq("l_quantity", "l_returnflag")).where(li("l_returnflag") === "R")
      val inter = big.intersect(ret)
      inter.toSpark().orderBy("l_quantity", "l_returnflag")
    }),

    // Structured Streaming: watermarked tumbling-window aggregation over an
    // events file stream, driven to completion (AvailableNow), oracle =
    // the equivalent batch GROUP BY date_trunc
    "q_stream_window" -> ((s, dir) => {
      // file streams need a directory source: stream the sf dir filtered
      // down to the events table
      val stream = GraftStreaming.readEventsGlob(s, dir, "events.parquet")
      val agg = GraftStreaming.windowedCounts(stream,
        watermark = "1 hour", window_ = "1 hour")
      runStreamQuery(s, "stream_out", agg, "complete")
        .select(col("window.start").cast("long").as("win_start"),
          col("event_type"), col("n"), col("total"))
        .orderBy("win_start", "event_type")
    }),

    // Structured Streaming: per-window PSI drift monitor — the window's
    // value histogram scored against a reference histogram (the even
    // event_id half) baked in as literals; ONE stateful windowed
    // aggregate holding bins longs per window. Oracle recomputes the
    // reference in SQL with the identical integer→double ops
    "q_stream_psi" -> ((s, dir) => {
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
    }),

    // Structured Streaming: per-window constraint validation — the
    // at-ingest Deequ-shaped gate; |rules| conditional sums in ONE
    // stateful windowed aggregate, stacked to one row per (window, rule)
    "q_stream_validate" -> ((s, dir) => {
      import graft.operators.Validate.{InRange, InSet, NotNull}
      val stream = GraftStreaming.readEventsGlob(s, dir, "events.parquet")
      val v = GraftStreaming.validateStream(stream, Seq(
        NotNull("props"), InRange("value", 0, 450),
        InSet("event_type", Seq("click", "view", "purchase", "signup"))))
      runStreamQuery(s, "stream_validate", v, "complete")
        .select(col("window.start").cast("long").as("win_start"),
          col("rule"), col("col_name"), col("violations"), col("n_rows"))
        .orderBy("win_start", "rule", "col_name")
    }),

    // Structured Streaming: per-window one-sample KS drift monitor —
    // exact-integer CDF-gap fold over the same binned windowed
    // aggregate as q_stream_psi (state = bins longs per window)
    "q_stream_ks" -> ((s, dir) => {
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
    }),

    // Structured Streaming: per-window binned ROC-AUC monitor — the
    // classifier-drift readout at ingest (is the score still ranking
    // the label?); exact Mann-Whitney pair counts over 20 score bins
    // folded statically inside ONE stateful windowed aggregate (state
    // = 2·bins longs per window)
    "q_stream_auc" -> ((s, dir) => {
      val stream = GraftStreaming.readEventsGlob(s, dir, "events.parquet")
        .withColumn("is_click", col("event_type") === "click")
      val auc = GraftStreaming.aucStream(stream, "value", "is_click",
        lo = 0L, hi = 500L, bins = 20,
        watermark = "1 hour", window_ = "1 hour")
      runStreamQuery(s, "stream_auc", auc, "complete")
        .select(col("window.start").cast("long").as("win_start"),
          col("n_pos"), col("n_neg"), round(col("auc"), 9).as("auc"))
        .orderBy("win_start")
    }),

    // Structured Streaming: the END-TO-END curation pipeline at ingest
    // — quality gate (stateless map) → exact-dedup canonicalization
    // (one long of state per fingerprint, emit-on-improvement) — with
    // the drained winners compacted (min per fp, exact for ANY batch
    // split) and decontaminated/tokenized batch-side; shares
    // q_curation's oracle, so stream ≡ batch IS the gate
    "q_stream_curation" -> ((s, dir) => {
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
    }),

    // Structured Streaming: per-window classifier quality monitor —
    // exact confusion counts + prec/rec/F1/acc per hour window, the
    // live face of q_class_report next to q_stream_auc's ranking view.
    // UPDATE-mode drain (so the watermark actually evicts state — the
    // documented bound is what runs) + per-window last-emission
    // compaction over the changelog the sink receives
    "q_stream_confusion" -> ((s, dir) => {
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
    }),

    // streaming privacy release: per-window ε-DP noisy event counts —
    // published ingest telemetry whose TRUE volumes are sensitive; PRF
    // noise keyed on (seed, window) so re-emissions release the same
    // draw; the ingest-time twin of q_dp_release's count leg
    "q_stream_dp" -> ((s, dir) => {
      val ev = GraftStreaming.readEventsGlob(s, dir, "events.parquet")
      runStreamQuery(s, "stream_dp",
          GraftStreaming.dpCountStream(ev, eps = 1.0, seed = "graft-r11"),
          "complete")
        .select(col("window.start").cast("long").as("win_start"),
          round(col("n_dp"), 6).as("n_dp"))
        .orderBy("win_start")
    }),

    // the SAFE continuous drain shape the dpCountStream DP contract
    // documents: APPEND mode — each window releases exactly ONCE, after
    // the watermark closes it, so the one-release-per-window ε
    // guarantee holds in a genuinely continuous run. Windows the final
    // watermark has not closed stay in state and are NOT published;
    // the oracle replays exactly the closed set (window end ≤ max
    // event time − the 1 h delay)
    "q_stream_dp2" -> ((s, dir) => {
      val ev = GraftStreaming.readEventsGlob(s, dir, "events.parquet")
      runStreamQuery(s, "stream_dp2",
          GraftStreaming.dpCountStream(ev, eps = 1.0, seed = "graft-r12"),
          "append")
        .select(col("window.start").cast("long").as("win_start"),
          round(col("n_dp"), 6).as("n_dp"))
        .orderBy("win_start")
    }),

    // Structured Streaming: stream-static enrichment — events joined
    // map-side to the broadcast customer dimension per micro-batch (no
    // state), unmatched users kept with NULL segment; batch-aggregated
    // for the oracle
    "q_stream_enrich" -> ((s, dir) => {
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
    }),

    // Structured Streaming: trending keys — hourly windowed counts
    // drained to the sink, then the per-window top-2 finisher over the
    // already-window-reduced relation (deterministic n desc, key asc).
    // UPDATE-mode drain (watermark-evicted state, the documented bound)
    // + per-(window, key) last-emission compaction before ranking
    "q_stream_trending" -> ((s, dir) => {
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
    }),

    // Structured Streaming: the MG sketch as a complete-mode global
    // aggregate — one O(capacity) state row for "top event types so
    // far"; capacity 64 >> the distinct types, so counts are exact and
    // the single-batch run ≡ the batch GROUP BY oracle
    "q_stream_heavy" -> ((s, dir) => {
      val stream = GraftStreaming.readEventsGlob(s, dir, "events.parquet")
      val agg = GraftStreaming.heavyHittersStream(stream,
        col("event_type"), capacity = 64, k = 5)
      runStreamQuery(s, "stream_heavy", agg, "complete").select(posexplode(col("__hh")))
        .select((col("pos") + 1).cast("int").as("rank"),
          col("col.item").as("event_type"), col("col.cnt").as("cnt"))
        .orderBy("rank")
    }),

    // Structured Streaming: watermarked stream-stream inner join — each
    // click joined to same-user purchases within the following hour. The
    // two-sided event-time bound is what lets Spark evict join state; the
    // inner join's output equals the batch range join, which is the oracle.
    "q_stream_join" -> ((s, dir) => {
      val clicks = GraftStreaming.readEventsGlob(s, dir, "events.parquet")
        .where(col("event_type") === "click")
      val purchases = GraftStreaming.readEventsGlob(s, dir, "events.parquet")
        .where(col("event_type") === "purchase")
      val joined = GraftStreaming
        .streamStreamJoin(clicks, purchases, "user_id")
        .select(col("l.event_id").as("click_id"),
          col("r.event_id").as("purchase_id"))
      runStreamQuery(s, "stream_join", joined).orderBy("click_id", "purchase_id")
    }),

    // Structured Streaming: duplicate delivery (the same file streamed by
    // two unioned sources) restored to exactly-once by the streaming dedup
    // state store, then batch-aggregated for the oracle. The watermark is
    // effectively unbounded so no state is evicted mid-run — on a live
    // cluster you bound it to the real out-of-orderness instead.
    "q_stream_dedup" -> ((s, dir) => {
      val s1 = GraftStreaming.readEventsGlob(s, dir, "events.parquet")
      val s2 = GraftStreaming.readEventsGlob(s, dir, "events.parquet")
      val deduped = GraftStreaming.dedupStream(s1.union(s2), Seq("event_id"),
        watermark = "87600 hours")
      runStreamQuery(s, "stream_dedup", deduped).groupBy("event_type")
        .agg(count(lit(1)).as("n"),
          sum(col("value").cast(DecimalType(18, 6))).cast("double").as("total"))
        .orderBy("event_type")
    }),

    // Structured Streaming: changelog → snapshot compaction — one
    // state row per key, emit on change; a single AvailableNow batch
    // emits exactly batch latestByKey, which is the oracle
    "q_stream_latest" -> ((s, dir) => {
      val ev = GraftStreaming.readEventsGlob(s, dir, "events.parquet")
      runStreamQuery(s, "stream_latest", GraftStreaming.latestStream(ev))
        .select(col("userId").as("user_id"),
        col("eventId").as("event_id"),
        expr("tsNs DIV 1000").as("ts_us"),
        col("eventType").as("event_type"), col("value"))
        .orderBy("user_id")
    }),

    // Structured Streaming: per-key bottom-k reservoir — the mergeable
    // (arrival-order-independent) formulation of reservoir sampling,
    // sharing Sampling.perKey's (md5(id), id) convention, so the oracle
    // IS q_sample_per_key's SQL at the same k
    "q_stream_sample" -> ((s, dir) => {
      val ev = GraftStreaming.readEventsGlob(s, dir, "events.parquet")
      runStreamQuery(s, "stream_sample", GraftStreaming.bottomKSampleStream(ev, k = 3))
        .select(col("userId").as("user_id"),
          col("eventId").as("event_id"))
        .orderBy("user_id", "event_id")
    }),

    // Structured Streaming: token-quota admission at ingest — per-lang
    // budgets in the checkpointed store (one long per key). Single
    // AvailableNow batch + stable md5 in-batch order makes the stream
    // EXACTLY batch budgetSample, so the oracle IS q_budget_sample's.
    "q_stream_budget" -> ((s, dir) => {
      val docs = GraftStreaming.readDocumentsGlob(s, dir, "documents.parquet")
        .withColumn("n_tokens",
          TextAnalysis.tokenCount(col("text")).cast("long"))
      val adm = GraftStreaming.budgetAdmitStream(docs, "lang", "doc_id",
        "n_tokens", budget = 50000L)
      runStreamQuery(s, "stream_budget", adm).select(col("key").as("lang"), col("doc_id"), col("n_tokens"))
        .orderBy("lang", "doc_id")
    }),

    // Structured Streaming: banded-LSH MinHash near-dup at ingest —
    // every arriving doc matched against the stored bucket members in
    // Spark's keyed state store, exact Jaccard on hashed shingle sets.
    // Same banding/threshold as q_near_dup, so the exhaustive all-pairs
    // oracle applies for the same recall reason; cross-band duplicate
    // emissions collapse in the batch groupBy after the run.
    "q_stream_neardup" -> ((s, dir) => {
      val docs = GraftStreaming.readDocumentsGlob(s, dir, "documents.parquet")
      val hits = GraftStreaming.nearDupStream(docs, "doc_id", "text",
        threshold = 0.8, watermark = "87600 hours")
      runStreamQuery(s, "stream_neardup", hits).groupBy("id_l", "id_r")
        .agg(round(max(col("jaccard")), 6).as("jaccard"))
        .orderBy("id_l", "id_r")
    }),

    // Structured Streaming: flatMapGroupsWithState sessionization with
    // BATCH PARITY — per-user sentinel events (ts shifted 31 years past
    // the WHOLE dataset span, poisoned value) arrive in the same batch
    // and force every real session closed through the gap logic itself
    // (no timeout-boundary semantics in play); sentinel sessions are
    // filtered by the poison. Oracle = full batch sessionization —
    // stream ≡ batch.
    "q_stream_sessionize" -> ((s, dir) => {
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
    }),

    // crawl curation: URL canonicalization — scheme/host case, default vs
    // non-default ports, tracking-param strip + param sort, fragment drop,
    // path slash rules; plus host + eTLD+1 extraction. The UrlOps grammar
    // is mirrored regex-for-regex in the oracle.
    "q_url_norm" -> ((s, dir) => {
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
    }),

    // crawl curation: per-registered-domain stats after a domain blocklist
    // filter — one hash aggregate on eTLD+1 (map-side partials collapse it)
    "q_domain_stats" -> ((s, dir) => {
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
    }),

    // crawl curation, PSL-exact leg: per-registered-domain stats where
    // eTLD+1 comes from the embedded public-suffix-list snapshot
    // (broadcast longest-match join — wildcard rules, exceptions,
    // public-suffix hosts with NO registered domain all exercised);
    // the oracle mirrors the same rules as a VALUES relation and the
    // same tail algebra, so PSL semantics are hash-verified
    "q_domain_stats2" -> ((s, dir) => {
      import graft.operators.{PublicSuffix, UrlOps}
      val ev = table(s, dir, "events")
      val h = UrlOps.syntheticPslHost(col("event_id"), col("user_id"))
      val base = ev.select(h.as("host"), length(h).as("n_chars"))
      PublicSuffix.registeredDomainPsl(base, "host")
        .groupBy("domain")
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_chars").cast("long")).as("n_chars"))
        .orderBy("domain")
    }),

    // crawl curation: anti-monoculture per-domain cap — at most N docs per
    // eTLD+1, chosen by the stable md5 pseudo-random order
    "q_domain_cap" -> ((s, dir) => {
      import graft.operators.UrlOps
      val ev = table(s, dir, "events")
      val u = UrlOps.syntheticUrl(col("event_id"), col("user_id"), col("event_type"))
      val base = ev.select(col("event_id"), u.as("url"))
      UrlOps.perDomainCap(base, "url", "event_id", cap = 300)
        .select(UrlOps.urlDomain(col("url")).as("domain"), col("event_id"))
        .orderBy("domain", "event_id")
    }),

    // crawl curation: PageRank over the (source host → linked host) graph
    // — the domain-quality prior corpus weighting joins against. Exact
    // integer nano-unit iterations (GraphOps.pageRankNano), 3 rounds at
    // damping 85/100; the oracle replays the same integer recursion as
    // unrolled CTEs, so ranks hash bit-exactly
    "q_pagerank" -> ((s, dir) => {
      import graft.operators.{GraphOps, UrlOps}
      val ev = table(s, dir, "events")
      val u = UrlOps.syntheticUrl(col("event_id"), col("user_id"), col("event_type"))
      val edges = ev.select(UrlOps.hostOf(u).as("src"),
        UrlOps.syntheticLinkHost(col("event_id"), col("user_id")).as("dst"),
        lit(1L).as("w"))
      GraphOps.pageRankNano(edges, "src", "dst", col("w"), iters = 3,
          materializeEvery = 4)
        .select(col("node").as("host"), col("rank_nano"))
        .orderBy(desc("rank_nano"), col("host"))
    }),

    // crawl curation: TrustRank over the same link graph — teleport mass
    // restricted to the news-host whitelist, so rank is trust flowing
    // out of the seeds; unreachable hosts decay to exactly 0
    "q_trustrank" -> ((s, dir) => {
      import graft.operators.{GraphOps, UrlOps}
      val ev = table(s, dir, "events")
      val u = UrlOps.syntheticUrl(col("event_id"), col("user_id"), col("event_type"))
      val edges = ev.select(UrlOps.hostOf(u).as("src"),
        UrlOps.syntheticLinkHost(col("event_id"), col("user_id")).as("dst"),
        lit(1L).as("w"))
      val seeds = edges.select(col("src").as("node"))
        .where(col("node").like("www.news%")).distinct()
      GraphOps.pageRankNano(edges, "src", "dst", col("w"), iters = 3,
          seeds = Some(seeds), materializeEvery = 4)
        .select(col("node").as("host"), col("rank_nano"))
        .orderBy(desc("rank_nano"), col("host"))
    }),

    // graph-embedding corpus: DeepWalk-style truncated walks over the
    // host link graph — the "sentences" a skip-gram embedding trainer
    // consumes. Transitions are deterministic md5-keyed choices, so the
    // walk corpus is byte-stable across runs/partitionings and the
    // oracle replays every step exactly
    "q_walks" -> ((s, dir) => {
      import graft.operators.{GraphOps, UrlOps}
      val ev = table(s, dir, "events")
      val u = UrlOps.syntheticUrl(col("event_id"), col("user_id"), col("event_type"))
      val edges = ev.select(UrlOps.hostOf(u).as("src"),
        UrlOps.syntheticLinkHost(col("event_id"), col("user_id")).as("dst"))
      GraphOps.deterministicWalks(edges, "src", "dst", steps = 4,
          walksPerNode = 2)
        .orderBy("walk_id", "step")
    }),

    // graph embeddings END TO END — DeepWalk: the deterministic walk
    // corpus becomes skip-gram pairs (window 1, both directions), and
    // an in-engine SGNS trainer (word2vec objective, md5-uniform
    // negatives, DECIMAL-exact gradients, 1e-9-grid updates) learns
    // node vectors the oracle replays iteration by iteration
    "q_node2vec" -> ((s, dir) => {
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
    }),

    // DeepWalk, production posture: word2vec's unigram^0.75 negative
    // TABLE (exact integer inverted-CDF over context counts — Spark
    // executes it as a cell-decomposed equi-join, the oracle as a
    // readable range join over the same integers) + WARM START — one
    // iteration trains, a second run CONTINUES from the returned
    // matrices. The oracle replays the composed trajectory as a cold
    // 2-iteration run, so fit(1) → fit(1, init) ≡ fit(2) is
    // hash-verified cross-engine, not just spec-pinned
    "q_node2vec2" -> ((s, dir) => {
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
    }),

    // DeepWalk with word2vec's FREQUENT-WORD SUBSAMPLING: hub nodes
    // dominate a walk-pair relation exactly the way hot words dominate
    // text, so pairs thin by Mikolov's per-occurrence discard —
    // P(keep pair) = √(t/f(a))·√(t/f(b)) as an exact integer-threshold
    // md5 draw — BEFORE training. The oracle replays the same discard
    // set (same quantized thresholds, same draws), then the same SGNS
    // trajectory over the thinned pairs: the composition is
    // hash-verified cross-engine
    "q_node2vec3" -> ((s, dir) => {
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
    }),

    // crawl curation: per-host link-graph degree/weight profile — the
    // hub/authority sanity relation shipped next to a rank table
    "q_link_stats" -> ((s, dir) => {
      import graft.operators.{GraphOps, UrlOps}
      val ev = table(s, dir, "events")
      val u = UrlOps.syntheticUrl(col("event_id"), col("user_id"), col("event_type"))
      val edges = ev.select(UrlOps.hostOf(u).as("src"),
          UrlOps.syntheticLinkHost(col("event_id"), col("user_id")).as("dst"))
        .where(col("src") =!= col("dst"))
        .groupBy("src", "dst").agg(count(lit(1)).as("w"))
      GraphOps.degreeStats(edges, "src", "dst", col("w"))
        .withColumnRenamed("node", "host")
        .orderBy("host")
    }),

    // crawl curation: HITS hubs/authorities over the host link graph —
    // the directory-page vs destination-page split PageRank conflates.
    // Exact integer nano-units, 3 iterations, L1-normalized each round;
    // the oracle replays the identical integer recursion as CTEs
    "q_hits" -> ((s, dir) => {
      import graft.operators.{GraphOps, UrlOps}
      val ev = table(s, dir, "events")
      val u = UrlOps.syntheticUrl(col("event_id"), col("user_id"), col("event_type"))
      val edges = ev.select(UrlOps.hostOf(u).as("src"),
        UrlOps.syntheticLinkHost(col("event_id"), col("user_id")).as("dst"),
        lit(1L).as("w"))
      GraphOps.hitsNano(edges, "src", "dst", col("w"), iters = 3,
          materializeEvery = 4)
        .select(col("node").as("host"), col("hub_nano"), col("auth_nano"))
        .orderBy(desc("auth_nano"), col("host"))
    }),

    // crawl curation: label-propagation communities over the undirected
    // host graph — mutually-linking cliques (mirror farms, link rings)
    // surface as one community id. Deterministic max-weight/min-label
    // rule, 3 synchronous rounds, replayed exactly by the oracle
    "q_communities" -> ((s, dir) => {
      import graft.operators.{GraphOps, UrlOps}
      val ev = table(s, dir, "events")
      val u = UrlOps.syntheticUrl(col("event_id"), col("user_id"), col("event_type"))
      val edges = ev.select(UrlOps.hostOf(u).as("src"),
        UrlOps.syntheticLinkHost(col("event_id"), col("user_id")).as("dst"),
        lit(1L).as("w"))
      GraphOps.labelPropagation(edges, "src", "dst", col("w"), iters = 3,
          materializeEvery = 4)
        .select(col("node").as("host"), col("community"))
        .orderBy("community", "host")
    }),

    // crawl curation: per-host triangle counts via degree-ordered wedge
    // join (arboricity-bounded — the shape that survives power-law
    // graphs); low triangle density at high degree = link-farm signal
    "q_triangles" -> ((s, dir) => {
      import graft.operators.{GraphOps, UrlOps}
      val ev = table(s, dir, "events")
      val u = UrlOps.syntheticUrl(col("event_id"), col("user_id"), col("event_type"))
      val edges = ev.select(UrlOps.hostOf(u).as("src"),
        UrlOps.syntheticLinkHost(col("event_id"), col("user_id")).as("dst"))
      GraphOps.triangleCounts(edges, "src", "dst")
        .select(col("node").as("host"), col("deg"), col("triangles"))
        .orderBy("host")
    }),

    // phrase mining: corpus PMI collocations over adjacent token pairs
    // (Church–Hanks) — exact long counts, one mirrored double ln
    "q_pmi" -> ((s, dir) => {
      TextAnalysis.pmiBigrams(
          table(s, dir, "documents").select("text"), "text", minCount = 5)
        .orderBy(desc("pmi"), col("w1"), col("w2"))
    }),

    // keyphrase mining: TextRank (Mihalcea & Tarau 2004) = PageRank over
    // the adjacent-token co-occurrence graph — two existing kernels
    // composed (bigram counts feed pageRankNano's integer recursion),
    // and the oracle composes the same two CTE generators
    "q_textrank" -> ((s, dir) => {
      import graft.operators.GraphOps
      val big = TextAnalysis.bigramCounts(
          table(s, dir, "documents").select("text"), "text")
        .select(col("w1").as("src"), col("w2").as("dst"),
          col("pair_cnt").as("w"))
      GraphOps.pageRankNano(big, "src", "dst", col("w"), iters = 3,
          materializeEvery = 4)
        .select(col("node").as("token"), col("rank_nano"))
        .orderBy(desc("rank_nano"), col("token"))
    }),

    // embedding preprocessing: per-dimension corpus mean/variance — the
    // probe before centering/whitening/quantizer training; 1e-9-quantized
    // exact long sums make it bit-reproducible across engines
    "q_emb_stats" -> ((s, dir) => {
      Similarity.dimStats(table(s, dir, "embeddings"), "embedding")
        .orderBy("pos")
    }),

    // embedding preprocessing: center on corpus means (broadcast means
    // array, narrow zip_with) — exploded and 1e-6-floored for hashing
    "q_emb_center" -> ((s, dir) => {
      val c = Similarity.centerVectors(table(s, dir, "embeddings"),
        "embedding", "c")
      c.select(col("vec_id"), posexplode(col("c")).as(Seq("pos0", "cx")))
        .select(col("vec_id"), (col("pos0") + 1).as("pos"),
          floor(col("cx") * 1e6).cast("long").as("c6"))
        .orderBy("vec_id", "pos")
    }),

    // embedding preprocessing: L2 norm of the centered vector + first
    // unit-sphere element; DECIMAL-exact square accumulation so the norm
    // is aggregation-order- and engine-independent
    "q_emb_unit" -> ((s, dir) => {
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
    }),

    // data layout: Morton (z-order) code over two bucketed keys — the
    // interleaved sort key whose range partitioning tightens parquet
    // min/max envelopes on BOTH dimensions (ZOrder.clusterByZ)
    "q_zorder" -> ((s, dir) => {
      val ev = table(s, dir, "events")
      ev.select(col("event_id"),
          graft.operators.ZOrder.zValue(
            pmod(col("user_id"), lit(64)), pmod(col("event_id"), lit(64)),
            bits = 6).as("z"))
        .orderBy("event_id")
    }),

    // embedding analytics: dominant eigenvector of the corpus second
    // moment by distributed power iteration — two matvec joins per pass
    // over the exploded relation, DECIMAL-exact sums, 1e-9-quantized
    // iterates (bit-reproducible trajectory, no driver collect)
    "q_power_iter" -> ((s, dir) => {
      Similarity.powerIteration(table(s, dir, "embeddings"),
          "vec_id", "embedding", dim = 64, iters = 3)
        .select(col("pos"), floor(col("v") * 1e6).cast("long").as("v6"))
        .orderBy("pos")
    }),

    // tokenizer training: BPE pair counting — the corpus collapses to a
    // distinct-word table once, then pair stats run on the vocabulary
    // (deterministic top-k: count desc, pair asc)
    "q_bpe_pairs" -> ((s, dir) => {
      TextAnalysis.bpeTopPairs(table(s, dir, "documents"), "text", k = 40)
    }),

    // tokenizer application: encode docs with a learned BPE merge list —
    // merges apply in training order; the Spark replace chain and the
    // DuckDB oracle are generated from the same list
    "q_bpe_encode" -> ((s, dir) => {
      val toks = graft.operators.TextAnalysis.bpeEncode(col("text"), BpeMerges)
      // the per-row merge-replace chain fuses into the one-row-group
      // scan — spread it first (identity at scale; Spread scaladoc)
      graft.operators.Spread.ifSmall(
          table(s, dir, "documents").select("doc_id", "text"))
        .select(col("doc_id"), size(toks).as("n_tokens"),
          array_join(slice(toks, 1, 12), " ").as("head_tokens"))
        .orderBy("doc_id")
    }),

    // analytics: per-group OLS trend (value ~ hours) from one moment
    // aggregate — DECIMAL-exact sums, one fixed double combination
    // mirrored in the oracle
    "q_group_linfit" -> ((s, dir) => {
      val ev = table(s, dir, "events")
      // µs-truncated ns (DuckDB reads parquet ns timestamps at µs)
      graft.operators.Regression.groupLinearFit(ev, Seq("user_id"),
          expr("ts DIV 1000 * 1000").cast("double") / lit(3.6e12), col("value"))
        .select(col("user_id"), col("n"), round(col("slope"), 9).as("slope"),
          round(col("intercept"), 6).as("intercept"), round(col("r2"), 9).as("r2"))
        .orderBy("user_id")
    }),

    // contrastive training: hard negatives — per anchor, the k most
    // cosine-similar vectors with a DIFFERENT label (label-mismatch
    // predicate applied map-side before scoring; bounded-heap partial
    // top-k truncates to k pre-shuffle)
    "q_hard_neg" -> ((s, dir) => {
      val emb = table(s, dir, "embeddings")
      val anchors = emb.where(col("vec_id") < 10)
      graft.operators.Similarity.hardNegatives(
          emb, "vec_id", "embedding", "label",
          anchors, "vec_id", "embedding", "label", k = 5)
        .select(col("anchor_id"), col("rank"), col("neg_id"),
          round(col("cosine"), 6).as("cosine"))
        .orderBy("anchor_id", "rank")
    }),

    // contrastive training: deterministic negative sampling — md5-derived
    // uniform draws against a scalable dense corpus index (no global
    // sort, no crossJoin, partition-invariant)
    "q_neg_sample" -> ((s, dir) => {
      val docs = table(s, dir, "documents")
      val anchors = docs.where(pmod(col("doc_id"), lit(97)) === 0)
      graft.operators.DetRandom.negativeSample(docs, "doc_id",
          anchors, "doc_id", k = 4)
        .orderBy("anchor", "j")
    }),

    // monitoring: bounded-horizon EWMA per user — the horizon lag()
    // terms collapse into ONE window node (one shuffle), weights are
    // shared Scala literals so both engines sum identical doubles in
    // identical order
    "q_ewma" -> ((s, dir) => {
      val ev = eventsMicros(s, dir)
      WindowOps.ewmaBounded(ev, Seq("user_id"), Seq("tsu", "event_id"),
          "value", alpha = 0.3, horizon = 8)
        .select(col("event_id"), round(col("ewma"), 9).as("ewma"))
        .orderBy("event_id")
    }),

    // behavioral analytics: first-order event-transition matrix — one
    // window shuffle on the user key, then a |types|²-sized aggregate
    "q_transitions" -> ((s, dir) => {
      val ev = eventsMicros(s, dir)
      WindowOps.transitionCounts(ev, Seq("user_id"), Seq("tsu", "event_id"),
          "event_type")
        .orderBy("src", "dst")
    }),

    // sequence predictability: Shannon entropy of each type's next-event
    // distribution — logs of exact integer counts only, |types|-sized
    "q_transition_entropy" -> ((s, dir) => {
      val ev = eventsMicros(s, dir)
      WindowOps.transitionEntropy(ev, Seq("user_id"), Seq("tsu", "event_id"),
          "event_type")
        .select(col("src"), col("n_total"), col("n_dst"),
          round(col("entropy_bits"), 6).as("entropy_bits"))
        .orderBy("src")
    }),

    // activity rhythm: exact interpolated inter-arrival quantiles per
    // type (ticks → seconds only at the end so engine-ulp interpolation
    // noise dies under round-6)
    "q_interarrival" -> ((s, dir) => {
      val ev = eventsMicros(s, dir)
      WindowOps.interArrivalStats(ev, Seq("user_id"), Seq("tsu", "event_id"),
          "event_type", "tsu", tickSeconds = 1e6)
        .select(col("event_type"), col("n"),
          round(col("p50_sec"), 6).as("p50_sec"),
          round(col("p90_sec"), 6).as("p90_sec"),
          round(col("p99_sec"), 6).as("p99_sec"))
        .orderBy("event_type")
    }),

    // the 100 TB seam of q_interarrival as an executable contract:
    // exact quantiles (oracled exactly) + the GK-sketch
    // (approxAccuracy) quantiles-within-tolerance claim the oracle
    // asserts TRUE — the q_approx_quantile honesty pattern
    "q_interarrival_approx" -> ((s, dir) => {
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
    }),

    // robust metric screening: median/MAD outlier profile per type —
    // three broadcast-joined |types|-sized aggregates, stream never
    // shuffled
    "q_outliers" -> ((s, dir) => {
      Profile.robustOutliers(table(s, dir, "events"), Seq("event_type"),
          "value", k = 3.0)
        .select(col("event_type"), col("n"),
          round(col("median"), 6).as("median"),
          round(col("mad"), 6).as("mad"), col("n_outliers"))
        .orderBy("event_type")
    }),

    // the approx seam contract for robustOutliers (the q_gains_approx
    // pattern): the bounded-memory GK-sketch twin (approx_percentile
    // both passes) must land within tolerance of the exact
    // median/MAD/outlier-count on real data — the oracle recomputes the
    // exact side and pins approx_ok TRUE, so the sketch swap is an
    // executable claim, not a doc sentence
    "q_outliers_approx" -> ((s, dir) => {
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
    }),

    // classifier-score calibration: binned reliability report with
    // integer-nano exact score sums; Σ weighted_gap = ECE
    "q_calibration" -> ((s, dir) => {
      Profile.calibrationReport(scoredDocs(s, dir), "score", "label",
          bins = 10)
        .select(col("bin"), col("n"),
          round(col("confidence"), 6).as("confidence"),
          round(col("accuracy"), 6).as("accuracy"),
          round(col("weighted_gap"), 6).as("weighted_gap"))
        .orderBy("bin")
    }),

    // multi-touch attribution: linear credit over purchase-closed
    // journeys — nano-quantized per-touch credit, order-exact sums
    "q_attribution" -> ((s, dir) => {
      val ev = eventsMicros(s, dir)
      WindowOps.attribution(ev, Seq("user_id"), Seq("tsu", "event_id"),
          "event_type", "purchase", model = "linear")
        .select(col("event_type"), col("n_touches"),
          round(col("credit"), 6).as("credit"))
        .orderBy("event_type")
    }),

    // Kaplan-Meier churn curve over per-user activity lifetimes (hours),
    // right-censored at the corpus horizon: users quiet >= 1 day before
    // the last corpus event are churn events, the rest censored (the
    // 30-day testdata span makes day-scale quiet the churn signal)
    "q_survival" -> ((s, dir) => {
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
    }),

    // functional-dependency discovery on part: the primary key holds
    // for both its dependents (ONE fused scan checks them together),
    // the attribute candidate is violated — both verdicts and the
    // shared-determinant fusion live under the oracle
    "q_fd" -> ((s, dir) => {
      Profile.functionalDeps(table(s, dir, "part"),
        Seq(("p_partkey", "p_brand"), ("p_partkey", "p_type"),
          ("p_size", "p_type")))
        .orderBy("lhs", "rhs")
    }),

    // de-seasonalization: hour-of-day phase means (DECIMAL-exact) +
    // residuals — one 24-row aggregate + a broadcast join-back
    "q_seasonal" -> ((s, dir) => {
      val ev = eventsMicros(s, dir)
      WindowOps.seasonalDecompose(ev, "event_id", "tsu", "value",
          period = 3600000000L, phases = 24)
        .orderBy("event_id")
    }),

    // behavioral sequences one order deeper: corpus-wide length-3 path
    // counts (both leads share ONE window node; agg collapses to ≤
    // |types|³ rows map-side)
    "q_paths3" -> ((s, dir) => {
      val ev = eventsMicros(s, dir)
      WindowOps.pathTripleCounts(ev, Seq("user_id"), Seq("tsu", "event_id"),
          "event_type")
        .orderBy("t1", "t2", "t3")
    }),

    // crawl curation: host co-visitation matrix — the bipartite
    // user×host relation projected onto hosts, per-user fan-out capped
    // at C(10,2) by the md5-deterministic item cap
    "q_covisit" -> ((s, dir) => {
      import graft.operators.{GraphOps, UrlOps}
      val ev = table(s, dir, "events")
      val u = UrlOps.syntheticUrl(col("event_id"), col("user_id"), col("event_type"))
      val rel = ev.select(col("user_id"), UrlOps.hostOf(u).as("host"))
      GraphOps.coVisitation(rel, "user_id", "host", maxPerKey = 10)
        .orderBy("item_a", "item_b")
    }),

    // snapshot drift monitoring: PSI of the doc-length distribution,
    // en vs non-en slices as the two "snapshots" — per-bin terms +
    // total, Laplace-smoothed, nano-quantized exact integer sum
    "q_psi" -> ((s, dir) => {
      import graft.operators.Drift
      val docs = table(s, dir, "documents")
      Drift.psiFixedBins(
          docs.where(col("lang") === "en"),
          docs.where(col("lang") =!= "en"),
          "n_chars", lo = 0L, hi = 600L, bins = 12)
        .orderBy("bin")
    }),

    // snapshot drift monitoring: exact-integer two-sample KS statistic
    // on the same binning — worst-case CDF gap, no logs, no quantization
    "q_ks" -> ((s, dir) => {
      import graft.operators.Drift
      val docs = table(s, dir, "documents")
      Drift.ksFixedBins(
          docs.where(col("lang") === "en"),
          docs.where(col("lang") =!= "en"),
          "n_chars", lo = 0L, hi = 600L, bins = 12)
        .orderBy("bin")
    }),

    // crawl curation: k-core of the sparsified user×host bipartite
    // graph (every survivor links ≥3 peers in the final induced
    // subgraph after 3 peel rounds) — the collusion/engagement core
    "q_kcore" -> ((s, dir) => {
      import graft.operators.{GraphOps, UrlOps}
      val ev = table(s, dir, "events")
      val u = UrlOps.syntheticUrl(col("event_id"), col("user_id"), col("event_type"))
      val edges = ev.where(col("event_id") % 7 === 0)
        .select(concat(lit("u"), col("user_id").cast("string")).as("src"),
          UrlOps.hostOf(u).as("dst"))
      GraphOps.kCore(edges, "src", "dst", k = 3, rounds = 3)
        .orderBy("node")
    }),

    // engagement: rolling 7-day distinct active users — activity
    // collapsed once, bounded ×7 explode on the collapsed relation (no
    // per-period self-join scans, no count-distinct-over-range window)
    "q_active_users" -> ((s, dir) => {
      val ev = eventsMicros(s, dir)
      WindowOps.rollingActiveUsers(ev, "user_id", "tsu",
          period = 86400000000L, windowPeriods = 7)
        .orderBy("period")
    }),

    // warehouse temporal: SCD2 history table from the event changelog —
    // consecutive-unchanged compaction + validity intervals in two
    // window passes over one user-key shuffle
    "q_scd2" -> ((s, dir) => {
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
    }),

    // reporting: FULL cross-granularity aggregate in ONE scan — cube is
    // a single Expand pass over all 2^k groupings (the rollup complement:
    // q_rollup covers the hierarchical-subtotal path via the graft-API
    // rollupAgg); subtotal NULLs labeled for engine-stable ordering
    "q_cube" -> ((s, dir) => {
      val li = table(s, dir, "lineitem")
      li.cube(col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("n"),
          sum(col("l_quantity").cast(DecimalType(18, 4)))
            .cast("double").as("qty"))
        .select(coalesce(col("l_returnflag"), lit("ALL")).as("rf"),
          coalesce(col("l_linestatus"), lit("ALL")).as("ls"),
          col("n"), col("qty"))
        .orderBy("rf", "ls")
    }),

    // incremental refresh: mergeable per-key state — history aggregated
    // once, the delta aggregated alone, FULL OUTER monoid merge; DECIMAL
    // state keeps refresh associativity exact (oracle = one-shot GROUP BY
    // over everything, which mergeability must equal)
    "q_incr_agg" -> ((s, dir) => {
      import graft.operators.Incremental
      val ev = table(s, dir, "events")
      val snap = Incremental.aggregateState(
        ev.where(col("event_id") % 2 === 0), Seq("user_id"), "value")
      val delta = Incremental.aggregateState(
        ev.where(col("event_id") % 2 =!= 0), Seq("user_id"), "value")
      Incremental.mergeState(snap, delta, Seq("user_id"))
        .select(col("user_id"), col("n"), col("s").cast("double").as("total"))
        .orderBy("user_id")
    }),

    // mergeable histogram state: the quantile member of the incremental
    // family — snapshot ⊎ delta on (key, bin) counts, p50/p90 read off
    // the merged state with deterministic one-bin-width error; the
    // oracle recomputes the SAME binned readout from the raw rows (the
    // state merge must be invisible in the result)
    "q_incr_hist" -> ((s, dir) => {
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
    }),

    // mergeable distinct-count sketches: per-(type, day) HLL sketches
    // unioned per type — the partitioned-ingest pattern where each day's
    // shard is sketched once and recombination is sketch-sized, never a
    // re-scan; honesty-checked against the exact distinct
    "q_hll_merge" -> ((s, dir) => {
      val ev = table(s, dir, "events")
        .withColumn("day", expr("ts DIV 86400000000000"))
      val daily = ev.groupBy("event_type", "day")
        .agg(hll_sketch_agg(col("user_id")).as("sk"))
      val merged = daily.groupBy("event_type")
        .agg(hll_sketch_estimate(hll_union_agg(col("sk"))).as("approx"))
      val exact = ev.groupBy("event_type")
        .agg(countDistinct(col("user_id")).as("n_exact"))
      merged.join(exact, Seq("event_type"))
        .select(col("event_type"), col("n_exact"),
          (abs(col("approx") - col("n_exact")) <= col("n_exact") * 0.05)
            .as("approx_ok"))
        .orderBy("event_type")
    }),

    // benchmark decontamination: train docs sharing ≥1 distinct 8-gram
    // with any eval-set doc (eval side broadcasts — it's benchmark-sized;
    // the only shuffle is the contamination-bounded pair count). The
    // eval set is a relabeled corpus sample, so every sampled doc
    // contaminates its own source verbatim plus genuine collisions.
    "q_decontaminate" -> ((s, dir) => {
      val docs = table(s, dir, "documents")
      val evalSet = docs.where(col("doc_id") % 37 === 0)
        .select((col("doc_id") + 500000).as("doc_id"), col("text"))
      Dedup.decontaminationReport(docs, "doc_id", "text",
          evalSet, "doc_id", "text", n = 8, minHits = 1L)
        .orderBy("train_id", "eval_id")
    }),

    // Structured Streaming: decontamination at ingest — arriving docs'
    // 8-grams broadcast-joined to the static benchmark per micro-batch,
    // ZERO streaming state; drained rows batch-aggregate to exactly the
    // batch report, which is the oracle
    "q_stream_decontaminate" -> ((s, dir) => {
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
    }),

    // Structured Streaming: EXACT per-key EWMA — one double of keyed
    // state carries the recursion across batches (the batch twin
    // truncates to a horizon; streaming is where the exact fold is
    // natural). Single AvailableNow batch ≡ the full-history fold,
    // which DuckDB replays with list_reduce over the same literals.
    "q_stream_ewma" -> ((s, dir) => {
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
    }),

    // incremental DISTINCT state: exact distinct is not a mergeable
    // scalar (overlap double-counts; true state = the value set), so
    // the HLL sketch per key is the materialized-view answer — two
    // half-refreshes honesty-checked against the one-shot exact
    "q_incr_distinct" -> ((s, dir) => {
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
    }),

    // bounded-memory quantiles honesty check: exact percentile (oracled
    // exactly) + a percentile_approx-within-tolerance claim the oracle
    // asserts TRUE — the q_approx_distinct pattern for quantiles
    "q_approx_quantile" -> ((s, dir) => {
      val ev = table(s, dir, "events")
      ev.groupBy(col("event_type")).agg(
          percentile(col("value"), lit(0.5)).as("p50x"),
          percentile_approx(col("value"), lit(0.5), lit(10000)).as("p50a"))
        .select(col("event_type"), round(col("p50x"), 9).as("p50_exact"),
          (abs(col("p50a") - col("p50x")) <=
            abs(col("p50x")) * 0.02 + lit(0.01)).as("approx_ok"))
        .orderBy("event_type")
    }),

    // two-sided CUSUM change-point scores per user: the max-reset
    // recursion via the reflection identity (cumsum + running min, one
    // exchange + one sort), nano-quantized exact — the oracle replays
    // the SAME prefix-sum reformulation on integer units
    "q_cusum" -> ((s, dir) => {
      WindowOps.cusum(eventsMicros(s, dir),
          Seq("user_id"), Seq("tsu", "event_id"), "value",
          target = 165.0, slack = 20.0, threshold = 500.0)
        .select(col("user_id"), col("event_id"),
          round(col("s_hi"), 6).as("s_hi"), round(col("s_lo"), 6).as("s_lo"),
          col("alarm"))
        .orderBy("user_id", "event_id")
    }),

    // trailing rolling median per user — robust local level; exact
    // percentile over the row frame, quantile_cont parity
    "q_rolling_median" -> ((s, dir) => {
      WindowOps.rollingQuantile(eventsMicros(s, dir),
          Seq("user_id"), Seq("tsu", "event_id"), "value", 0.5, window = 15)
        .select(col("user_id"), col("event_id"), round(col("rq"), 6).as("rmed"))
        .orderBy("user_id", "event_id")
    }),

    // rolling autocorrelation (value vs its own lag-1) over a trailing
    // 20-row window per user — six moments fused in ONE Window node,
    // decimal-exact sums, doubles only at the final combination
    "q_rolling_corr" -> ((s, dir) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("user_id").orderBy("tsu", "event_id")
      val lagged = eventsMicros(s, dir)
        .withColumn("y", lag(col("value"), 1).over(w))
      WindowOps.rollingCorr(lagged, Seq("user_id"), Seq("tsu", "event_id"),
          "value", "y", window = 20)
        .select(col("user_id"), col("event_id"), round(col("corr"), 6).as("corr"))
        .orderBy("user_id", "event_id")
    }),

    // full CDC replay: upserts + DELETE tombstones — latest-version
    // compaction where a key whose last change is a delete leaves the
    // snapshot (and a later re-insert resurrects it)
    "q_cdc" -> ((s, dir) => {
      val base = eventsMicros(s, dir)
        .select(col("event_id"), col("tsu"), col("value"), lit("I").as("op"))
      val upd = base.where(col("event_id") % 10 === 0)
        .select(col("event_id"), (col("tsu") + 1000L).as("tsu"),
          (col("value") * 2).as("value"), lit("U").as("op"))
      val del = base.where(col("event_id") % 20 === 0)
        .select(col("event_id"), (col("tsu") + 2000L).as("tsu"),
          lit(0.0).as("value"), lit("D").as("op"))
      Dedup.applyChangelog(base.unionAll(upd).unionAll(del),
          Seq("event_id"), Seq("tsu"), "op")
        .orderBy("event_id")
    }),

    // cumulative gains / lift by score-quantile band (bucket 1 = top
    // scores): exact-percentile edges broadcast back, tied scores never
    // split a band; same score/label synthesis as q_calibration
    "q_gains" -> ((s, dir) => {
      Profile.gainsTable(scoredDocs(s, dir), "score", "label", buckets = 10)
        .select(col("bucket"), col("n"), col("n_pos"),
          col("cum_n"), col("cum_pos"),
          round(col("gain"), 6).as("gain"), round(col("lift"), 6).as("lift"))
        .orderBy("bucket")
    }),

    // single-number ranking power of the q_gains classifier: Gini =
    // 2·AUC − 1 over the band curve (model-sized arithmetic)
    "q_gini" -> ((s, dir) => {
      Profile.giniFromGains(
        Profile.gainsTable(scoredDocs(s, dir), "score", "label", 10))
        .select(round(col("gini"), 9).as("gini"))
    }),

    // the 100 TB seam of q_gains as an executable contract: exact band
    // edges (oracled exactly) + the bounded-memory percentile_approx
    // banding whose gain/lift must land within tolerance — the
    // q_approx_quantile honesty pattern over the whole curve
    "q_gains_approx" -> ((s, dir) => {
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
    }),

    // typed PII detection counts (emails / valid IPv4 / phones /
    // Luhn-validated card numbers) over documents with deterministic
    // planted PII — regex programs shared verbatim with the oracle,
    // Luhn replayed there as a list comprehension
    "q_pii" -> ((s, dir) => {
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
    }),

    // privacy audit: k-anonymity / l-diversity report over the
    // (event_type, value-bucket) quasi-identifier — ONE grouped
    // aggregate; the dataset-level complement of q_pii's row scrubber
    "q_kanon" -> ((s, dir) => {
      val ev = table(s, dir, "events")
        .withColumn("vb", floor(col("value") / 100).cast("long"))
      Privacy.kAnonymityReport(ev, Seq("event_type", "vb"),
          Some("user_id"), k = 50, l = 20)
        .orderBy("event_type", "vb")
    }),

    // privacy RELEASE: ε-DP noisy per-group stats (Laplace mechanism,
    // deterministic PRF noise — computational DP with the seed as the
    // release secret) — what the pipeline PUBLISHES about the corpus
    // when the true counts are themselves sensitive; the statistical
    // complement of q_kanon's syntactic audit
    "q_dp_release" -> ((s, dir) => {
      Privacy.dpGroupRelease(table(s, dir, "events"), Seq("event_type"),
          "value", lo = 0.0, hi = 500.0, epsCount = 1.0, epsSum = 0.5,
          seed = "graft-r11")
        .select(col("event_type"), round(col("n_dp"), 6).as("n_dp"),
          round(col("sum_dp"), 6).as("sum_dp"))
        .orderBy("event_type")
    }),

    // privacy enforcement: suppress sub-k equivalence classes (one
    // window count, no join-back, no driver-resident violator list),
    // then a release-sized summary proving which rows survived
    "q_kanon_suppress" -> ((s, dir) => {
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
    }),

    // "datasheets for datasets": the release-review one-pager over the
    // corpus — a global aggregate (counts, token mass, exact length
    // quantiles) plus the fingerprint-grouped duplicate-mass aggregate
    // (two passes over the base projection: the dup rate needs a
    // per-fingerprint groupBy that the one-row global agg can't ride),
    // stacked to long (metric, value) form
    "q_datasheet" -> ((s, dir) => {
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
    }),

    // experiment readout: per-event-type success rate with the Wilson
    // score interval — the sort-by-lower-bound comparator
    "q_wilson" -> ((s, dir) => {
      val ev = table(s, dir, "events")
        .withColumn("success", col("value") >= 100.0)
      Profile.wilsonRates(ev, Seq("event_type"), "success", z = 1.96)
        .select(col("event_type"), col("n"), col("n_success"),
          round(col("rate"), 6).as("rate"),
          round(col("wilson_lo"), 6).as("wilson_lo"),
          round(col("wilson_hi"), 6).as("wilson_hi"))
        .orderBy("event_type")
    }),

    // feature screening: weight of evidence / information value of the
    // doc-length bucket against the lang='en' label — one grouped
    // count aggregate, +0.5 cell smoothing
    "q_woe" -> ((s, dir) => {
      import graft.operators.FeatureEng
      val docs = table(s, dir, "documents")
        .where(col("n_chars").isNotNull && col("lang").isNotNull)
        .withColumn("cat", floor(col("n_chars") / 250).cast("long"))
        .withColumn("label", col("lang") === "en")
      FeatureEng.woeTable(docs, "cat", "label")
        .select(col("cat"), col("n"), col("n_pos"), col("n_neg"),
          round(col("woe"), 6).as("woe"), round(col("iv"), 9).as("iv"))
        .orderBy("cat")
    }),

    // model prep: leave-one-out smoothed target encoding of lang
    // against the long-document label — grouped integer sums + prior
    // broadcast, no category window, no target leakage through own row
    "q_target_encode" -> ((s, dir) => {
      import graft.operators.FeatureEng
      val docs = table(s, dir, "documents")
        .select(col("doc_id").as("id"), col("lang").as("cat"),
          (col("n_chars") % 1000 >= 500).as("label"))
      FeatureEng.targetEncode(docs, "cat", "label", m = 10.0)
        .select(col("id"), col("cat"), round(col("te"), 9).as("te"))
        .orderBy("id")
    }),

    // cross-source score comparability: fixed-bin quantile
    // normalization of each event type's value distribution onto the
    // pooled one — integer cross-multiplied CDF map, broadcast back,
    // corpus scanned once
    "q_quantile_norm" -> ((s, dir) => {
      import graft.operators.FeatureEng
      FeatureEng.quantileNormalize(table(s, dir, "events"),
          "event_id", "event_type", "value", lo = 0.0, hi = 500.0,
          bins = 50)
        .select(col("event_id"), col("event_type"),
          round(col("value"), 6).as("value"), round(col("qn"), 6).as("qn"))
        .orderBy("event_id")
    }),

    // Structured Streaming: CDC compaction with DELETE tombstones — the
    // ingest-time twin of Dedup.applyChangelog (q_cdc's changelog
    // synthesis, streamed); the drained emission stream compacts to the
    // batch snapshot, so the oracle IS q_cdc's
    "q_stream_cdc" -> ((s, dir) => {
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
    }),

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
    "q_stream_sessions_native" -> ((s, dir) => {
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
    }),

    // Structured Streaming: point-in-time enrichment — each click
    // joins the purchase-tier SCD2 VERSION valid at the click's own
    // time (not now) — the feature-store train/serve-skew guard;
    // broadcast dimension, zero streaming state
    "q_stream_pit" -> ((s, dir) => {
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
    }),

    // Structured Streaming: per-window approx distinct users — exact
    // streaming DISTINCT is impossible with bounded state (Spark
    // rejects it), so the HLL sketch IS the answer; drained estimates
    // honesty-checked against batch-exact counts (oracle pins ok=TRUE)
    "q_stream_distinct" -> ((s, dir) => {
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
    }),

    // the production curation pass END TO END in one declarative plan:
    // quality gate → exact-dedup canonicalization → benchmark
    // decontamination → token accounting. Every stage is an
    // already-oracled operator; the pipeline query proves they COMPOSE
    // (one optimizer pass fuses the gate into the scans downstream)
    "q_curation" -> ((s, dir) => {
      val docs = table(s, dir, "documents")
      val gated = docs
        .withColumn("quality", TextAnalysis.qualityScore(col("text")))
        .where(col("quality") >= 0.6)
      val canon = Dedup.exactText(gated, "text", "doc_id")
        .select(col("canonical_id").as("doc_id"))
      val kept = gated.join(canon, Seq("doc_id"), "left_semi")
      val evalSet = docs.where(col("doc_id") % 37 === 0)
        .select((col("doc_id") + 500000L).as("eval_id"), col("text"))
      val contaminated = Dedup.decontaminationReport(kept, "doc_id", "text",
          evalSet, "eval_id", "text", n = 8, minHits = 3L)
        .select(col("train_id").as("doc_id")).distinct()
      kept.join(contaminated, Seq("doc_id"), "left_anti")
        .select(col("doc_id"),
          TextAnalysis.tokenCount(col("text")).cast("long").as("n_tokens"),
          round(col("quality"), 6).as("quality"))
        .orderBy("doc_id")
    }),

    // seasonal-residual anomaly screening — the operator-algebra
    // composition: seasonalDecompose strips the hour-of-day profile,
    // robustZScore standardizes the residual per phase (median/MAD —
    // the outliers being hunted can't drag the gate), |z| > 3.5 flags
    "q_anomaly" -> ((s, dir) => {
      val dec = WindowOps.seasonalDecompose(eventsMicros(s, dir),
        "event_id", "tsu", "value", period = 3600000000L, phases = 24)
      WindowOps.robustZScore(dec, Seq("phase"), "residual", "rz")
        .select(col("event_id"), col("phase"), col("residual"),
          round(col("rz"), 9).as("rz"),
          coalesce(abs(col("rz")) > 3.5, lit(false)).as("anomaly"))
        .orderBy("event_id")
    }),

    // item-item co-occurrence normalized to LIFT over the same capped
    // relation as the pair counts (margins from the capped set keep the
    // ratio internally consistent under the mega-key cap)
    "q_covisit_lift" -> ((s, dir) => {
      import graft.operators.{GraphOps, UrlOps}
      val ev = table(s, dir, "events")
      val u = UrlOps.syntheticUrl(col("event_id"), col("user_id"), col("event_type"))
      val rel = ev.select(col("user_id"), UrlOps.hostOf(u).as("host"))
      GraphOps.coVisitationLift(rel, "user_id", "host", maxPerKey = 10,
          minSupport = 2L)
        .select(col("item_a"), col("item_b"), col("n"),
          round(col("lift"), 9).as("lift"))
        .orderBy("item_a", "item_b")
    }),

    // Structured Streaming: CUSUM monitoring at ingest — the direct
    // recursion on 2 longs of keyed state (streaming is where the
    // sequential fold is natural; the batch twin needs the reflection
    // identity); alarmsOnly → output volume tracks incidents
    "q_stream_cusum" -> ((s, dir) => {
      val ev = GraftStreaming.readEventsGlob(s, dir, "events.parquet")
      runStreamQuery(s, "stream_cusum", GraftStreaming.cusumStream(
        ev, target = 165.0, slack = 20.0, threshold = 500.0))
        .select(col("userId").as("user_id"), col("eventId").as("event_id"),
          round(col("sHi"), 6).as("s_hi"), round(col("sLo"), 6).as("s_lo"))
        .orderBy("user_id", "event_id")
    }),

    // embedding-space drift between snapshots: per-dim mean shift /
    // variance movement — the vector-space companion to q_vocab_drift
    // and q_profile_drift (both dimStats aggregates, dim-sized join)
    "q_emb_drift" -> ((s, dir) => {
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
    }),

    // substring-level decontamination: WHERE the eval set leaks into
    // train (maximal verbatim spans with positions), not just how much
    // — the excise-the-span companion to q_decontaminate's counts
    "q_cross_spans" -> ((s, dir) => {
      val docs = table(s, dir, "documents")
      val ev = docs.where(col("doc_id") % 37 === 0)
        .select((col("doc_id") + 500000L).as("eval_id"), col("text"))
      Dedup.crossSpans(docs, "doc_id", "text", ev, "eval_id", "text",
          minTokens = 8)
        .orderBy("train_id", "eval_id", "start_train", "start_eval")
    }),

    // snapshot-over-snapshot profile drift: two one-aggregate profile
    // scans joined by column — null-rate movement, distinct movement,
    // null-safe [min, max] envelope drift
    "q_profile_drift" -> ((s, dir) => {
      val docs = table(s, dir, "documents")
      graft.operators.Profile.profileDrift(
          docs.where(col("doc_id") % 2 === 0),
          docs.where(col("doc_id") % 2 === 1),
          Seq("lang", "source", "n_chars"))
        .orderBy("col_name")
    }),

    // classifier-filter readout: exact ROC-AUC of the synthetic score
    // against the high-value label — Mann-Whitney rank-sum with
    // average-rank ties, integer pair counts over the collapsed
    // 1000-distinct-score relation, ONE double division at the end
    "q_auc" -> ((s, dir) => {
      val ev = table(s, dir, "events")
        .select(((col("event_id") % 1000).cast("double") / 1000.0)
            .as("score"), (col("value") > 250.0).as("label"))
      graft.operators.Eval.aucRoc(ev, "score", "label")
        .select(col("n_pos"), col("n_neg"), round(col("auc"), 9).as("auc"))
    }),

    // per-slice classification report: how the filter behaves on EACH
    // source plus the overall row ('__all__'), in ONE rollup aggregate
    // — aggregate accuracy hides the slice a filter guts
    "q_class_report" -> ((s, dir) => {
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
    }),

    // retrieval-eval readout: per-query MRR / precision@10 / recall@10 /
    // AP / NDCG@10 over a scored candidate relation (query = user
    // cohort, relevance = click) — one query-keyed shuffle, two window
    // sorts, nano-quantized per-term quotients
    "q_ranking" -> ((s, dir) => {
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
    }),

    // annotation QA: Cohen's kappa between the lang label and a
    // synthetically noised second annotator — one (a, b) cell count,
    // marginal products in DECIMAL, closed-form kappa
    "q_kappa" -> ((s, dir) => {
      val docs = table(s, dir, "documents")
        .select(col("lang").as("a"),
          when(col("doc_id") % 5 === 0, lit("en"))
            .otherwise(col("lang")).as("b"))
      graft.operators.Eval.cohenKappa(docs, "a", "b")
        .select(col("n"),
          round(col("observed_agreement"), 9).as("observed_agreement"),
          round(col("expected_agreement"), 9).as("expected_agreement"),
          round(col("kappa"), 9).as("kappa"))
    }),

    // in-engine model-based filtering: multinomial Naive Bayes trained
    // on the even-doc half (label = lang), classifying the odd half —
    // pure integer counting to train, nano-quantized long sums to
    // score, min-label argmax tie-break; output = confusion matrix
    "q_nb" -> ((s, dir) => {
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
    }),

    // the CCNet-style perplexity filter: interpolated Kneser-Ney bigram
    // LM trained on the even-doc half, scoring the odd half — integer
    // count model relations (broadcast), closed-form per-bigram
    // probability, nano-quantized per-doc fold
    "q_kn_lm" -> ((s, dir) => {
      val docs = table(s, dir, "documents")
      TextAnalysis.kneserNeyScore(
        docs.where(col("doc_id") % 2 === 1).select(col("doc_id"), col("text")),
        docs.where(col("doc_id") % 2 === 0).select(col("text")),
        "doc_id", "text", discount = 0.75)
        .select(col("doc_id"), col("n_bigrams"),
          round(col("logprob"), 9).as("logprob"),
          round(col("ppl"), 6).as("ppl"))
        .orderBy("doc_id")
    }),

    // feature selection / domain signatures: top-10 tokens per language
    // by 2x2 presence chi-square — integer contingency cells, one
    // closed-form IEEE chi2 per (token, label), bit-identical ranking
    "q_chi2_tokens" -> ((s, dir) => {
      val docs = table(s, dir, "documents").where(col("lang").isNotNull)
      TextAnalysis.chiSquareTokens(docs, "doc_id", "lang", "text",
        minDf = 5L, topK = 10)
        .select(col("label"), col("rank"), col("token"),
          col("n_label_token"), round(col("chi2"), 6).as("chi2"))
        .orderBy("label", "rank")
    }),

    // corpus-shift readout: Jensen-Shannon divergence between the
    // even- and odd-doc unigram distributions — nano-quantized per-token
    // contributions, exact long fold over the union vocabulary
    "q_jsd" -> ((s, dir) => {
      val docs = table(s, dir, "documents")
      TextAnalysis.jsDivergence(
        docs.where(col("doc_id") % 2 === 0),
        docs.where(col("doc_id") % 2 === 1), "text")
        .select(col("vocab"), col("tokens_a"), col("tokens_b"),
          round(col("jsd"), 9).as("jsd"))
    }),

    // multi-annotator agreement: Fleiss' kappa over synthetic rating
    // items (event_id % 150 = item, event_type = category, first 5
    // ratings in event_id order) — exact integer agreement/marginal
    // sums, closed-form double readout
    "q_fleiss" -> ((s, dir) => {
      val ev = table(s, dir, "events")
        .select((col("event_id") % 150).as("item"), col("event_type"),
          col("event_id"))
      graft.operators.Eval.fleissKappa(ev, "item", "event_type",
        "event_id", n = 5)
        .select(col("n_items"), col("n_raters"),
          round(col("p_bar"), 9).as("p_bar"),
          round(col("p_e"), 9).as("p_e"),
          round(col("kappa"), 9).as("kappa"))
    }),

    // the agreement coefficient for RAGGED annotation drops —
    // Krippendorff's alpha handles variable rater counts and missing
    // ratings, which Cohen (exactly 2) and Fleiss (fixed n) cannot;
    // user_id % 7 makes item coverage genuinely uneven
    "q_krippendorff" -> ((s, dir) => {
      val ev = table(s, dir, "events")
        .where(col("user_id") % 7 < 4)
        .select((col("event_id") % 200).as("item"), col("event_type"))
      graft.operators.Eval.krippendorffAlpha(ev, "item", "event_type")
        .select(col("n"), col("n_items"), col("n_cats"),
          round(col("alpha"), 9).as("alpha"))
    }),

    // clustering-quality readout: per-cluster simplified silhouette of
    // all embeddings against the first-8 centroids — exact integer
    // squared distances on nano-quantized coordinates, nano-quantized
    // per-point silhouette fold
    "q_silhouette" -> ((s, dir) => {
      val emb = table(s, dir, "embeddings")
      Similarity.simplifiedSilhouette(emb, "vec_id", "embedding",
        emb.where(col("vec_id") < 8), "vec_id", "embedding")
        .select(col("centroid_id"), col("n_points"),
          round(col("silhouette"), 9).as("silhouette"))
        .orderBy("centroid_id")
    }),

    // in-engine gradient-descent training: 5 full-batch logistic steps
    // on the embeddings predicting the sign of the first coordinate (a
    // linearly separable target, so the fit demonstrably learns) —
    // DECIMAL-exact gradient sums, 1e-9-grid weights, bit-replayable
    // trajectory; output = the weight relation (pos 0 = bias)
    "q_logreg" -> ((s, dir) => {
      val pts = table(s, dir, "embeddings")
        .select(col("embedding"),
          (element_at(col("embedding"), 1).cast("double") > 0.0)
            .cast("int").as("y"))
      graft.operators.LinearModel.logisticFit(pts, "embedding", "y",
        dim = 64, iters = 5, lr = 0.5)
        .orderBy("pos")
    }),

    // Cramer's V between order status and priority: contingency effect
    // size (redundant-label / leakage screen) — one count aggregate,
    // densified model-sized chi-square fold with quantized terms
    "q_cramers_v" -> ((s, dir) => {
      graft.operators.Profile.cramersV(table(s, dir, "orders"),
        "o_orderstatus", "o_orderpriority")
        .select(col("n"), col("rows"), col("cols"),
          round(col("chi2"), 6).as("chi2"), round(col("v"), 6).as("v"))
    }),

    // sample autocorrelation per event type at lags 1..4: one ordered
    // window pass + one aggregate of exact quantized cross-moments —
    // the seasonality diagnostic, integer-identity exact
    "q_acf" -> ((s, dir) => {
      graft.operators.WindowOps.autocorr(
        graft.streaming.GraftStreaming.normalizeTs(
          table(s, dir, "events")),
        Seq("event_type"), Seq("ts", "event_id"), "value", maxLag = 4)
        .select(col("event_type"), col("lag"), col("n"),
          round(col("r"), 9).as("r"))
        .orderBy("event_type", "lag")
    }),

    // streaming Holt smoothing: the exact unbounded level+trend
    // recursion as three numbers of keyed state — what a batch engine
    // must bound, streaming carries natively
    "q_stream_holt" -> ((s, dir) => {
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
    }),

    // streaming Welch-t drift monitor: each hour window's quantized
    // moments vs a static reference sample (three integers, batch-
    // collected) — the parametric sibling of stream_psi/stream_ks
    "q_stream_ttest" -> ((s, dir) => {
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
    }),

    // one-vs-rest Mann-Whitney U on fixed-bin midranks: nonparametric
    // "does this event type's value distribution dominate the rest" —
    // ONE corpus aggregate, integer-exact midranks + tie correction on
    // the model-sized bin relation
    "q_mannwhitney" -> ((s, dir) => {
      graft.operators.Profile.mannWhitneyBinned(
        table(s, dir, "events").select(col("event_type"), col("value")),
        "event_type", "value", lo = 0.0, hi = 500.0, bins = 1000)
        .select(col("event_type"), col("n"), col("u"),
          round(col("z"), 6).as("z"))
        .orderBy("event_type")
    }),

    // Holt double exponential smoothing per user over the last 16
    // events: level + trend + one-step forecast, left-to-right fold
    // with identical IEEE sequences both engines
    "q_holt" -> ((s, dir) => {
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
    }),

    // Flesch reading-ease per doc: map-only codegen'd scan with
    // deterministic sentence/syllable proxies shared with the oracle
    "q_readability" -> ((s, dir) => {
      TextAnalysis.readability(table(s, dir, "documents"), "doc_id",
          "text")
        .select(col("doc_id"), col("words"), col("sentences"),
          col("syllables"), round(col("flesch"), 6).as("flesch"))
        .orderBy("doc_id")
    }),

    // tokenizer fertility by language: chars/token + bytes/char — the
    // multilingual budget planner's per-script signal, ONE integer agg
    "q_fertility" -> ((s, dir) => {
      TextAnalysis.fertilityByLang(table(s, dir, "documents"), "lang",
          "text")
        .select(col("lang"), col("n_docs"), col("tokens"), col("chars"),
          col("bytes"), round(col("chars_per_token"), 9).as("chars_per_token"),
          round(col("bytes_per_char"), 9).as("bytes_per_char"))
        .orderBy("lang")
    }),

    // trigram type-token ratio per source: the templatedness /
    // boilerplate-share signal (exact distinct; HLL seam at 100 TB)
    "q_ngram_diversity" -> ((s, dir) => {
      TextAnalysis.ngramDiversity(table(s, dir, "documents"), "source",
          "text", n = 3)
        .select(col("source"), col("n_ngrams"), col("n_distinct"),
          round(col("ttr"), 9).as("ttr"))
        .orderBy("source")
    }),

    // the 100 TB seam of q_ngram_diversity as an executable contract:
    // exact distinct (oracled exactly) + the HLL
    // (approx_count_distinct) count-within-tolerance claim the oracle
    // asserts TRUE — the q_approx_distinct honesty pattern
    "q_ngram_diversity_approx" -> ((s, dir) => {
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
    }),

    // Welch's t between every event-type pair on value: nano-quantized
    // exact moments, model-sized pairwise algebra, no pooled-variance
    // assumption
    "q_ttest" -> ((s, dir) => {
      graft.operators.Profile.welchTTest(
        table(s, dir, "events").select(col("event_type"), col("value")),
        "event_type", "value")
        .select(col("group_a"), col("group_b"), col("n_a"), col("n_b"),
          round(col("mean_diff"), 6).as("mean_diff"),
          round(col("t_stat"), 6).as("t_stat"),
          round(col("welch_df"), 6).as("welch_df"))
        .orderBy("group_a", "group_b")
    }),

    // arbitrary GROUPING SETS (beyond cube/rollup): the named subtotal
    // combinations an aggregation dashboard actually asks for, one
    // Expand + one hash aggregate
    "q_grouping_sets" -> ((s, dir) => {
      table(s, dir, "lineitem")
        .groupingSets(
          Seq(Seq(col("l_returnflag"), col("l_linestatus")),
            Seq(col("l_returnflag")), Seq()),
          col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("n"),
          sum(col("l_quantity").cast(DecimalType(18, 4)))
            .cast("double").as("qty"))
        .select(coalesce(col("l_returnflag"), lit("ALL")).as("rf"),
          coalesce(col("l_linestatus"), lit("ALL")).as("ls"),
          col("n"), col("qty"))
        .orderBy("rf", "ls")
    }),

    // greedy k-center coreset (farthest-point traversal): 12 maximally-
    // spread embeddings — k rounds of one broadcast join + min/argmax
    // aggregate, per-coordinate nano-quantized distances (integer-exact
    // selection, no ulp flips)
    "q_kcenter" -> ((s, dir) => {
      graft.operators.Coreset.kCenter(table(s, dir, "embeddings"),
        "vec_id", "embedding", k = 12)
        .orderBy("round")
    }),

    // DBSCAN roles over the embedding plane via the epsilon-grid join:
    // 3x3-neighborhood candidates, exact squared-distance filter,
    // core/border/noise labels — never a cartesian product
    "q_dbscan" -> ((s, dir) => {
      graft.operators.Density.dbscanRoles(
        table(s, dir, "embeddings")
          .select(col("vec_id"),
            element_at(col("embedding"), 1).as("x"),
            element_at(col("embedding"), 2).as("y")),
        "vec_id", "x", "y", eps = 0.02, minPts = 5L)
        .orderBy("vec_id")
    }),

    // in-engine decision-tree training by level-wise histogram split
    // finding (the XGBoost pattern): depth-2 tree on the first 8
    // embedding coordinates predicting label<5, 16 exact-binary-width
    // bins — ONE corpus aggregate per level, model-sized driver hops,
    // integer-exact histograms, 1e-9-quantized gain ranking
    "q_tree" -> ((s, dir) => {
      val pts = table(s, dir, "embeddings")
        .select(col("embedding"),
          (col("label") < 5).cast("int").as("y"))
      graft.operators.TreeModel.treeFit(pts, "embedding", "y",
        nFeatures = 8, bins = 16, lo = -0.5, hi = 0.5, depth = 2,
        minLeaf = 5L)
        .orderBy("node_id")
    }),

    // ...and the fitted tree's training-set confusion: a map-only
    // CASE-chain walk to the leaf + one count aggregate
    "q_tree_acc" -> ((s, dir) => {
      val pts = table(s, dir, "embeddings")
        .select(col("embedding"),
          (col("label") < 5).cast("int").as("y"))
      val tree = graft.operators.TreeModel.treeFit(pts, "embedding", "y",
        nFeatures = 8, bins = 16, lo = -0.5, hi = 0.5, depth = 2,
        minLeaf = 5L)
      graft.operators.TreeModel.treeConfusion(pts, "embedding", "y",
        tree, nFeatures = 8, bins = 16, lo = -0.5, hi = 0.5)
        .orderBy("label", "pred")
    }),

    // ...and the fitted model's training-set confusion matrix — the
    // accuracy readout a filter-training pipeline gates deployment on
    "q_logreg_acc" -> ((s, dir) => {
      val pts = table(s, dir, "embeddings")
        .select(col("embedding"),
          (element_at(col("embedding"), 1).cast("double") > 0.0)
            .cast("int").as("y"))
      val w = graft.operators.LinearModel.logisticFit(pts, "embedding",
        "y", dim = 64, iters = 5, lr = 0.5)
      graft.operators.LinearModel.logisticConfusion(pts, "embedding",
        "y", w)
        .orderBy("label", "pred")
    }),

    // the full text-classifier pipeline in-engine: distill a keyword
    // rule (docs containing 'spark') into a hashed-TF linear model —
    // md5 buckets (no vocabulary), 16 GD logistic steps, training-set
    // confusion; the synthetic corpus's near-uniform vocabulary makes
    // this genuinely hard, so the mid-trajectory confusion (not a
    // saturated diagonal) is the honest readout
    "q_text_lr" -> ((s, dir) => {
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
    }),

    // variance-optimal budget spending: Neyman-allocation stratified
    // sample of 600 events across event types (n_h proportional to
    // N_h*sigma_h) — exact quantized moments, integer allocation,
    // md5-rank membership
    "q_neyman" -> ((s, dir) => {
      Sampling.neymanSample(table(s, dir, "events")
          .select(col("event_type"), col("event_id"), col("value")),
        "event_type", "value", "event_id", budget = 600L)
        .select(col("event_type"), col("event_id"), col("n_stratum"),
          round(col("sigma"), 9).as("sigma"), col("alloc"))
        .orderBy("event_type", "event_id")
    }),

    // deployment gate for a trained filter: split-conformal prediction
    // sets at alpha=0.1 over the synthetic q_auc classifier (even
    // events calibrate, odd evaluate) — rank-statistic threshold on the
    // distinct-nonconformity relation, exact count ratios
    "q_conformal" -> ((s, dir) => {
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
    }),

    // label-error mining: the confident-learning joint over the same
    // scored corpus — class-conditional mean-probability thresholds
    // (nano-quantized), off-diagonal cells = estimated label errors
    "q_label_errors" -> ((s, dir) => {
      val ev = table(s, dir, "events")
        .select(((col("event_id") % 1000).cast("double") / 1000.0)
            .as("score"), (col("value") > 250.0).as("label"))
      graft.operators.Eval.confidentJointBinary(ev, "score", "label")
        .orderBy("label", "assigned")
    }),

    // rare-positive readout: area under the precision-recall curve of
    // the same synthetic classifier as q_auc — step-wise average
    // precision over descending distinct-score thresholds,
    // nano-quantized per-threshold terms
    "q_pr_auc" -> ((s, dir) => {
      val ev = table(s, dir, "events")
        .select(((col("event_id") % 1000).cast("double") / 1000.0)
            .as("score"), (col("value") > 250.0).as("label"))
      graft.operators.Eval.prAuc(ev, "score", "label")
        .select(col("n_pos"), col("n_neg"),
          round(col("pr_auc"), 9).as("pr_auc"))
    }),

    // generation-eval readout: corpus BLEU of each sampled doc's 80%
    // prefix against the full doc — clipped modified n-gram precisions
    // (n=1..4), brevity penalty on total token lengths, geometric mean
    "q_bleu" -> ((s, dir) => {
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
    }),

    // summarization-style overlap scoring: ROUGE-2 of each sampled doc
    // against its successor — clipped multiset bigram counts, integer
    // overlap, F1 = 2o/(ct+rt) as one division
    "q_rouge" -> ((s, dir) => {
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
    })
  )

  /** DuckDB equivalents over the same parquet tables. Table names resolve
    * because Verify/driver register each `<dir>/<name>.parquet` as a view
    * named `<name>`. */
  def oracleSql: Map[String, String] = Map(
    "q_scalar_arith" ->
      """SELECT l_orderkey, l_linenumber, l_quantity,
        | l_extendedprice * (1 - l_discount) AS revenue,
        | (l_extendedprice * (1 - l_discount)) * (1 + l_tax) AS charge
        |FROM lineitem ORDER BY l_orderkey, l_linenumber""".stripMargin,
    "q_cmp" ->
      """SELECT l_orderkey, l_linenumber,
        | l_quantity > 25 AS big_qty,
        | l_discount <= 0.05 AS low_disc,
        | l_returnflag = 'R' AS is_return
        |FROM lineitem ORDER BY l_orderkey, l_linenumber""".stripMargin,
    "q_ieee_div" ->
      """SELECT l_orderkey, l_linenumber,
        | CASE WHEN l_quantity = 25 AND l_discount = 0.05 THEN 9000000000.0
        |      WHEN l_discount = 0.05 AND l_quantity > 25 THEN 800000000.0
        |      WHEN l_discount = 0.05 AND l_quantity < 25 THEN -800000000.0
        |      ELSE (l_quantity - 25) / (l_discount - 0.05) END AS division
        |FROM lineitem ORDER BY l_orderkey, l_linenumber""".stripMargin,
    "q_clip" ->
      """SELECT l_orderkey, l_linenumber,
        | least(greatest(l_quantity, 10), 40) AS l_quantity
        |FROM lineitem ORDER BY l_orderkey, l_linenumber""".stripMargin,
    "q_abs" ->
      """SELECT l_orderkey, l_linenumber, abs(l_discount - 0.05) AS disc_dev
        |FROM lineitem ORDER BY l_orderkey, l_linenumber""".stripMargin,
    "q_fill_value" ->
      """SELECT COALESCE(o.o_orderkey, p.p_partkey) AS o_orderkey,
        | COALESCE(o.o_totalprice + p.p_retailprice, -1.0) AS s
        |FROM orders o FULL OUTER JOIN part p ON o.o_orderkey = p.p_partkey
        |ORDER BY o_orderkey""".stripMargin,
    "q_assign_align" ->
      """SELECT o_orderkey, o_totalprice, p_retailprice AS rp
        |FROM orders LEFT JOIN part ON o_orderkey = p_partkey
        |ORDER BY o_orderkey""".stripMargin,
    "q_assign_overwrite" ->
      """SELECT o_orderkey, p_retailprice AS o_totalprice,
        | o_custkey * 10 AS o_custkey
        |FROM orders LEFT JOIN part ON o_orderkey = p_partkey
        |ORDER BY o_orderkey""".stripMargin,
    "q_cmp_null" ->
      """WITH j AS (SELECT COALESCE(o.o_orderkey, p.p_partkey) AS o_orderkey,
        |  o.o_totalprice AS a, p.p_retailprice AS b
        |  FROM orders o FULL OUTER JOIN part p ON o.o_orderkey = p.p_partkey)
        |SELECT o_orderkey, a = b AS v, 'eq' AS op FROM j
        |UNION ALL SELECT o_orderkey, a > b AS v, 'gt' AS op FROM j
        |ORDER BY op, o_orderkey""".stripMargin,
    "q_isna" ->
      """SELECT COALESCE(o.o_orderkey, p.p_partkey) AS o_orderkey,
        | (o.o_totalprice + p.p_retailprice) IS NULL AS s
        |FROM orders o FULL OUTER JOIN part p ON o.o_orderkey = p.p_partkey
        |ORDER BY o_orderkey""".stripMargin,
    "q_head" ->
      """SELECT o_orderkey, o_totalprice, o_orderstatus FROM orders
        |ORDER BY o_orderkey LIMIT 10""".stripMargin,
    "q_tail" ->
      """SELECT * FROM (SELECT o_orderkey, o_totalprice, o_orderstatus
        | FROM orders ORDER BY o_orderkey DESC LIMIT 10) t
        |ORDER BY o_orderkey""".stripMargin,
    // identical row contract to q_tail — the twin pins that the
    // one-pass implementation returns exactly tail()'s rows
    "q_tail_onepass" ->
      """SELECT * FROM (SELECT o_orderkey, o_totalprice, o_orderstatus
        | FROM orders ORDER BY o_orderkey DESC LIMIT 10) t
        |ORDER BY o_orderkey""".stripMargin,
    "q_series_prefix" ->
      """SELECT 'k_' || CAST(o_orderkey AS VARCHAR) AS o_orderkey, o_totalprice
        |FROM orders ORDER BY o_orderkey""".stripMargin,
    "q_rollup" ->
      """SELECT l_returnflag, l_linestatus,
        | CAST(sum(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty,
        | count(l_quantity) AS cnt
        |FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)
        |ORDER BY l_returnflag, l_linestatus""".stripMargin,
    "q_winsorize" ->
      """SELECT o_orderkey,
        | greatest(least(o_totalprice, quantile_cont(o_totalprice, 0.95) OVER w),
        |          quantile_cont(o_totalprice, 0.05) OVER w) AS w
        |FROM orders WINDOW w AS (PARTITION BY o_orderpriority)
        |ORDER BY o_orderkey""".stripMargin,
    "q_group_quantile" ->
      """SELECT o_orderpriority,
        | quantile_cont(o_totalprice, 0.25) AS q25,
        | quantile_cont(o_totalprice, 0.50) AS q50,
        | quantile_cont(o_totalprice, 0.90) AS q90
        |FROM orders GROUP BY o_orderpriority
        |ORDER BY o_orderpriority""".stripMargin,
    "q_merge_semi" ->
      """SELECT o_orderkey, o_totalprice, 'in_part' AS side FROM orders
        |WHERE o_orderkey IN (SELECT p_partkey FROM part)
        |UNION ALL
        |SELECT o_orderkey, o_totalprice, 'no_part' FROM orders
        |WHERE o_orderkey NOT IN (SELECT p_partkey FROM part)
        |ORDER BY o_orderkey""".stripMargin,
    "q_groupby_agg" ->
      """SELECT l_returnflag, l_linestatus,
        | CAST(sum(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty,
        | CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_price,
        | count(*) AS cnt
        |FROM lineitem GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin,
    "q_sort_topk" ->
      """SELECT o_orderkey, o_totalprice FROM orders
        |ORDER BY o_totalprice DESC, o_orderkey LIMIT 20""".stripMargin,
    "q_merge_groupby" ->
      """SELECT r_name, count(c_acctbal) AS n_customers,
        | min(c_acctbal) AS min_bal, max(c_acctbal) AS max_bal
        |FROM customer
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY r_name ORDER BY r_name""".stripMargin,
    "q_value_counts" ->
      """SELECT l_returnflag, count(*) AS "count" FROM lineitem
        |GROUP BY l_returnflag ORDER BY "count" DESC, l_returnflag""".stripMargin,
    "q_col_reduce" ->
      """SELECT col, total FROM (
        |  SELECT 'qty' AS col,
        |    CAST(sum(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS total
        |  FROM lineitem
        |  UNION ALL
        |  SELECT 'price',
        |    CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE)
        |  FROM lineitem) t
        |ORDER BY col""".stripMargin,
    "q_nunique" ->
      """SELECT count(DISTINCT o_orderkey) AS o_orderkey,
        | count(DISTINCT o_custkey) AS o_custkey,
        | count(DISTINCT o_orderstatus) AS o_orderstatus,
        | count(DISTINCT o_orderpriority) AS o_orderpriority
        |FROM orders""".stripMargin,
    "q_set_index" ->
      """SELECT o_custkey, o_orderkey, o_totalprice FROM orders
        |WHERE o_custkey = 371 ORDER BY o_orderkey""".stripMargin,
    "q_latest" ->
      """WITH base AS (SELECT event_id, epoch_us(ts) AS tsu, value FROM events),
        |changelog AS (
        |  SELECT * FROM base
        |  UNION ALL
        |  SELECT event_id, tsu + 1000, value * 2 FROM base WHERE event_id % 10 = 0),
        |ranked AS (SELECT event_id, tsu, value,
        |  row_number() OVER (PARTITION BY event_id
        |    ORDER BY tsu DESC, value DESC) AS rn FROM changelog)
        |SELECT event_id, tsu, value FROM ranked WHERE rn = 1
        |ORDER BY event_id""".stripMargin,
    "q_scrub" ->
      s"""SELECT doc_id, ${TextAnalysis.scrubPiiOracleSqlExpr("text")} AS scrubbed
         |FROM documents ORDER BY doc_id""".stripMargin,
    "q_unstack" ->
      """SELECT user_id,
        | count(*) FILTER (event_type = 'click') AS click,
        | count(*) FILTER (event_type = 'error') AS error,
        | count(*) FILTER (event_type = 'purchase') AS purchase,
        | count(*) FILTER (event_type = 'signup') AS signup,
        | count(*) FILTER (event_type = 'view') AS view
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin,
    "q_weighted_sample" ->
      """WITH w AS (SELECT o_orderkey, o_totalprice,
        |  ln((('0x' || substring(md5(CAST(o_orderkey AS VARCHAR)), 1, 8))::UBIGINT + 1.0)
        |     / 4294967297.0) / o_totalprice AS wkey
        |  FROM orders)
        |SELECT o_orderkey, o_totalprice FROM
        |  (SELECT * FROM w ORDER BY wkey DESC, o_orderkey LIMIT 100) t
        |ORDER BY o_orderkey""".stripMargin,
    "q_rolling" ->
      """SELECT event_id,
        | CAST(sum(CAST(value AS DECIMAL(18,6))) OVER w AS DOUBLE) AS rsum,
        | min(value) OVER w AS rmin,
        | max(value) OVER w AS rmax
        |FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
        |  ROWS BETWEEN 4 PRECEDING AND CURRENT ROW)
        |ORDER BY event_id""".stripMargin,
    "q_replace" ->
      """SELECT o_orderkey,
        | CASE o_orderstatus WHEN 'O' THEN 'OPEN' WHEN 'F' THEN 'FILLED'
        |   ELSE o_orderstatus END AS status,
        | CASE o_orderstatus WHEN 'O' THEN CAST(1.0 AS DOUBLE)
        |   WHEN 'F' THEN CAST(2.0 AS DOUBLE) END AS code
        |FROM orders ORDER BY o_orderkey""".stripMargin,
    "q_pivot_sum" ->
      """SELECT l_returnflag,
        | CAST(sum(CAST(l_quantity AS DECIMAL(18,4)))
        |   FILTER (l_linestatus = 'F') AS DOUBLE) AS f_qty,
        | CAST(sum(CAST(l_quantity AS DECIMAL(18,4)))
        |   FILTER (l_linestatus = 'O') AS DOUBLE) AS o_qty
        |FROM lineitem GROUP BY l_returnflag
        |ORDER BY l_returnflag""".stripMargin,
    "q_canonical" ->
      """WITH RECURSIVE all_docs AS (
        |  SELECT doc_id, text, n_chars FROM documents
        |  UNION ALL SELECT doc_id + 100000, text, n_chars FROM documents WHERE doc_id < 20
        |  UNION ALL SELECT doc_id + 200000, text, n_chars FROM documents WHERE doc_id < 10),
        |fp AS (SELECT doc_id,
        |  md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fp
        |  FROM all_docs),
        |edges AS (SELECT a.doc_id AS src, b.doc_id AS dst
        |  FROM fp a JOIN fp b ON a.fp = b.fp AND a.doc_id <> b.doc_id),
        |reach AS (
        |  SELECT DISTINCT src AS node, src AS label FROM edges
        |  UNION
        |  SELECT e.dst, r.label FROM reach r JOIN edges e ON e.src = r.node),
        |comp AS (SELECT node, min(label) AS label FROM reach GROUP BY node),
        |labeled AS (SELECT d.doc_id, d.n_chars,
        |  COALESCE(c.label, d.doc_id) AS cluster
        |  FROM all_docs d LEFT JOIN comp c ON d.doc_id = c.node),
        |ranked AS (SELECT cluster, doc_id, n_chars,
        |  row_number() OVER (PARTITION BY cluster
        |    ORDER BY n_chars DESC, doc_id DESC) AS rn,
        |  count(*) OVER (PARTITION BY cluster) AS n_members FROM labeled)
        |SELECT cluster, doc_id AS canonical_id, n_chars AS canonical_score,
        |  n_members
        |FROM ranked WHERE rn = 1 ORDER BY cluster""".stripMargin,
    "q_profile" -> {
      s"""SELECT * FROM (
         |${graft.operators.Profile.profileOracleSql("events",
        Seq("event_id", "user_id", "event_type"))}
         |) ORDER BY col_name""".stripMargin
    },
    "q_cohort" ->
      """WITH p AS (SELECT user_id AS u,
        |             epoch_us(ts) // 604800000000 AS p FROM events),
        |f AS (SELECT u, min(p) AS cohort FROM p GROUP BY u),
        |a AS (SELECT DISTINCT p.u, f.cohort, p.p - f.cohort AS age
        |      FROM p JOIN f USING (u))
        |SELECT cohort, age, count(*) AS n_users FROM a
        |GROUP BY cohort, age ORDER BY cohort, age""".stripMargin,
    // ONE recursive min chain serves both funnel gates — the stream
    // funnel's distinct-keys-per-step IS the batch funnel count
    "q_funnel" -> funnelOracleSql,
    "q_stream_funnel" -> funnelOracleSql,
    "q_sessions" ->
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
        |ORDER BY user_id, session""".stripMargin,
    "q_rand_proj" -> {
      val es = graft.operators.Similarity
        .randomProjectionOracleSqlExprs("embedding", 4, 64, 7L)
      s"""SELECT vec_id, ${es.zipWithIndex.map { case (e, i) => s"$e AS rp$i" }.mkString(", ")}
         |FROM embeddings ORDER BY vec_id""".stripMargin
    },
    "q_quantize" ->
      """WITH s AS (SELECT vec_id, embedding,
        |  list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) AS scale
        |  FROM embeddings)
        |SELECT vec_id, scale, generate_subscripts(embedding, 1) AS pos,
        |  CASE WHEN scale = 0 THEN 0 ELSE
        |    CAST(greatest(-127.0, least(127.0,
        |      floor(CAST(unnest(embedding) AS DOUBLE) * 127.0 / scale))) AS INT)
        |  END AS q
        |FROM s ORDER BY vec_id, pos""".stripMargin,
    "q_transform" ->
      """SELECT l_orderkey, l_linenumber, l_returnflag,
        | CAST(sum(CAST(l_quantity AS DECIMAL(18,4)))
        |   OVER (PARTITION BY l_returnflag) AS DOUBLE) AS grp_sum
        |FROM lineitem ORDER BY l_orderkey, l_linenumber""".stripMargin,
    "q_duplicated" ->
      """SELECT o_orderkey,
        | row_number() OVER (PARTITION BY o_orderstatus ORDER BY o_orderkey) > 1 AS dup
        |FROM orders ORDER BY o_orderkey""".stripMargin,
    "q_combine_first" ->
      """SELECT o_orderkey,
        | CASE WHEN o_custkey % 2 = 0 THEN o_totalprice
        |      ELSE o_totalprice * 2 END AS v
        |FROM orders ORDER BY o_orderkey""".stripMargin,
    "q_tfidf" ->
      """WITH tok AS (SELECT doc_id,
        |  unnest(list_filter(string_split_regex(lower(trim(text)), '\s+'),
        |    t -> len(t) > 0)) AS token FROM documents),
        |tf AS (SELECT doc_id, token, count(*) AS tf FROM tok GROUP BY doc_id, token),
        |dfreq AS (SELECT token, count(*) AS df FROM tf GROUP BY token),
        |n AS (SELECT count(*) AS n FROM documents)
        |SELECT doc_id, token, tf, df,
        |  round(tf * (ln((1 + n) / (1 + df)) + 1), 6) AS tfidf_r
        |FROM tf JOIN dfreq USING (token), n
        |ORDER BY doc_id, token""".stripMargin,
    "q_dup_clusters" ->
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
        |  SELECT e.dst, r.label FROM reach r JOIN edges e ON e.src = r.node)
        |SELECT node, min(label) AS label FROM reach
        |GROUP BY node ORDER BY node""".stripMargin,
    "q_skew_join_auto" ->
      """WITH l AS (SELECT l_orderkey, l_linenumber, l_quantity,
        |  CASE WHEN l_orderkey % 10 < 7 THEN 0 ELSE l_orderkey % 1000 END AS k
        |  FROM lineitem),
        |r AS (SELECT k, k * 7 AS payload
        |  FROM (SELECT DISTINCT l_orderkey % 1000 AS k FROM lineitem))
        |SELECT l.k, l_orderkey, l_linenumber, l_quantity, payload
        |FROM l JOIN r ON l.k = r.k
        |ORDER BY l_orderkey, l_linenumber""".stripMargin,
    "q_leak_split" ->
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
        |FROM keyed ORDER BY doc_id""".stripMargin,
    // q_leak_split's recursive-CC scaffold with fold = hash mod k
    "q_kfold" ->
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
        |FROM keyed ORDER BY doc_id""".stripMargin,
    "q_shards" ->
      """WITH d AS (SELECT doc_id, lang,
        |  CAST(len(list_filter(string_split_regex(trim(text), '\s+'),
        |    t -> len(t) > 0)) AS BIGINT) AS n_tokens FROM documents),
        |a AS (SELECT lang, doc_id, n_tokens,
        |  COALESCE(sum(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS off FROM d)
        |SELECT lang, CAST(floor(off / 2000) AS BIGINT) AS shard,
        |  count(*) AS n_docs, CAST(sum(n_tokens) AS BIGINT) AS n_tokens
        |FROM a GROUP BY lang, shard ORDER BY lang, shard""".stripMargin,
    "q_chunks" ->
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
        |FROM s ORDER BY doc_id, chunk_idx""".stripMargin,
    "q_budget_sample" ->
      """WITH d AS (SELECT lang, doc_id,
        |  CAST(len(list_filter(string_split_regex(trim(text), '\s+'),
        |    t -> len(t) > 0)) AS BIGINT) AS n_tokens FROM documents),
        |a AS (SELECT lang, doc_id, n_tokens,
        |  CAST(COALESCE(sum(n_tokens) OVER (PARTITION BY lang
        |    ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
        |    AS off FROM d)
        |SELECT lang, doc_id, n_tokens FROM a WHERE off < 50000
        |ORDER BY lang, doc_id""".stripMargin,
    "q_stream_budget" ->
      """WITH d AS (SELECT lang, doc_id,
        |  CAST(len(list_filter(string_split_regex(trim(text), '\s+'),
        |    t -> len(t) > 0)) AS BIGINT) AS n_tokens FROM documents),
        |a AS (SELECT lang, doc_id, n_tokens,
        |  CAST(COALESCE(sum(n_tokens) OVER (PARTITION BY lang
        |    ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
        |    AS off FROM d)
        |SELECT lang, doc_id, n_tokens FROM a WHERE off < 50000
        |ORDER BY lang, doc_id""".stripMargin,
    "q_mixture_sample" ->
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
        |ORDER BY lang, doc_id""".stripMargin,
    // same integer threshold draw, same per-key CASE, UNNEST(range)
    "q_epoch_mix" -> {
      s"""SELECT doc_id, lang, epoch FROM (
         |${Sampling.epochExpandOracleSql(
             "(SELECT doc_id, lang FROM documents)", "lang", "doc_id",
             Seq("en" -> 0.4, "de" -> 2.25, "fr" -> 1.0, "zh" -> 0.8))}
         |) x ORDER BY doc_id, epoch""".stripMargin
    },
    "q_temperature_mix" ->
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
        |ORDER BY lang, doc_id""".stripMargin,
    "q_pack" ->
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
        |FROM s ORDER BY lang, doc_id, seq""".stripMargin,
    "q_cut" ->
      """SELECT bin, count(*) AS n, src FROM (
        |  SELECT CASE
        |    WHEN o_totalprice > 0 AND o_totalprice <= 50000 THEN 'lo'
        |    WHEN o_totalprice > 50000 AND o_totalprice <= 150000 THEN 'mid'
        |    WHEN o_totalprice > 150000 AND o_totalprice <= 300000 THEN 'hi'
        |    WHEN o_totalprice > 300000 AND o_totalprice <= 700000 THEN 'top'
        |    END AS bin, 'cut' AS src FROM orders
        |  UNION ALL
        |  SELECT CASE
        |    WHEN o_totalprice <= (SELECT quantile_cont(o_totalprice, 0.25) FROM orders) THEN 'q1'
        |    WHEN o_totalprice <= (SELECT quantile_cont(o_totalprice, 0.50) FROM orders) THEN 'q2'
        |    WHEN o_totalprice <= (SELECT quantile_cont(o_totalprice, 0.75) FROM orders) THEN 'q3'
        |    ELSE 'q4' END, 'qcut' FROM orders
        |) t GROUP BY bin, src ORDER BY src, bin""".stripMargin,
    "q_stream_join" ->
      """WITH c AS (SELECT event_id, user_id, epoch_us(ts) // 1000000 AS sec
        |  FROM events WHERE event_type = 'click'),
        |p AS (SELECT event_id, user_id, epoch_us(ts) // 1000000 AS sec
        |  FROM events WHERE event_type = 'purchase')
        |SELECT c.event_id AS click_id, p.event_id AS purchase_id
        |FROM c JOIN p ON c.user_id = p.user_id
        |  AND p.sec >= c.sec AND p.sec <= c.sec + 3600
        |ORDER BY click_id, purchase_id""".stripMargin,
    "q_stream_dedup" ->
      """SELECT event_type, count(*) AS n,
        | CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    "q_stream_latest" ->
      """WITH ranked AS (SELECT user_id, event_id, epoch_us(ts) AS ts_us,
        |  event_type, value,
        |  row_number() OVER (PARTITION BY user_id
        |    ORDER BY epoch_ns(ts) DESC, event_id DESC) AS rn FROM events)
        |SELECT user_id, event_id, ts_us, event_type, value
        |FROM ranked WHERE rn = 1 ORDER BY user_id""".stripMargin,
    "q_stream_sessionize" ->
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
        |ORDER BY user_id, first_ts""".stripMargin,
    "q_melt" ->
      """SELECT l_orderkey, l_linenumber, variable, value FROM (
        |  SELECT l_orderkey, l_linenumber, 'l_quantity' AS variable,
        |         l_quantity AS value FROM lineitem
        |  UNION ALL SELECT l_orderkey, l_linenumber, 'l_extendedprice',
        |         l_extendedprice FROM lineitem
        |  UNION ALL SELECT l_orderkey, l_linenumber, 'l_discount',
        |         l_discount FROM lineitem
        |) t ORDER BY l_orderkey, l_linenumber, variable""".stripMargin,
    "q_explode" ->
      """SELECT vec_id, generate_subscripts(embedding, 1) AS pos,
        | CAST(unnest(embedding) AS DOUBLE) AS component
        |FROM embeddings ORDER BY vec_id, pos""".stripMargin,
    "q_window_fill" ->
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
        |ORDER BY event_id""".stripMargin,
    "q_interp" ->
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
        |FROM f ORDER BY event_id""".stripMargin,
    "q_dummies" ->
      """SELECT o_orderkey,
        | CASE WHEN o_orderstatus = 'O' THEN 1 ELSE 0 END AS os_O,
        | CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS os_F,
        | CASE WHEN o_orderstatus = 'P' THEN 1 ELSE 0 END AS os_P
        |FROM orders ORDER BY o_orderkey""".stripMargin,
    "q_where_other" ->
      """SELECT l_orderkey, l_linenumber,
        | CASE WHEN l_quantity <= 25 THEN l_quantity ELSE 0.0 END AS l_quantity,
        | CASE WHEN l_quantity <= 25 THEN l_extendedprice ELSE 0.0 END AS l_extendedprice
        |FROM lineitem ORDER BY l_orderkey, l_linenumber""".stripMargin,
    "q_corr_matrix" -> {
      // mirror corrMatrix: exact decimal power sums → one double formula
      val cols = Seq("l_quantity", "l_extendedprice", "l_discount")
      val pairs = for { i <- cols.indices; j <- cols.indices if i < j }
        yield (cols(i), cols(j))
      // DECIMAL(19,6): hugeint storage — DuckDB multiplies DECIMAL(18)
      // operands in int64 and overflows; the VALUES are identical to the
      // Spark side's DECIMAL(18,6) operands, so sums stay engine-exact
      def d(c: String) = s"CAST($c AS DECIMAL(19,6))"
      def p(a: String, b: String) = s"CAST(${d(a)} * ${d(b)} AS DECIMAL(38,12))"
      val sums = pairs.zipWithIndex.map { case ((a, b), k) =>
        s"CAST(sum(${p(a, b)}) AS DOUBLE) AS sxy_$k, " +
          s"CAST(sum(${d(a)}) AS DOUBLE) AS sx_$k, " +
          s"CAST(sum(${d(b)}) AS DOUBLE) AS sy_$k, " +
          s"CAST(sum(${p(a, a)}) AS DOUBLE) AS sxx_$k, " +
          s"CAST(sum(${p(b, b)}) AS DOUBLE) AS syy_$k, " +
          s"CAST(count(*) AS DOUBLE) AS n_$k"
      }.mkString(", ")
      val rows = pairs.zipWithIndex.map { case ((a, b), k) =>
        s"SELECT '$a' AS col_a, '$b' AS col_b, " +
          s"(n_$k * sxy_$k - sx_$k * sy_$k) / " +
          s"sqrt((n_$k * sxx_$k - sx_$k * sx_$k) * (n_$k * syy_$k - sy_$k * sy_$k)) AS corr FROM s"
      }.mkString(" UNION ALL ")
      s"WITH s AS (SELECT $sums FROM lineitem) $rows ORDER BY col_a, col_b"
    },
    "q_quantile" ->
      """SELECT CAST(q AS DOUBLE) AS q, value FROM (
        |  SELECT 0.10 AS q, quantile_cont(o_totalprice, 0.10) AS value FROM orders
        |  UNION ALL SELECT 0.25, quantile_cont(o_totalprice, 0.25) FROM orders
        |  UNION ALL SELECT 0.50, quantile_cont(o_totalprice, 0.50) FROM orders
        |  UNION ALL SELECT 0.75, quantile_cont(o_totalprice, 0.75) FROM orders
        |  UNION ALL SELECT 0.90, quantile_cont(o_totalprice, 0.90) FROM orders
        |  UNION ALL SELECT 0.99, quantile_cont(o_totalprice, 0.99) FROM orders
        |) t ORDER BY q""".stripMargin,
    "q_nlargest" ->
      """SELECT * FROM (
        |  SELECT o_orderkey, o_totalprice, 'top' AS side FROM
        |    (SELECT * FROM orders ORDER BY o_totalprice DESC, o_orderkey LIMIT 10)
        |  UNION ALL
        |  SELECT o_orderkey, o_totalprice, 'bot' AS side FROM
        |    (SELECT * FROM orders ORDER BY o_totalprice ASC, o_orderkey LIMIT 10)
        |) t ORDER BY side, o_orderkey""".stripMargin,
    "q_where_mask" ->
      """SELECT l_orderkey, l_linenumber, l_quantity, l_discount
        |FROM lineitem WHERE l_quantity > 45
        |ORDER BY l_orderkey, l_linenumber""".stripMargin,
    "q_concat" ->
      """SELECT l_orderkey, l_linenumber, l_quantity
        |FROM lineitem WHERE l_quantity > 45 OR l_quantity < 3
        |ORDER BY l_orderkey, l_linenumber""".stripMargin,
    "q_dropna" ->
      """SELECT o_orderkey, o_totalprice + p_retailprice AS s
        |FROM orders JOIN part ON o_orderkey = p_partkey
        |ORDER BY o_orderkey""".stripMargin,
    "q_text_stats" ->
      s"""SELECT doc_id,
         | len(list_filter(string_split_regex(trim(text), '\\s+'), t -> len(t) > 0)) AS n_tokens,
         | len(regexp_extract_all(text, '\\w+|[^\\w\\s]')) AS n_bpeish,
         | md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS fp,
         | ${graft.operators.LangId.oracleSqlExpr("text")} AS lang_pred
         |FROM documents ORDER BY doc_id""".stripMargin,
    "q_validate" -> {
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
    },
    "q_ref_integrity" ->
      s"""SELECT 'lineitem.l_orderkey' AS fk, * FROM (
         |${graft.operators.Validate.referentialIntegrityOracleSql(
             "lineitem", "l_orderkey", "orders", "o_orderkey")})
         |UNION ALL
         |SELECT 'events.user_id' AS fk, * FROM (
         |${graft.operators.Validate.referentialIntegrityOracleSql(
             "events", "user_id", "customer", "c_custkey")})
         |ORDER BY fk""".stripMargin,
    "q_lang_confusion" ->
      s"""SELECT lang, ${graft.operators.LangId.oracleSqlExpr("text")} AS pred,
         | count(*) AS n
         |FROM documents GROUP BY 1, 2 ORDER BY lang, pred""".stripMargin,
    "q_dedup_exact" ->
      """SELECT md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fp,
        | min(doc_id) AS canonical_id, count(*) AS n_dupes
        |FROM documents GROUP BY 1 ORDER BY fp""".stripMargin,
    "q_str_ops" ->
      """SELECT o_orderkey, upper(o_orderpriority) AS up,
        | length(o_orderpriority) AS ln,
        | contains(o_orderpriority, 'URGENT') AS has_urgent,
        | regexp_extract(o_orderpriority, '(\d)', 1) AS prio_num,
        | CASE WHEN regexp_matches(o_orderpriority, 'URGENT')
        |      THEN regexp_extract(o_orderpriority, '(URGENT)', 1) END AS urg,
        | CASE WHEN regexp_matches(o_orderpriority, '(URGENT)|(LOW)')
        |      THEN nullif(regexp_extract(o_orderpriority, '(URGENT)|(LOW)', 2), '')
        | END AS alt2,
        | lpad(o_orderpriority, 12, '_') AS padded,
        | len(regexp_extract_all(o_orderpriority, '[AEIOU]')) AS n_vowels
        |FROM orders ORDER BY o_orderkey""".stripMargin,
    "q_str_ops2" ->
      """SELECT o_orderkey,
        | CASE WHEN len(o_orderpriority) >= 12 THEN o_orderpriority
        |      ELSE lpad(o_orderpriority, 12, '0') END AS z,
        | strpos(o_orderpriority, 'URGENT') - 1 AS f,
        | CASE WHEN len(o_orderpriority) > 2
        |      THEN substr(o_orderpriority, 3, 1) END AS g2,
        | upper(substr(o_orderpriority, 1, 1))
        |   || lower(substr(o_orderpriority, 2)) AS cap,
        | regexp_matches(substr(o_orderpriority, 3, 4),
        |   '^[0-9A-Za-z]+$') AS alnum,
        | repeat(CASE WHEN len(o_orderpriority) > 0
        |   THEN substr(o_orderpriority, 1, 1) END, 3) AS rep,
        | regexp_matches(CASE WHEN len(o_orderpriority) > 0
        |   THEN substr(o_orderpriority, 1, 1) END, '^[0-9]+$') AS dig
        |FROM orders ORDER BY o_orderkey""".stripMargin,
    "q_dt_parts2" ->
      """SELECT l_orderkey, l_linenumber,
        | dayofyear(l_shipdate) AS doy,
        | quarter(l_shipdate) AS q,
        | weekofyear(l_shipdate) AS wk,
        | isodow(l_shipdate) - 1 AS wd,
        | day(last_day(l_shipdate)) AS dim,
        | day(l_shipdate) = 1 AS ms,
        | l_shipdate = last_day(l_shipdate) AS me
        |FROM lineitem ORDER BY l_orderkey, l_linenumber""".stripMargin,
    "q_kmeans_iter" ->
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
        |GROUP BY centroid_id, i ORDER BY centroid_id, pos""".stripMargin,
    "q_kmeans_assign" ->
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
        |FROM scored GROUP BY vec_id ORDER BY vec_id""".stripMargin,
    "q_split" ->
      """SELECT o_orderkey,
        |CASE
        | WHEN ('0x' || substring(md5(CAST(o_orderkey AS VARCHAR)), 1, 8))::UBIGINT
        |      / 4294967296.0 < CAST(0.8 AS DOUBLE) THEN 'train'
        | WHEN ('0x' || substring(md5(CAST(o_orderkey AS VARCHAR)), 1, 8))::UBIGINT
        |      / 4294967296.0 < CAST(0.9 AS DOUBLE) THEN 'val'
        | ELSE 'test' END AS split
        |FROM orders ORDER BY o_orderkey""".stripMargin,
    "q_cosine_topk" ->
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
        |FROM ranked WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin,
    // margin mining mirrored brute-force: all A×B cosines once, k-NN
    // both directions, nano-quantized k-averages, ratio margin, best
    // partner per a — arithmetic matches Similarity.marginPairs op for op
    "q_margin_pairs" ->
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
        |ORDER BY a_id""".stripMargin,
    "q_hybrid_topk" ->
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
        |FROM ranked WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin,
    "q_hybrid_bm25" -> {
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
    },
    "q_window_cumsum" ->
      """SELECT event_id,
        | CAST(sum(CAST(value AS DECIMAL(18,6))) OVER (PARTITION BY user_id
        |   ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING) AS DOUBLE) AS cum,
        | lag(value) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev,
        | CAST(sum(CAST(value AS DECIMAL(18,6))) OVER (PARTITION BY user_id
        |   ORDER BY ts, event_id ROWS BETWEEN 3 PRECEDING AND CURRENT ROW) AS DOUBLE) /
        |  count(*) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |   ROWS BETWEEN 3 PRECEDING AND CURRENT ROW) AS roll
        |FROM events ORDER BY event_id""".stripMargin,
    "q_pow_mod" ->
      """SELECT l_orderkey, l_linenumber,
        | l_quantity % 7 AS qmod,
        | floor(l_quantity / 7) AS qfdiv,
        | round(power(1 + l_discount, 2), 10) AS p2
        |FROM lineitem ORDER BY l_orderkey, l_linenumber""".stripMargin,
    "q_bool_coercion" ->
      """SELECT l_orderkey, l_linenumber,
        | CAST(l_quantity > 25 AS INT) + CAST(l_discount > 0.05 AS INT) AS flags,
        | CAST(l_quantity > 25 AS INT) * 10 AS scaled
        |FROM lineitem ORDER BY l_orderkey, l_linenumber""".stripMargin,
    "q_astype" ->
      """SELECT l_orderkey, l_linenumber,
        | CAST(floor(l_quantity) AS INT) AS qty_int,
        | CAST(l_quantity AS VARCHAR) AS qty_str
        |FROM lineitem ORDER BY l_orderkey, l_linenumber""".stripMargin,
    "q_applymap" ->
      """SELECT COALESCE(o.o_orderkey, p.p_partkey) AS o_orderkey,
        | CASE WHEN o.o_totalprice + p.p_retailprice IS NULL THEN NULL
        |      ELSE (o.o_totalprice + p.p_retailprice) * 2 END AS s
        |FROM orders o FULL OUTER JOIN part p ON o.o_orderkey = p.p_partkey
        |ORDER BY o_orderkey""".stripMargin,
    "q_len" ->
      """SELECT (SELECT count(*) FROM lineitem) AS lineitem_rows,
        | (SELECT count(*) FROM orders) AS order_rows,
        | 6 AS order_cols""".stripMargin,
    "q_ivf_topk" ->
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
        |FROM ranked WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin,
    // the LSH / PQ siblings share the identical exact side
    "q_ann_recall" -> AnnRecallOracle,
    // exact side recomputed; the partial-probe recall claim is Spark's
    // to prove (oracle asserts it TRUE)
    "q_ivf_recall" -> AnnRecallOracle,
    // the refine stage answers to the SAME clustered-fixture exact-side
    // oracle as q_ivfpq_recall, at the higher bar its re-rank must clear
    "q_ivfpq_rerank" -> ClusteredRecallOracle,
    // trained-codebook ADC answers to the same exact side; the recall
    // bar is Spark's to prove (training runs in-engine, deterministic)
    "q_pq_trained" -> ClusteredRecallOracle,
    // same exhaustive-count shape over the clustered fixture; the
    // partial-probe PQ recall claim is Spark's to prove
    "q_ivfpq_recall" -> ClusteredRecallOracle,
    // streamed probe drain ≡ single batch probe at nprobe = nlist:
    // the q_ivf_indexed exhaustive oracle verbatim
    "q_stream_ivf" ->
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
        |FROM ranked WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin,
    "q_ivf_indexed" ->
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
        |FROM ranked WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin,
    "q_ivf_append" ->
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
        |FROM ranked WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin,
    // delete ≡ never-ingested: brute force over the surviving vectors
    "q_ivf_delete" ->
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
        |FROM ranked WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin,
    "q_filtered_topk" ->
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
        |FROM ranked WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin,
    "q_emb_dedup" ->
      """WITH p AS (SELECT vec_id AS id_l, vec_id + 100000 AS id_r,
        |  list_sum(list_transform(list_zip(embedding, embedding),
        |    x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE))) /
        |  (sqrt(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE)))) *
        |   sqrt(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE))))) AS c
        | FROM embeddings)
        |SELECT id_l, id_r, round(c, 6) AS cosine FROM p
        |WHERE c >= 0.95 ORDER BY id_l, id_r""".stripMargin,
    // exhaustive train×benchmark cosine cross — the oracle proves the
    // broadcast-filter flags EXACTLY the >= threshold pairs
    "q_semantic_decon" ->
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
        |WHERE sim >= 0.95 ORDER BY train_id, eval_id""".stripMargin,
    "q_semantic_dedup" ->
      """WITH u AS (SELECT vec_id, embedding FROM embeddings
        |  UNION ALL SELECT vec_id + 100000, embedding FROM embeddings WHERE vec_id < 60),
        |c AS (SELECT vec_id AS cent_id, embedding AS cv FROM embeddings WHERE vec_id < 8),
        |scored AS (
        |  SELECT u.vec_id, c.cent_id,
        |    list_sum(list_transform(list_zip(u.embedding, c.cv),
        |      x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE))) /
        |    (sqrt(list_sum(list_transform(u.embedding, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE)))) *
        |     sqrt(list_sum(list_transform(c.cv, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE))))) AS cos
        |  FROM u, c),
        |a AS (SELECT vec_id, arg_max(cent_id, cos) AS cell FROM scored GROUP BY vec_id),
        |b AS (SELECT a.vec_id, a.cell, u.embedding FROM a JOIN u USING (vec_id)),
        |drops AS (SELECT DISTINCT r.vec_id FROM b l JOIN b r
        |  ON l.cell = r.cell AND l.vec_id < r.vec_id
        |  WHERE list_sum(list_transform(list_zip(l.embedding, r.embedding),
        |      x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE))) /
        |    (sqrt(list_sum(list_transform(l.embedding, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE)))) *
        |     sqrt(list_sum(list_transform(r.embedding, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE))))) >= 0.95)
        |SELECT b.vec_id, b.cell AS centroid_id FROM b
        |WHERE b.vec_id NOT IN (SELECT vec_id FROM drops) ORDER BY vec_id""".stripMargin,
    "q_quality" ->
      s"""SELECT doc_id, round(${graft.operators.TextAnalysis.qualityOracleSqlExpr("text")}, 6) AS quality
         |FROM documents ORDER BY doc_id""".stripMargin,
    "q_gopher" -> {
      val exprs = graft.operators.TextAnalysis.gopherOracleSqlExprs("text")
      val sel = exprs.map { case (n, e) =>
        if (Set("mean_word_len", "symbol_ratio", "bullet_frac",
          "ellipsis_frac", "alpha_frac").contains(n)) s"round($e, 6) AS $n"
        else s"$e AS $n"
      }.mkString(",\n  ")
      s"SELECT doc_id,\n  $sel\nFROM documents ORDER BY doc_id"
    },
    "q_script" -> {
      val (dom, ratio) = graft.operators.TextAnalysis.scriptOracleSqlExprs("text")
      s"SELECT doc_id, $dom AS script, round($ratio, 6) AS script_ratio " +
        "FROM documents ORDER BY doc_id"
    },
    "q_describe" ->
      """WITH s AS (
        |  SELECT 'l_quantity' AS "column", count(l_quantity) AS n,
        |    CAST(sum(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS s1,
        |    CAST(sum(CAST(l_quantity * l_quantity AS DECIMAL(38,8))) AS DOUBLE) AS s2,
        |    CAST(min(l_quantity) AS DOUBLE) AS mn,
        |    CAST(max(l_quantity) AS DOUBLE) AS mx FROM lineitem
        |  UNION ALL
        |  SELECT 'l_extendedprice', count(l_extendedprice),
        |    CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE),
        |    CAST(sum(CAST(l_extendedprice * l_extendedprice AS DECIMAL(38,8))) AS DOUBLE),
        |    CAST(min(l_extendedprice) AS DOUBLE),
        |    CAST(max(l_extendedprice) AS DOUBLE) FROM lineitem
        |  UNION ALL
        |  SELECT 'l_discount', count(l_discount),
        |    CAST(sum(CAST(l_discount AS DECIMAL(18,4))) AS DOUBLE),
        |    CAST(sum(CAST(l_discount * l_discount AS DECIMAL(38,8))) AS DOUBLE),
        |    CAST(min(l_discount) AS DOUBLE),
        |    CAST(max(l_discount) AS DOUBLE) FROM lineitem)
        |SELECT "column", n, round(s1 / n, 6) AS mean,
        |  round(sqrt((s2 - (s1 / n) * (s1 / n) * n) / (n - 1)), 6) AS std,
        |  mn, mx
        |FROM s ORDER BY "column"""".stripMargin,
    "q_robust_z" ->
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
        |FROM w JOIN d USING (o_orderpriority) ORDER BY o_orderkey""".stripMargin,
    "q_zscore" ->
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
        |FROM a ORDER BY o_orderkey""".stripMargin,
    "q_novel" ->
      """WITH fp AS (SELECT doc_id,
        |  md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS f
        |  FROM documents),
        |b AS (SELECT doc_id, f FROM fp WHERE doc_id % 10 >= 7),
        |c AS (SELECT DISTINCT f FROM fp WHERE doc_id % 10 < 8)
        |SELECT doc_id FROM b ANTI JOIN c USING (f) ORDER BY doc_id""".stripMargin,
    "q_vocab_drift" ->
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
        |FROM j, t ORDER BY drift DESC, word LIMIT 100""".stripMargin,
    "q_boilerplate" ->
      s"""WITH sh AS (SELECT doc_id,
        |    unnest(${graft.operators.Dedup.shinglesOracleSqlExpr("text", 3)}) AS s
        |  FROM documents),
        |c AS (SELECT s AS token, count(*) AS cnt FROM sh GROUP BY s)
        |SELECT CAST(row_number() OVER (ORDER BY cnt DESC, token) AS INT) AS rank,
        |  token, cnt
        |FROM c ORDER BY rank LIMIT 20""".stripMargin,
    "q_heavy_hitters" ->
      """WITH t AS (SELECT unnest(list_filter(string_split_regex(trim(lower(text)), '\s+'),
        |    w -> len(w) > 0)) AS token FROM documents),
        |c AS (SELECT token, count(*) AS cnt FROM t GROUP BY token)
        |SELECT CAST(row_number() OVER (ORDER BY cnt DESC, token) AS INT) AS rank,
        |  token, cnt
        |FROM c ORDER BY rank LIMIT 10""".stripMargin,
    "q_cm_freq" ->
      """WITH c AS (SELECT user_id, count(*) AS n_exact FROM events GROUP BY user_id)
        |SELECT user_id, n_exact, TRUE AS cm_ok FROM c
        |ORDER BY n_exact DESC, user_id LIMIT 20""".stripMargin,
    "q_corpus_diff" ->
      """WITH o AS (SELECT doc_id,
        |  md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS f
        |  FROM documents WHERE doc_id % 7 <> 0),
        |n AS (SELECT doc_id,
        |  md5(regexp_replace(lower(trim(
        |    CASE WHEN doc_id % 3 = 0 THEN text || ' EDIT' ELSE text END
        |  )), '\s+', ' ', 'g')) AS f
        |  FROM documents WHERE doc_id % 5 <> 0),
        |j AS (SELECT COALESCE(o.doc_id, n.doc_id) AS doc_id,
        |  CASE WHEN o.f IS NULL THEN 'added'
        |       WHEN n.f IS NULL THEN 'removed'
        |       WHEN o.f = n.f THEN 'unchanged'
        |       ELSE 'changed' END AS status
        |  FROM o FULL JOIN n ON o.doc_id = n.doc_id)
        |SELECT doc_id, status FROM j WHERE status <> 'unchanged'
        |ORDER BY doc_id""".stripMargin,
    "q_bloom_novel" ->
      """WITH fp AS (SELECT doc_id,
        |  md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS f
        |  FROM documents),
        |b AS (SELECT doc_id, f FROM fp WHERE doc_id % 10 >= 7),
        |c AS (SELECT DISTINCT f FROM fp WHERE doc_id % 10 < 8)
        |SELECT doc_id FROM b ANTI JOIN c USING (f) ORDER BY doc_id""".stripMargin,
    "q_stream_novel" ->
      """WITH fp AS (SELECT doc_id,
        |  md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS f
        |  FROM documents),
        |b AS (SELECT doc_id, f FROM fp WHERE doc_id % 10 >= 7),
        |c AS (SELECT DISTINCT f FROM fp WHERE doc_id % 10 < 8)
        |SELECT doc_id FROM b ANTI JOIN c USING (f) ORDER BY doc_id""".stripMargin,
    "q_strip_markup" -> {
      val strip = graft.operators.TextAnalysis.stripMarkupOracleSqlExpr("html")
      s"""WITH h AS (SELECT doc_id,
         |  concat('<html><head><style>p { color: red }</style>',
         |    '<script>if (x < 2 && y > 1) { alert("hi"); }</script></head>',
         |    '<body><p class="lead">', text,
         |    '</p><!-- trailing comment --> Tom &amp; Jerry &lt;3 ',
         |    '&quot;quoted&quot;</body></html>') AS html
         |  FROM documents)
         |SELECT doc_id, $strip AS clean FROM h ORDER BY doc_id""".stripMargin
    },
    "q_unigram_lm" -> {
      s"""WITH base AS (SELECT doc_id, text FROM documents),
         |${graft.operators.TextAnalysis.unigramScoreOracleSql}
         |ORDER BY doc_id""".stripMargin
    },
    "q_bigram_lm" -> {
      s"""WITH mbase AS (SELECT text FROM documents WHERE lang = 'en'),
         |base AS (SELECT doc_id, text FROM documents),
         |${graft.operators.TextAnalysis.stupidBackoffOracleSql()}
         |ORDER BY doc_id""".stripMargin
    },
    "q_entropy" ->
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
        |FROM q GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "q_bm25" -> {
      s"""WITH docs AS (SELECT doc_id, text FROM documents),
         |qs AS (SELECT doc_id, text FROM documents WHERE doc_id < 5),
         |${graft.operators.TextAnalysis.bm25OracleSql()}
         |ORDER BY query_id, rank""".stripMargin
    },
    // the oracle reads the ORIGINAL parquet — the CSV/JSON round trip
    // must be value-invisible
    "q_csv_source" ->
      """SELECT c_custkey, c_name, c_mktsegment, c_acctbal
        |FROM customer ORDER BY c_custkey""".stripMargin,
    "q_json_source" ->
      """SELECT o_orderkey, o_orderstatus, o_totalprice
        |FROM orders ORDER BY o_orderkey""".stripMargin,
    "q_orc_source" ->
      """SELECT n_nationkey, n_name, n_regionkey
        |FROM nation ORDER BY n_nationkey""".stripMargin,
    // indexed ≡ single-shot: the identical exhaustive oracle
    "q_bm25_indexed" -> {
      s"""WITH docs AS (SELECT doc_id, text FROM documents),
         |qs AS (SELECT doc_id, text FROM documents WHERE doc_id < 5),
         |${graft.operators.TextAnalysis.bm25OracleSql()}
         |ORDER BY query_id, rank""".stripMargin
    },
    // append ≡ from-scratch: single-shot bm25 over the FULL corpus —
    // a hash match proves the merged df/stats are exact
    "q_bm25_append" -> {
      s"""WITH docs AS (SELECT doc_id, text FROM documents),
         |qs AS (SELECT doc_id, text FROM documents
         |       WHERE doc_id >= 5 AND doc_id < 10),
         |${graft.operators.TextAnalysis.bm25OracleSql()}
         |ORDER BY query_id, rank""".stripMargin
    },
    // compaction moves only the file inventory: post-compact probe ≡
    // single-shot bm25 over the full corpus, bit for bit
    "q_bm25_compact" -> {
      s"""WITH docs AS (SELECT doc_id, text FROM documents
         |      WHERE doc_id < 1000),
         |qs AS (SELECT doc_id, text FROM documents
         |       WHERE doc_id >= 10 AND doc_id < 15),
         |${graft.operators.TextAnalysis.bm25OracleSql()}
         |ORDER BY query_id, rank""".stripMargin
    },
    // delete ≡ never-ingested: single-shot bm25 over the SURVIVORS —
    // a hash match proves postings, df AND the (n, tot) stats all
    // shrank exactly (stale statistics would shift every idf)
    "q_bm25_delete" -> {
      s"""WITH docs AS (SELECT doc_id, text FROM documents
         |      WHERE doc_id < 1000 AND doc_id % 7 <> 0),
         |qs AS (SELECT doc_id, text FROM documents
         |       WHERE doc_id >= 15 AND doc_id < 20),
         |${graft.operators.TextAnalysis.bm25OracleSql()}
         |ORDER BY query_id, rank""".stripMargin
    },
    // streamed probe drain ≡ single batch probe ≡ single-shot bm25:
    // the q_bm25_indexed oracle verbatim
    "q_stream_bm25" -> {
      s"""WITH docs AS (SELECT doc_id, text FROM documents),
         |qs AS (SELECT doc_id, text FROM documents WHERE doc_id < 5),
         |${graft.operators.TextAnalysis.bm25OracleSql()}
         |ORDER BY query_id, rank""".stripMargin
    },
    "q_quality_filter" -> {
      val q = graft.operators.TextAnalysis.qualityOracleSqlExpr("text")
      s"""WITH s AS (SELECT doc_id, lang, round($q, 6) AS q FROM documents),
         |m AS (SELECT lang, quantile_cont(q, 0.5) AS med FROM s GROUP BY lang)
         |SELECT s.doc_id, s.lang FROM s JOIN m USING (lang)
         |WHERE s.q > m.med ORDER BY doc_id""".stripMargin
    },
    "q_contam" -> {
      val sh = graft.operators.Dedup.shinglesOracleSqlExpr("text", 3)
      s"""WITH probes AS (SELECT doc_id AS probe_id, $sh AS s
         |  FROM documents WHERE doc_id < 40),
         |corpus AS (SELECT doc_id, $sh AS s FROM (
         |  SELECT doc_id, text FROM documents WHERE doc_id >= 40
         |  UNION ALL
         |  SELECT doc_id + 1000000, text FROM documents WHERE doc_id < 40)),
         |d AS (SELECT doc_id, unnest(s) AS gd FROM corpus),
         |p AS (SELECT probe_id, unnest(s) AS gp FROM probes)
         |SELECT doc_id, probe_id, count(DISTINCT gd) AS n_shared
         |FROM d JOIN p ON gd = gp
         |GROUP BY doc_id, probe_id HAVING count(DISTINCT gd) >= 5
         |ORDER BY doc_id, probe_id""".stripMargin
    },
    "q_repetition" -> {
      val sh = graft.operators.Dedup.shinglesAllOracleSqlExpr("text", 2)
      s"""WITH g AS (SELECT doc_id, unnest($sh) AS gram FROM documents),
         |c AS (SELECT doc_id, gram, count(*) AS cnt FROM g GROUP BY 1, 2)
         |SELECT doc_id, CAST(sum(cnt) AS BIGINT) AS n_grams,
         | count(*) AS n_distinct,
         | round(1.0 - count(*) / sum(cnt), 6) AS dup_frac,
         | round(max(cnt) / sum(cnt), 6) AS top_frac
         |FROM c GROUP BY doc_id ORDER BY doc_id""".stripMargin
    },
    "q_line_dedup" -> {
      s"""WITH base AS (SELECT doc_id, concat_ws(chr(10),
         |    substr(text, 1, 60), substr(text, 61, 60),
         |    CASE WHEN doc_id % 3 = 0 THEN 'Subscribe to our newsletter'
         |         ELSE substr(text, 121, 60) END,
         |    CASE WHEN doc_id % 2 = 0 THEN '(c) All rights reserved'
         |         ELSE concat('id ', CAST(doc_id AS VARCHAR)) END) AS text
         |  FROM documents),
         |${graft.operators.Dedup.lineDedupOracleSql(50)}
         |ORDER BY doc_id""".stripMargin
    },
    "q_spans" -> {
      s"""WITH src AS (SELECT doc_id, text FROM documents WHERE doc_id < 100),
         |ptk AS (SELECT doc_id,
         |    list_filter(string_split_regex(trim(text), '\\s+'),
         |                w -> len(w) > 0) AS tk FROM src),
         |base AS (
         |  SELECT doc_id, text FROM src
         |  UNION ALL
         |  SELECT doc_id + 5000,
         |    concat('px', CAST(doc_id AS VARCHAR), ' ',
         |           'qx', CAST(doc_id AS VARCHAR), ' ',
         |           array_to_string(list_slice(tk, 3, 14), ' '), ' ',
         |           'rx', CAST(doc_id AS VARCHAR))
         |  FROM ptk WHERE doc_id < 30),
         |${graft.operators.Dedup.repeatedSpansOracleSql(8)}
         |ORDER BY id_l, id_r, start_l, start_r""".stripMargin
    },
    "q_jaccard_pairs" -> graft.operators.Dedup.jaccardPairsOracleSql(3, 0.05),
    "q_dsir" -> {
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
    },
    "q_containment" -> {
      val sh = graft.operators.Dedup.shinglesOracleSqlExpr("text", 3)
      s"""WITH all_docs AS (
         |  SELECT doc_id, text FROM documents
         |  UNION ALL SELECT doc_id + 200000, substr(text, 1, 200)
         |  FROM documents WHERE doc_id < 10),
         |sh AS (SELECT doc_id, $sh AS s FROM all_docs),
         |c AS (SELECT a.doc_id AS id_l, b.doc_id AS id_r,
         |   CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) /
         |   least(len(a.s), len(b.s)) AS containment
         | FROM sh a JOIN sh b ON a.doc_id < b.doc_id)
         |SELECT id_l, id_r, round(containment, 6) AS containment
         |FROM c WHERE containment >= 0.5 ORDER BY id_l, id_r""".stripMargin
    },
    "q_edit_pairs" -> {
      val sh = graft.operators.Dedup.shinglesOracleSqlExpr("text", 3)
      s"""WITH all_docs AS (
         |  SELECT doc_id, text FROM documents WHERE doc_id < 100
         |  UNION ALL SELECT doc_id + 100000, 'XQZ' || substr(text, 4)
         |  FROM documents WHERE doc_id < 20),
         |sh AS (SELECT doc_id, text, $sh AS s FROM all_docs),
         |cand AS (SELECT a.doc_id AS id_l, b.doc_id AS id_r,
         |    a.text AS tl, b.text AS tr
         |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
         |  WHERE len(list_intersect(a.s, b.s)) >= 3
         |    AND abs(len(a.text) - len(b.text)) <= 50)
         |SELECT id_l, id_r, levenshtein(tl, tr) AS dist FROM cand
         |WHERE levenshtein(tl, tr) <= 50 ORDER BY id_l, id_r""".stripMargin
    },
    "q_fuzzy_linkage" ->
      """WITH names AS (SELECT p_name AS name, min(p_partkey) AS id
        |  FROM part GROUP BY 1),
        |p AS (SELECT id, name, split_part(name, ' ', 1) AS blk FROM names),
        |ok AS (SELECT blk FROM p GROUP BY blk HAVING count(*) <= 10000)
        |SELECT a.id AS id_a, b.id AS id_b,
        |  round(jaro_winkler_similarity(a.name, b.name), 6) AS jw
        |FROM p a JOIN p b ON a.blk = b.blk AND a.id < b.id
        |JOIN ok ON ok.blk = a.blk
        |WHERE jaro_winkler_similarity(a.name, b.name) >= 0.85
        |ORDER BY id_a, id_b""".stripMargin,
    "q_minhash_pairs" -> graft.operators.Dedup.jaccardPairsOracleSql(3, 0.5),
    "q_near_dup" -> graft.operators.Dedup.jaccardPairsOracleSql(3, 0.8),
    "q_near_dup_tuned" -> graft.operators.Dedup.jaccardPairsOracleSql(3, 0.8),
    // adaptive banding changes WHICH buckets collide, never the exact
    // verify — the exhaustive oracle pins that the measured plan's
    // recall claim held on this corpus
    "q_near_dup_adaptive" -> graft.operators.Dedup.jaccardPairsOracleSql(3, 0.8),
    "q_stream_neardup" -> graft.operators.Dedup.jaccardPairsOracleSql(3, 0.8),
    "q_dedup_pipeline" -> {
      val sh = graft.operators.Dedup.shinglesOracleSqlExpr("text", 3)
      s"""WITH RECURSIVE all_docs AS (
         |  SELECT doc_id, text, n_chars FROM documents WHERE doc_id < 150
         |  UNION ALL SELECT doc_id + 100000, text, n_chars FROM documents
         |  WHERE doc_id < 20),
         |fp AS (SELECT doc_id,
         |  md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS fp
         |  FROM all_docs),
         |fedges AS (SELECT a.doc_id AS src, b.doc_id AS dst
         |  FROM fp a JOIN fp b ON a.fp = b.fp AND a.doc_id <> b.doc_id),
         |sh AS (SELECT doc_id, $sh AS s FROM all_docs),
         |jedges AS (SELECT a.doc_id AS src, b.doc_id AS dst
         |  FROM sh a JOIN sh b ON a.doc_id <> b.doc_id
         |  WHERE CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) /
         |    (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))) >= 0.8),
         |edges AS (SELECT src, dst FROM fedges
         |          UNION SELECT src, dst FROM jedges),
         |reach AS (
         |  SELECT DISTINCT src AS node, src AS label FROM edges
         |  UNION
         |  SELECT e.dst, r.label FROM reach r JOIN edges e ON e.src = r.node),
         |comp AS (SELECT node, min(label) AS label FROM reach GROUP BY node),
         |labeled AS (SELECT d.doc_id, d.n_chars,
         |  COALESCE(c.label, d.doc_id) AS cluster
         |  FROM all_docs d LEFT JOIN comp c ON d.doc_id = c.node),
         |ranked AS (SELECT cluster, doc_id,
         |  row_number() OVER (PARTITION BY cluster
         |    ORDER BY n_chars DESC, doc_id DESC) AS rn FROM labeled)
         |SELECT doc_id, cluster, (rn = 1) AS is_canonical FROM ranked
         |ORDER BY doc_id""".stripMargin
    },
    "q_dedup_provenance" -> {
      val sh = graft.operators.Dedup.shinglesOracleSqlExpr("text", 3)
      s"""WITH RECURSIVE all_docs AS (
         |  SELECT doc_id, text, n_chars FROM documents WHERE doc_id < 150
         |  UNION ALL SELECT doc_id + 100000, text, n_chars FROM documents
         |  WHERE doc_id < 20),
         |fp AS (SELECT doc_id,
         |  md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS fp
         |  FROM all_docs),
         |fedges AS (SELECT a.doc_id AS src, b.doc_id AS dst
         |  FROM fp a JOIN fp b ON a.fp = b.fp AND a.doc_id <> b.doc_id),
         |sh AS (SELECT doc_id, $sh AS s FROM all_docs),
         |jedges AS (SELECT a.doc_id AS src, b.doc_id AS dst
         |  FROM sh a JOIN sh b ON a.doc_id <> b.doc_id
         |  WHERE CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) /
         |    (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))) >= 0.8),
         |edges AS (SELECT src, dst FROM fedges
         |          UNION SELECT src, dst FROM jedges),
         |reach AS (
         |  SELECT DISTINCT src AS node, src AS label FROM edges
         |  UNION
         |  SELECT e.dst, r.label FROM reach r JOIN edges e ON e.src = r.node),
         |comp AS (SELECT node, min(label) AS label FROM reach GROUP BY node),
         |labeled AS (SELECT d.doc_id, d.n_chars,
         |  COALESCE(c.label, d.doc_id) AS cluster
         |  FROM all_docs d LEFT JOIN comp c ON d.doc_id = c.node),
         |ranked AS (SELECT cluster, doc_id,
         |  row_number() OVER (PARTITION BY cluster
         |    ORDER BY n_chars DESC, doc_id DESC) AS rn FROM labeled),
         |canon AS (SELECT cluster, doc_id AS cid FROM ranked WHERE rn = 1),
         |dropped AS (SELECT doc_id, cluster FROM ranked WHERE rn > 1)
         |SELECT d.doc_id, d.cluster AS cluster_id,
         |  CASE WHEN fd.fp = fc.fp THEN 'exact'
         |       WHEN CAST(len(list_intersect(sd.s, sc.s)) AS DOUBLE) /
         |         (len(sd.s) + len(sc.s) - len(list_intersect(sd.s, sc.s)))
         |         >= 0.8 THEN 'lsh'
         |       ELSE 'canonical-loser' END AS dropped_by
         |FROM dropped d
         |JOIN canon c ON d.cluster = c.cluster
         |JOIN fp fd ON fd.doc_id = d.doc_id
         |JOIN fp fc ON fc.doc_id = c.cid
         |JOIN sh sd ON sd.doc_id = d.doc_id
         |JOIN sh sc ON sc.doc_id = c.cid
         |ORDER BY d.doc_id""".stripMargin
    },
    "q_neardup_indexed" -> {
      val sh = graft.operators.Dedup.shinglesOracleSqlExpr("text", 3)
      s"""WITH sh AS (SELECT doc_id, $sh AS s FROM documents),
         |c AS (SELECT doc_id, s FROM sh WHERE doc_id >= 100),
         |b AS (SELECT doc_id, s FROM sh WHERE doc_id < 100
         |      UNION ALL SELECT doc_id + 200000, s FROM sh
         |      WHERE doc_id >= 100 AND doc_id < 110),
         |j AS (SELECT c.doc_id AS corpus_id, b.doc_id AS batch_id,
         |   CAST(len(list_intersect(c.s, b.s)) AS DOUBLE) /
         |   (len(c.s) + len(b.s) - len(list_intersect(c.s, b.s))) AS jaccard
         | FROM c, b)
         |SELECT corpus_id, batch_id, round(jaccard, 6) AS jaccard
         |FROM j WHERE jaccard >= 0.8 ORDER BY corpus_id, batch_id""".stripMargin
    },
    "q_simhash" ->
      """WITH d AS (SELECT doc_id, text FROM documents
        |           UNION ALL SELECT doc_id + 100000, text FROM documents),
        |f AS (SELECT doc_id, md5(text) AS fp FROM d)
        |SELECT a.doc_id AS id_l, b.doc_id AS id_r, CAST(0 AS INT) AS hamming
        |FROM f a JOIN f b ON a.doc_id < b.doc_id AND a.fp = b.fp
        |ORDER BY id_l, id_r""".stripMargin,
    "q_pq_codes" -> {
      val codes = graft.operators.Similarity.pqCodesOracleSqlExpr("embedding")
      s"""SELECT vec_id, array_to_string($codes, '-') AS code_str
         |FROM embeddings ORDER BY vec_id""".stripMargin
    },
    "q_pq_topk" -> {
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
    },
    "q_ivfpq_topk" -> {
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
    },
    // exhaustive ADC over the FULL corpus: the partial build + append
    // must reproduce it exactly (append encodes with the persisted,
    // corpus-independent seed codebook — any drift hash-fails)
    "q_ivfpq_append" -> {
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
    },
    "q_ann_topk" -> {
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
    },
    "q_image_dedup" ->
      """WITH all_docs AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL SELECT doc_id + 500000, text FROM documents WHERE doc_id < 15)
        |SELECT a.doc_id AS id_l, b.doc_id AS id_r, 0 AS hamming
        |FROM all_docs a JOIN all_docs b
        |  ON a.text = b.text AND a.doc_id < b.doc_id
        |ORDER BY id_l, id_r""".stripMargin,
    // every doc's PNG pairs with its JPEG twin (same raster, two
    // codecs); equal TEXTS pair across ids too — the raster is a pure
    // function of the text, so text equality is the full ground truth
    "q_image_dedup2" ->
      """WITH d AS (SELECT doc_id, text FROM documents WHERE doc_id < 120),
        |all_docs AS (SELECT doc_id, text FROM d
        |  UNION ALL SELECT doc_id + 500000, text FROM d)
        |SELECT a.doc_id AS id_l, b.doc_id AS id_r
        |FROM all_docs a JOIN all_docs b
        |  ON a.text = b.text AND a.doc_id < b.doc_id
        |ORDER BY id_l, id_r""".stripMargin,
    "q_multimodal" ->
      """WITH m AS (SELECT doc_id,
        |    CAST(64 + (len(text) * 7) % 1921 AS INT) AS width,
        |    CAST(64 + (len(text) * 13) % 1081 AS INT) AS height
        |  FROM documents),
        |r AS (SELECT doc_id, width, height,
        |    least(256.0 / width, 256.0 / height, 1.0) AS sc FROM m)
        |SELECT doc_id, width, height,
        |  CAST(round(width * sc) AS INT) AS rs_width,
        |  CAST(round(height * sc) AS INT) AS rs_height
        |FROM r ORDER BY doc_id""".stripMargin,
    "q_image2" ->
      """SELECT doc_id,
        |  CAST(16 + (len(text) * 5) % 1009 AS INT) AS width,
        |  CAST(16 + (len(text) * 11) % 737 AS INT) AS height,
        |  3 AS channels, 'png' AS format
        |FROM documents ORDER BY doc_id""".stripMargin,
    "q_audio" ->
      """WITH m AS (SELECT doc_id,
        |    CAST(8000 + (strlen(text) * 7) % 36001 AS INT) AS sample_rate,
        |    CAST(1 + strlen(text) % 2 AS INT) AS channels,
        |    strlen(text) AS ds FROM documents),
        |s AS (SELECT doc_id, sample_rate, channels,
        |    CAST(ds // (channels * 2) AS BIGINT) AS n_samples FROM m)
        |SELECT doc_id, sample_rate, channels, n_samples,
        |  CAST(sample_rate // 4 AS INT) AS fs_rate,
        |  CAST((n_samples + 3) // 4 AS BIGINT) AS fs_samples
        |FROM s ORDER BY doc_id""".stripMargin,
    "q_video" ->
      """WITH m AS (SELECT doc_id,
        |    CAST(24 + strlen(text) % 7 AS INT) AS fps_num,
        |    CAST(1 + strlen(text) % 5 AS BIGINT) AS n_frames
        |  FROM documents)
        |SELECT doc_id, 4 AS width, fps_num, n_frames,
        |  CAST(least(n_frames - 1, 4) // 2 + 1 AS INT) AS n_sampled
        |FROM m ORDER BY doc_id""".stripMargin,
    // stream ≡ batch probe of the union: the same text-equality truth
    "q_stream_image" ->
      """WITH d AS (SELECT doc_id, text FROM documents WHERE doc_id < 60)
        |SELECT c.doc_id AS corpus_id, b.doc_id + 500000 AS batch_id
        |FROM d c JOIN d b ON c.text = b.text
        |ORDER BY corpus_id, batch_id""".stripMargin,
    // every JPEG twin must find its PNG original: text equality over
    // the planted corpus IS the cross-container ground truth
    "q_image_index" ->
      """WITH d AS (SELECT doc_id, text FROM documents WHERE doc_id < 100)
        |SELECT c.doc_id AS corpus_id, b.doc_id + 500000 AS batch_id
        |FROM d c JOIN d b ON c.text = b.text
        |ORDER BY corpus_id, batch_id""".stripMargin,
    // clusters = text-equality components over the planted corpus:
    // label = min id of each text group, singleton groups excluded
    // (duplicateClusters emits only nodes that appear in some pair)
    "q_image_clusters" ->
      """WITH d AS (SELECT doc_id, text FROM documents WHERE doc_id < 60),
        |all_docs AS (SELECT doc_id, text FROM d
        |  UNION ALL SELECT doc_id + 500000, text FROM d
        |  UNION ALL SELECT doc_id + 600000, text FROM d),
        |comp AS (SELECT doc_id,
        |    min(doc_id) OVER (PARTITION BY text) AS label,
        |    count(*) OVER (PARTITION BY text) AS n
        |  FROM all_docs)
        |SELECT doc_id AS node, label FROM comp WHERE n >= 2
        |ORDER BY node""".stripMargin,
    // the stream ≡ batch: same header arithmetic as q_audio2
    "q_stream_probe" ->
      """WITH m AS (SELECT doc_id, strlen(text) AS ds FROM documents)
        |SELECT doc_id,
        |  CAST([44100, 48000, 32000][CAST(ds % 3 AS INT) + 1] AS INT)
        |    AS sample_rate,
        |  CAST(1 + ds % 2 AS INT) AS channels,
        |  CAST((1 + ds % 5) * 1152 AS BIGINT) AS n_samples,
        |  'mp3' AS format
        |FROM m ORDER BY doc_id""".stripMargin,
    "q_audio2" ->
      """WITH m AS (SELECT doc_id, strlen(text) AS ds FROM documents)
        |SELECT doc_id,
        |  CAST([44100, 48000, 32000][CAST(ds % 3 AS INT) + 1] AS INT)
        |    AS sample_rate,
        |  CAST(1 + ds % 2 AS INT) AS channels,
        |  0 AS bits,
        |  CAST((1 + ds % 5) * 1152 AS BIGINT) AS n_samples,
        |  'mp3' AS format
        |FROM m ORDER BY doc_id""".stripMargin,
    // every sample replayed from the md5 hex pairs: byte = h1*16+h2
    // (the md5Long48 ascii arithmetic), sample = lo + 256*hi signed,
    // then exact integer energy / crossings / peak per doc
    "q_audio3" -> {
      def hv(pos: String) =
        s"(CASE WHEN ascii(substr(hx, $pos, 1)) >= 97 " +
          s"THEN ascii(substr(hx, $pos, 1)) - 87 " +
          s"ELSE ascii(substr(hx, $pos, 1)) - 48 END)"
      s"""WITH m AS (SELECT doc_id, md5(text) AS h,
         |    2 + strlen(text) % 5 AS r FROM documents),
         |hx AS (SELECT doc_id, repeat(h, CAST(r AS INT)) AS hx,
         |    8 * r AS n FROM m),
         |smp AS (SELECT doc_id,
         |    unnest(range(1, CAST(n + 1 AS BIGINT))) AS i FROM hx),
         |raw AS (SELECT s.doc_id, s.i,
         |    (${hv("4*s.i-3")} * 16 + ${hv("4*s.i-2")})
         |    + 256 * (${hv("4*s.i-1")} * 16 + ${hv("4*s.i")}) AS rv
         |  FROM smp s JOIN hx USING (doc_id)),
         |sgn AS (SELECT doc_id, i,
         |    CASE WHEN rv >= 32768 THEN rv - 65536 ELSE rv END AS sv
         |  FROM raw),
         |lagd AS (SELECT doc_id, i, sv,
         |    lag(sv) OVER (PARTITION BY doc_id ORDER BY i) AS pv
         |  FROM sgn)
         |SELECT doc_id,
         |  CAST(count(*) AS BIGINT) AS n_samples,
         |  CAST(sum(CAST(sv AS BIGINT) * sv) AS BIGINT) AS sum_sq,
         |  CAST(sum(CASE WHEN pv IS NOT NULL
         |    AND ((sv < 0) <> (pv < 0)) THEN 1 ELSE 0 END) AS BIGINT)
         |    AS zero_crossings,
         |  CAST(max(abs(sv)) AS INT) AS peak
         |FROM lagd GROUP BY doc_id ORDER BY doc_id""".stripMargin
    },
    // the tag strings recomputed from the text
    "q_audio5" ->
      """SELECT doc_id,
        |  'T' || substr(text, 1, 8) AS title,
        |  'A' || CAST(strlen(text) % 100 AS VARCHAR) AS artist,
        |  CAST(NULL AS VARCHAR) AS album
        |FROM documents ORDER BY doc_id""".stripMargin,
    // q_audio3's sample replay with a window grouping on top
    "q_audio4" -> {
      def hv(pos: String) =
        s"(CASE WHEN ascii(substr(hx, $pos, 1)) >= 97 " +
          s"THEN ascii(substr(hx, $pos, 1)) - 87 " +
          s"ELSE ascii(substr(hx, $pos, 1)) - 48 END)"
      s"""WITH m AS (SELECT doc_id, md5(text) AS h,
         |    2 + strlen(text) % 5 AS r FROM documents),
         |hx AS (SELECT doc_id, repeat(h, CAST(r AS INT)) AS hx,
         |    8 * r AS n FROM m),
         |smp AS (SELECT doc_id,
         |    unnest(range(1, CAST(n + 1 AS BIGINT))) AS i FROM hx),
         |raw AS (SELECT s.doc_id, s.i,
         |    (${hv("4*s.i-3")} * 16 + ${hv("4*s.i-2")})
         |    + 256 * (${hv("4*s.i-1")} * 16 + ${hv("4*s.i")}) AS rv
         |  FROM smp s JOIN hx USING (doc_id)),
         |sgn AS (SELECT doc_id, i,
         |    CASE WHEN rv >= 32768 THEN rv - 65536 ELSE rv END AS sv
         |  FROM raw),
         |win AS (SELECT doc_id, CAST((i - 1) // 4 AS BIGINT) AS w,
         |    CAST(sum(CAST(sv AS BIGINT) * sv) AS BIGINT) AS e
         |  FROM sgn GROUP BY doc_id, CAST((i - 1) // 4 AS BIGINT))
         |SELECT doc_id,
         |  CAST(count(*) AS BIGINT) AS n_windows,
         |  CAST(sum(CASE WHEN e < 1200000000 THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_silent,
         |  CAST(max(e) AS BIGINT) AS max_window_energy
         |FROM win GROUP BY doc_id ORDER BY doc_id""".stripMargin
    },
    "q_video2" ->
      """WITH m AS (SELECT doc_id, strlen(text) AS ds FROM documents)
        |SELECT doc_id,
        |  CAST(16 + (ds * 3) % 601 AS INT) AS width,
        |  CAST(16 + (ds * 7) % 401 AS INT) AS height,
        |  CAST(600 + (ds * 11) % 29401 AS INT) AS fps_num,
        |  CAST(1 + ds % 1000 AS INT) AS fps_den,
        |  CAST(1 + ds % 2000 AS BIGINT) AS n_frames,
        |  'mp4' AS format
        |FROM m ORDER BY doc_id""".stripMargin,
    // every raster byte replayed: frame k = first 12 chars of
    // md5(text|k); SAD over consecutive frames via ascii arithmetic
    "q_video4" ->
      """WITH m AS (SELECT doc_id, text,
        |    1 + strlen(text) % 5 AS n FROM documents),
        |ks AS (SELECT doc_id, unnest(range(1, CAST(n + 1 AS BIGINT))) AS k
        |  FROM m),
        |fs AS (SELECT ks.doc_id, ks.k,
        |    substr(md5(m.text || '|' || CAST(ks.k AS VARCHAR)), 1, 12)
        |      AS fstr
        |  FROM ks JOIN m USING (doc_id)),
        |sad AS (SELECT a.doc_id, a.k,
        |    CAST(sum(abs(ascii(substr(a.fstr, i.i, 1))
        |      - ascii(substr(b.fstr, i.i, 1)))) AS BIGINT) AS s
        |  FROM fs a JOIN fs b ON a.doc_id = b.doc_id AND b.k = a.k - 1,
        |       generate_series(1, 12) i(i)
        |  GROUP BY a.doc_id, a.k)
        |SELECT m.doc_id, CAST(m.n AS BIGINT) AS n_frames,
        |  COALESCE(CAST(sum(s.s) AS BIGINT), 0) AS total_sad,
        |  COALESCE(CAST(max(s.s) AS BIGINT), 0) AS max_sad
        |FROM m LEFT JOIN sad s USING (doc_id)
        |GROUP BY m.doc_id, m.n ORDER BY m.doc_id""".stripMargin,
    "q_video3" ->
      """WITH m AS (SELECT doc_id, strlen(text) AS ds FROM documents)
        |SELECT doc_id,
        |  CAST(16 + (ds * 5) % 1201 AS INT) AS width,
        |  CAST(16 + (ds * 9) % 801 AS INT) AS height,
        |  1000000000 AS fps_num,
        |  CAST(25000000 + (ds * 13) % 16666667 AS INT) AS fps_den,
        |  CAST(1 + ds % 5 AS BIGINT) AS n_frames,
        |  'webm' AS format
        |FROM m ORDER BY doc_id""".stripMargin,
    "q_merge_left" ->
      """SELECT o_orderkey, o_totalprice, p_retailprice
        |FROM orders LEFT JOIN part ON o_orderkey = p_partkey
        |ORDER BY o_orderkey""".stripMargin,
    "q_level_join" ->
      """SELECT e.user_id, e.event_id, e.value + c.n AS value
        |FROM events e
        |LEFT JOIN (SELECT user_id, count(*) AS n FROM events GROUP BY 1) c
        |  ON e.user_id = c.user_id
        |ORDER BY e.user_id, e.event_id""".stripMargin,
    "q_asof" ->
      """SELECT l.event_id, r.value AS value_asof
        |FROM (SELECT * FROM events WHERE event_type = 'click') l
        |ASOF LEFT JOIN (SELECT user_id, ts, value FROM events
        |                WHERE event_type = 'purchase') r
        |  ON l.user_id = r.user_id AND l.ts >= r.ts
        |ORDER BY l.event_id""".stripMargin,
    "q_asof_nearest" ->
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
        |FROM m ORDER BY m.event_id""".stripMargin,
    "q_resample" ->
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
        |ORDER BY event_type, bucket""".stripMargin,
    "q_stream_attribution" ->
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
        |FROM lt WHERE rn = 1 ORDER BY conv_id""".stripMargin,
    "q_stream_ohlc" ->
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
        |ORDER BY win_start, event_type""".stripMargin,
    "q_entities" ->
      """WITH RECURSIVE names AS (SELECT p_name AS name,
        |  min(p_partkey) AS id FROM part GROUP BY 1),
        |p AS (SELECT id, name, split_part(name, ' ', 1) AS blk FROM names),
        |ok AS (SELECT blk FROM p GROUP BY blk HAVING count(*) <= 10000),
        |halfedges AS (SELECT a.id AS src, b.id AS dst
        |  FROM p a JOIN p b ON a.blk = b.blk AND a.id < b.id
        |  JOIN ok ON ok.blk = a.blk
        |  WHERE jaro_winkler_similarity(a.name, b.name) >= 0.85),
        |edges AS (SELECT src, dst FROM halfedges
        |  UNION ALL SELECT dst, src FROM halfedges),
        |reach AS (
        |  SELECT DISTINCT src AS node, src AS label FROM edges
        |  UNION
        |  SELECT e.dst, r.label FROM reach r JOIN edges e ON e.src = r.node)
        |SELECT node, min(label) AS label FROM reach
        |GROUP BY node ORDER BY node""".stripMargin,
    "q_isin_str" ->
      """SELECT l_orderkey, l_linenumber,
        | l_returnflag IN ('R','A') AS flag_in,
        | l_quantity BETWEEN 10 AND 20 AS qty_mid,
        | lower(l_linestatus) AS flag_up
        |FROM lineitem ORDER BY l_orderkey, l_linenumber""".stripMargin,
    "q_dt_parts" ->
      """SELECT l_orderkey, l_linenumber,
        | year(l_shipdate) AS y, month(l_shipdate) AS m, day(l_shipdate) AS d
        |FROM lineitem ORDER BY l_orderkey, l_linenumber""".stripMargin,
    "q_text_clean" ->
      """SELECT doc_id,
        | len(trim(regexp_replace(regexp_replace(text, '[\x00-\x1f\x7f]', ' ', 'g'),
        |   '\s+', ' ', 'g'))) AS clean_len,
        | md5(trim(regexp_replace(regexp_replace(text, '[\x00-\x1f\x7f]', ' ', 'g'),
        |   '\s+', ' ', 'g'))) AS clean_md5
        |FROM documents ORDER BY doc_id""".stripMargin,
    "q_unicode_norm" ->
      s"""SELECT doc_id,
        |  nfc_normalize(text || ' café Å naive') AS nfc
        |FROM documents ORDER BY doc_id""".stripMargin,
    "q_word_freq" ->
      """SELECT t.word, count(*) AS freq
        |FROM (SELECT unnest(list_filter(string_split_regex(trim(lower(text)), '\s+'),
        |        w -> len(w) > 0)) AS word FROM documents) t
        |GROUP BY t.word ORDER BY freq DESC, word LIMIT 50""".stripMargin,
    "q_shuffle" ->
      """SELECT event_id FROM events
        |ORDER BY md5(CAST(event_id AS VARCHAR)), event_id
        |LIMIT 100""".stripMargin,
    "q_centroids" ->
      """SELECT label, i AS pos,
        | CAST(sum(CAST(floor(CAST(embedding[i] AS DOUBLE) * 1e9) AS BIGINT)) AS DOUBLE)
        |   / (count(*) * 1e9) AS mean
        |FROM embeddings, generate_series(1, 64) t(i)
        |GROUP BY label, i ORDER BY label, pos""".stripMargin,
    "q_topk_per_group" ->
      """SELECT user_id, rn, event_id, value FROM (
        |  SELECT user_id, event_id, value,
        |    row_number() OVER (PARTITION BY user_id
        |      ORDER BY value DESC, event_id) AS rn
        |  FROM events) t
        |WHERE rn <= 2 ORDER BY user_id, rn""".stripMargin,
    "q_sample_per_key" ->
      """SELECT user_id, event_id FROM (
        |  SELECT user_id, event_id,
        |    row_number() OVER (PARTITION BY user_id
        |      ORDER BY md5(CAST(event_id AS VARCHAR)), event_id) AS rn
        |  FROM events) t
        |WHERE rn <= 3 ORDER BY user_id, event_id""".stripMargin,
    // the streaming bottom-k reservoir shares q_sample_per_key's
    // (md5(id), id) selection at the same k — same oracle
    "q_stream_sample" ->
      """SELECT user_id, event_id FROM (
        |  SELECT user_id, event_id,
        |    row_number() OVER (PARTITION BY user_id
        |      ORDER BY md5(CAST(event_id AS VARCHAR)), event_id) AS rn
        |  FROM events) t
        |WHERE rn <= 3 ORDER BY user_id, event_id""".stripMargin,
    "q_range_join" ->
      """WITH iv AS (
        |  SELECT DISTINCT user_id,
        |    (epoch_ns(ts) // 3600000000000) * 3600000000000 AS s,
        |    (epoch_ns(ts) // 3600000000000) * 3600000000000 + 1800000000000 AS e
        |  FROM events)
        |SELECT e.user_id, iv.s, count(*) AS n_in_window
        |FROM events e JOIN iv
        |  ON e.user_id = iv.user_id AND epoch_ns(e.ts) BETWEEN iv.s AND iv.e
        |GROUP BY e.user_id, iv.s ORDER BY e.user_id, iv.s""".stripMargin,
    "q_interval_join" ->
      """WITH e AS (SELECT user_id, event_id, event_type, epoch_us(ts) AS tsu
        |  FROM events),
        |a AS (SELECT user_id, event_id AS id_a, tsu AS s_a,
        |  tsu + 1800000000 AS e_a FROM e WHERE event_type = 'purchase'),
        |b AS (SELECT user_id, event_id AS id_b, tsu AS s_b,
        |  tsu + 1800000000 AS e_b FROM e WHERE event_type = 'error')
        |SELECT id_a, id_b FROM a JOIN b USING (user_id)
        |WHERE s_a <= e_b AND s_b <= e_a
        |ORDER BY id_a, id_b""".stripMargin,
    "q_pivot" ->
      """SELECT user_id,
        | count(*) FILTER (WHERE event_type = 'click') AS click,
        | count(*) FILTER (WHERE event_type = 'error') AS error,
        | count(*) FILTER (WHERE event_type = 'purchase') AS purchase,
        | count(*) FILTER (WHERE event_type = 'signup') AS signup,
        | count(*) FILTER (WHERE event_type = 'view') AS view
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin,
    "q_json" ->
      """SELECT CAST(json_extract_string(props, '$.k') AS INT) AS k, count(*) AS n
        |FROM events GROUP BY 1 ORDER BY k""".stripMargin,
    "q_rank" ->
      """SELECT event_id,
        | rank() OVER (PARTITION BY user_id ORDER BY value, event_id) AS rnk
        |FROM events ORDER BY event_id""".stripMargin,
    "q_rank_methods" ->
      """SELECT event_id,
        | rank() OVER w AS rnk,
        | dense_rank() OVER w AS drnk,
        | round(percent_rank() OVER w, 9) AS prnk,
        | ntile(4) OVER (PARTITION BY user_id
        |   ORDER BY CAST(floor(value / 10) AS BIGINT), event_id) AS tile
        |FROM events
        |WINDOW w AS (PARTITION BY user_id ORDER BY CAST(floor(value / 10) AS BIGINT))
        |ORDER BY event_id""".stripMargin,
    "q_rolling_time" ->
      """SELECT event_id,
        | CAST(sum(CAST(value AS DECIMAL(18,6))) OVER (
        |   PARTITION BY user_id ORDER BY epoch_us(ts)
        |   RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW) AS DOUBLE) AS hsum
        |FROM events ORDER BY event_id""".stripMargin,
    "q_approx_distinct" ->
      """SELECT event_type, count(DISTINCT user_id) AS n_exact,
        | TRUE AS approx_ok
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    "q_round" ->
      """SELECT l_orderkey, l_linenumber, round(l_extendedprice, 1) AS l_extendedprice
        |FROM lineitem ORDER BY l_orderkey, l_linenumber""".stripMargin,
    "q_set_ops" ->
      """SELECT DISTINCT l_quantity, l_returnflag FROM lineitem WHERE l_quantity > 40
        |INTERSECT
        |SELECT DISTINCT l_quantity, l_returnflag FROM lineitem WHERE l_returnflag = 'R'
        |ORDER BY l_quantity, l_returnflag""".stripMargin,
    "q_stream_window" ->
      """SELECT CAST(epoch(date_trunc('hour', ts)) AS BIGINT) AS win_start,
        | event_type, count(*) AS n,
        | CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total
        |FROM events GROUP BY 1, 2 ORDER BY win_start, event_type""".stripMargin,
    "q_stream_validate" ->
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
        |ORDER BY win_start, rule, col_name""".stripMargin,
    "q_stream_ks" ->
      s"""WITH ${GraftStreaming.ksDriftOracleSelect("value",
             refWhere = "event_id % 2 = 0", lo = 0L, hi = 500L, bins = 10)}
         |SELECT CAST(epoch(win) AS BIGINT) AS win_start, n, ks
         |FROM scored ORDER BY win_start""".stripMargin,
    "q_stream_psi" ->
      s"""WITH ${GraftStreaming.psiDriftOracleSelect("value",
             refWhere = "event_id % 2 = 0", lo = 0L, hi = 500L, bins = 10)}
         |SELECT CAST(epoch(win) AS BIGINT) AS win_start, n, psi
         |FROM scored ORDER BY win_start""".stripMargin,
    "q_stream_auc" ->
      s"""WITH ${GraftStreaming.aucStreamOracleSelect("value",
             "event_type = 'click'", lo = 0L, hi = 500L, bins = 20)}
         |SELECT CAST(epoch(win) AS BIGINT) AS win_start, n_pos, n_neg,
         |  round(auc, 9) AS auc
         |FROM scored ORDER BY win_start""".stripMargin,
    "q_stream_confusion" ->
      s"""WITH ${GraftStreaming.confusionOracleSelect("value > 250.0",
             "(event_id % 1000) >= 500")}
         |SELECT CAST(epoch(win) AS BIGINT) AS win_start, n, tp, fp, fn,
         |  tn, round(prec, 9) AS prec, round(rec, 9) AS rec,
         |  round(f1, 9) AS f1, round(acc, 9) AS acc
         |FROM scored ORDER BY win_start""".stripMargin,
    // the batch replay of the streamed release: same hour windows,
    // same (seed|n|win_start) PRF key, same Laplace inverse CDF
    "q_stream_dp" -> {
      import graft.operators.Privacy
      s"""WITH b AS (SELECT CAST(epoch(date_trunc('hour', ts)) AS BIGINT)
         |      AS win_start, count(*) AS n FROM events GROUP BY 1)
         |SELECT win_start, round(CAST(n AS DOUBLE) +
         |    ${Privacy.laplaceNoiseSqlExpr(
               "'graft-r11' || '|' || 'n' || '|' || CAST(win_start AS VARCHAR)",
               1.0)}, 6) AS n_dp
         |FROM b ORDER BY win_start""".stripMargin
    },
    // append mode publishes only watermark-CLOSED windows: the same
    // noisy series, restricted to window end ≤ max event time − 1 h
    "q_stream_dp2" -> {
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
    },
    "q_stream_enrich" ->
      """WITH e AS (SELECT ev.event_id, ev.value,
        |    COALESCE(c.c_mktsegment, 'UNKNOWN') AS segment
        |  FROM events ev LEFT JOIN customer c ON ev.user_id = c.c_custkey)
        |SELECT segment, count(*) AS n,
        |  CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total
        |FROM e GROUP BY segment ORDER BY segment""".stripMargin,
    "q_stream_heavy" ->
      """WITH c AS (SELECT event_type, count(*) AS cnt FROM events GROUP BY 1)
        |SELECT CAST(row_number() OVER (ORDER BY cnt DESC, event_type) AS INT)
        |    AS rank, event_type, cnt
        |FROM c ORDER BY rank LIMIT 5""".stripMargin,
    "q_stream_trending" ->
      """WITH b AS (SELECT CAST(epoch(date_trunc('hour', ts)) AS BIGINT)
        |    AS win_start, event_type, count(*) AS n
        |  FROM events GROUP BY 1, 2),
        |r AS (SELECT win_start, event_type, n,
        |    CAST(row_number() OVER (PARTITION BY win_start
        |      ORDER BY n DESC, event_type) AS INTEGER) AS rank FROM b)
        |SELECT win_start, rank, event_type, n FROM r WHERE rank <= 2
        |ORDER BY win_start, rank""".stripMargin,
    "q_url_norm" -> {
      import graft.operators.UrlOps
      s"""WITH u AS (SELECT event_id, ${UrlOps.syntheticUrlSqlExpr} AS raw FROM events)
         |SELECT event_id,
         |  ${UrlOps.normalizeUrlSqlExpr("raw")} AS url,
         |  ${UrlOps.hostSqlExpr("raw")} AS host,
         |  ${UrlOps.urlDomainSqlExpr("raw")} AS domain
         |FROM u ORDER BY event_id""".stripMargin
    },
    "q_domain_stats" -> {
      import graft.operators.UrlOps
      s"""WITH u AS (SELECT ${UrlOps.syntheticUrlSqlExpr} AS raw FROM events),
         |d AS (SELECT ${UrlOps.urlDomainSqlExpr("raw")} AS domain,
         |        len(raw) AS nc FROM u)
         |SELECT domain, count(*) AS n_docs, CAST(sum(nc) AS BIGINT) AS n_chars
         |FROM d WHERE NOT (domain IN ('example.org'))
         |GROUP BY domain ORDER BY domain""".stripMargin
    },
    "q_domain_stats2" -> {
      import graft.operators.{PublicSuffix, UrlOps}
      s"""WITH h AS (SELECT ${UrlOps.syntheticPslHostSqlExpr} AS host
         |  FROM events),
         |${PublicSuffix.registeredDomainPslOracleCtes("host", "h")},
         |d AS (SELECT r.domain, len(h.host) AS nc
         |  FROM h JOIN psl_reg r USING (host))
         |SELECT domain, count(*) AS n_docs, CAST(sum(nc) AS BIGINT) AS n_chars
         |FROM d GROUP BY domain ORDER BY domain""".stripMargin
    },
    "q_domain_cap" -> {
      import graft.operators.UrlOps
      s"""WITH u AS (SELECT event_id, ${UrlOps.syntheticUrlSqlExpr} AS raw FROM events),
         |d AS (SELECT event_id, ${UrlOps.urlDomainSqlExpr("raw")} AS domain FROM u),
         |r AS (SELECT domain, event_id,
         |        row_number() OVER (PARTITION BY domain
         |          ORDER BY md5(CAST(event_id AS VARCHAR)), event_id) AS rn
         |      FROM d)
         |SELECT domain, event_id FROM r WHERE rn <= 300
         |ORDER BY domain, event_id""".stripMargin
    },
    "q_pagerank" -> {
      import graft.operators.{GraphOps, UrlOps}
      s"""WITH u AS (SELECT ${UrlOps.hostSqlExpr(UrlOps.syntheticUrlSqlExpr)} AS src,
         |        ${UrlOps.syntheticLinkHostSqlExpr} AS dst FROM events),
         |e AS (SELECT src, dst, CAST(count(*) AS BIGINT) AS w FROM u
         |      WHERE src <> dst GROUP BY src, dst),
         |${GraphOps.pageRankNanoOracleCtes(iters = 3)}
         |SELECT node AS host, r AS rank_nano FROM r3
         |ORDER BY rank_nano DESC, host""".stripMargin
    },
    "q_trustrank" -> {
      import graft.operators.{GraphOps, UrlOps}
      s"""WITH u AS (SELECT ${UrlOps.hostSqlExpr(UrlOps.syntheticUrlSqlExpr)} AS src,
         |        ${UrlOps.syntheticLinkHostSqlExpr} AS dst FROM events),
         |e AS (SELECT src, dst, CAST(count(*) AS BIGINT) AS w FROM u
         |      WHERE src <> dst GROUP BY src, dst),
         |seeds AS (SELECT DISTINCT src AS node FROM u WHERE src LIKE 'www.news%'),
         |${GraphOps.pageRankNanoOracleCtes(iters = 3, seeded = true)}
         |SELECT node AS host, r AS rank_nano FROM r3
         |ORDER BY rank_nano DESC, host""".stripMargin
    },
    // the oracle REPLAYS every transition: same distinct edge set, same
    // md5 key per (walk, step, neighbor), same (md5, dst) total order
    "q_walks" -> {
      import graft.operators.{GraphOps, UrlOps}
      s"""WITH u AS (SELECT ${UrlOps.hostSqlExpr(UrlOps.syntheticUrlSqlExpr)} AS src,
         |        ${UrlOps.syntheticLinkHostSqlExpr} AS dst FROM events),
         |e AS (SELECT DISTINCT src, dst FROM u WHERE src <> dst),
         |${GraphOps.deterministicWalksOracleCtes(steps = 4, walksPerNode = 2)}
         |SELECT walk_id, step, node FROM walks
         |ORDER BY walk_id, step""".stripMargin
    },
    // the full DeepWalk chain replayed: walks CTEs -> pair CTEs -> the
    // SGNS trajectory unrolled (md5 init, md5 negatives, DECIMAL sums,
    // q9 updates) — three generators COMPOSED, like q_textrank
    "q_node2vec" -> {
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
    },
    // the warm-started two-phase Spark run must equal this COLD
    // 2-iteration replay with the weighted negative table — iteration
    // composition and the unigram^0.75 draw verified in one hash
    "q_node2vec2" -> {
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
    },
    // same discard set, same thinned-pair trajectory: the subsample
    // CTEs feed sgns through its pairsRel hook
    "q_node2vec3" -> {
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
    },
    "q_link_stats" -> {
      import graft.operators.UrlOps
      s"""WITH u AS (SELECT ${UrlOps.hostSqlExpr(UrlOps.syntheticUrlSqlExpr)} AS src,
         |        ${UrlOps.syntheticLinkHostSqlExpr} AS dst FROM events),
         |e AS (SELECT src, dst, CAST(count(*) AS BIGINT) AS w FROM u
         |      WHERE src <> dst GROUP BY src, dst),
         |o AS (SELECT src AS host, CAST(count(*) AS BIGINT) AS out_deg,
         |        CAST(sum(w) AS BIGINT) AS out_w FROM e GROUP BY src),
         |i AS (SELECT dst AS host, CAST(count(*) AS BIGINT) AS in_deg,
         |        CAST(sum(w) AS BIGINT) AS in_w FROM e GROUP BY dst)
         |SELECT host, COALESCE(out_deg, 0) AS out_deg, COALESCE(out_w, 0) AS out_w,
         |  COALESCE(in_deg, 0) AS in_deg, COALESCE(in_w, 0) AS in_w
         |FROM o FULL OUTER JOIN i USING (host)
         |ORDER BY host""".stripMargin
    },
    "q_hits" -> {
      import graft.operators.{GraphOps, UrlOps}
      s"""WITH u AS (SELECT ${UrlOps.hostSqlExpr(UrlOps.syntheticUrlSqlExpr)} AS src,
         |        ${UrlOps.syntheticLinkHostSqlExpr} AS dst FROM events),
         |e AS (SELECT src, dst, CAST(count(*) AS BIGINT) AS w FROM u
         |      WHERE src <> dst GROUP BY src, dst),
         |${GraphOps.hitsNanoOracleCtes(iters = 3)}
         |SELECT n.node AS host, COALESCE(h3.h, 0) AS hub_nano,
         |  COALESCE(a3.a, 0) AS auth_nano
         |FROM n LEFT JOIN h3 ON n.node = h3.node
         |       LEFT JOIN a3 ON n.node = a3.node
         |ORDER BY auth_nano DESC, host""".stripMargin
    },
    "q_communities" -> {
      import graft.operators.{GraphOps, UrlOps}
      s"""WITH u AS (SELECT ${UrlOps.hostSqlExpr(UrlOps.syntheticUrlSqlExpr)} AS src,
         |        ${UrlOps.syntheticLinkHostSqlExpr} AS dst FROM events),
         |e AS (SELECT src, dst, CAST(count(*) AS BIGINT) AS w FROM u
         |      WHERE src <> dst GROUP BY src, dst),
         |${GraphOps.labelPropagationOracleCtes(iters = 3)}
         |SELECT node AS host, lbl AS community FROM l3
         |ORDER BY community, host""".stripMargin
    },
    "q_triangles" -> {
      import graft.operators.{GraphOps, UrlOps}
      s"""WITH u AS (SELECT ${UrlOps.hostSqlExpr(UrlOps.syntheticUrlSqlExpr)} AS src,
         |        ${UrlOps.syntheticLinkHostSqlExpr} AS dst FROM events),
         |e0 AS (SELECT src, dst FROM u),
         |${GraphOps.triangleCountsOracleCtes},
         |p AS (SELECT node, CAST(count(*) AS BIGINT) AS triangles FROM
         |    (SELECT p AS node FROM tri
         |     UNION ALL SELECT x FROM tri
         |     UNION ALL SELECT y FROM tri) GROUP BY node)
         |SELECT deg.node AS host, deg.deg, COALESCE(p.triangles, 0) AS triangles
         |FROM deg LEFT JOIN p ON deg.node = p.node
         |ORDER BY host""".stripMargin
    },
    "q_textrank" -> {
      import graft.operators.GraphOps
      s"""WITH ts AS (SELECT row_number() OVER () AS did,
         |    list_filter(string_split_regex(trim(text), '\\s+'),
         |                w -> len(w) > 0) AS ts FROM documents),
         |tok AS (SELECT did, generate_subscripts(ts, 1) AS pos, unnest(ts) AS t
         |  FROM ts),
         |big AS (SELECT a.t AS w1, b.t AS w2, CAST(count(*) AS BIGINT) AS pair_cnt
         |  FROM tok a JOIN tok b ON a.did = b.did AND b.pos = a.pos + 1
         |  GROUP BY a.t, b.t),
         |e AS (SELECT w1 AS src, w2 AS dst, pair_cnt AS w FROM big
         |      WHERE w1 <> w2),
         |${GraphOps.pageRankNanoOracleCtes(iters = 3)}
         |SELECT node AS token, r AS rank_nano FROM r3
         |ORDER BY rank_nano DESC, token""".stripMargin
    },
    "q_pmi" -> {
      s"""WITH base AS (SELECT text FROM documents),
         |${graft.operators.TextAnalysis.pmiBigramsOracleCtes(minCount = 5)}
         |SELECT w1, w2, pair_cnt, pmi FROM scored
         |ORDER BY pmi DESC, w1, w2""".stripMargin
    },
    "q_emb_stats" ->
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
        |FROM s ORDER BY pos""".stripMargin,
    "q_emb_center" ->
      """WITH e AS (SELECT vec_id, generate_subscripts(embedding, 1) AS pos,
        |             CAST(unnest(embedding) AS DOUBLE) AS x FROM embeddings),
        |m AS (SELECT pos, CAST(sum(CAST(floor(x * 1e9) AS BIGINT)) AS DOUBLE)
        |        / (count(*) * 1e9) AS mean FROM e GROUP BY pos)
        |SELECT e.vec_id, e.pos,
        |  CAST(floor((e.x - m.mean) * 1e6) AS BIGINT) AS c6
        |FROM e JOIN m USING (pos) ORDER BY vec_id, pos""".stripMargin,
    "q_emb_unit" ->
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
        |FROM a ORDER BY vec_id""".stripMargin,
    "q_zorder" ->
      s"""SELECT event_id,
         |  ${graft.operators.ZOrder.zValueSqlExpr(
               "(user_id % 64)", "(event_id % 64)", 6)} AS z
         |FROM events ORDER BY event_id""".stripMargin,
    "q_power_iter" -> Similarity.powerIterationOracleSql(dim = 64, iters = 3),
    "q_bpe_pairs" ->
      """WITH t AS (SELECT unnest(list_filter(
        |        string_split_regex(trim(lower(text)), '\s+'),
        |        w -> len(w) > 0)) AS w FROM documents),
        |f AS (SELECT w, count(*) AS freq FROM t GROUP BY w),
        |p AS (SELECT substring(w, i, 2) AS pair, freq FROM (
        |        SELECT w, freq, unnest(range(1, len(w))) AS i
        |        FROM f WHERE len(w) >= 2) s)
        |SELECT pair, CAST(sum(freq) AS BIGINT) AS cnt FROM p GROUP BY pair
        |ORDER BY cnt DESC, pair LIMIT 40""".stripMargin,
    "q_bpe_encode" -> {
      val toks = graft.operators.TextAnalysis
        .bpeEncodeOracleSqlExpr("text", BpeMerges)
      s"""SELECT doc_id, len($toks) AS n_tokens,
         |  array_to_string(($toks)[1:12], ' ') AS head_tokens
         |FROM documents ORDER BY doc_id""".stripMargin
    },
    "q_group_linfit" -> {
      val inner = graft.operators.Regression.groupLinearFitOracleSql(
        "user_id", "CAST(epoch_ns(ts) AS DOUBLE) / 3.6e12", "CAST(value AS DOUBLE)",
        "events")
      s"""SELECT user_id, n, round(slope, 9) AS slope,
         |  round(intercept, 6) AS intercept, round(r2, 9) AS r2
         |FROM ($inner) ORDER BY user_id""".stripMargin
    },
    "q_hard_neg" ->
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
        |FROM ranked WHERE rank <= 5 ORDER BY anchor_id, rank""".stripMargin,
    "q_neg_sample" -> {
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
    },
    "q_ewma" -> {
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
    },
    "q_transitions" ->
      """WITH e AS (SELECT user_id, event_type, epoch_us(ts) AS tsu, event_id
        |  FROM events),
        |p AS (SELECT event_type AS src,
        |  lead(event_type) OVER (PARTITION BY user_id ORDER BY tsu, event_id)
        |    AS dst FROM e)
        |SELECT src, dst, count(*) AS n FROM p WHERE dst IS NOT NULL
        |GROUP BY src, dst ORDER BY src, dst""".stripMargin,
    "q_transition_entropy" ->
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
        |FROM tc GROUP BY src ORDER BY src""".stripMargin,
    "q_interarrival" ->
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
        |ORDER BY event_type""".stripMargin,
    // exact side identical to q_interarrival; the approx claim is
    // Spark's to prove (oracle asserts it TRUE)
    "q_interarrival_approx" ->
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
        |ORDER BY event_type""".stripMargin,
    // group sizes recomputed; the per-row within-tolerance claim is
    // Spark's to prove (oracle pins approx_ok TRUE)
    "q_robust_z_approx" ->
      """SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n,
        |  TRUE AS approx_ok
        |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin,
    // exact side recomputed; the within-tolerance claim is Spark's to
    // prove (oracle pins approx_ok TRUE)
    "q_outliers_approx" ->
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
        |GROUP BY d.event_type ORDER BY d.event_type""".stripMargin,
    "q_outliers" ->
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
        |GROUP BY d.event_type ORDER BY d.event_type""".stripMargin,
    "q_calibration" ->
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
        |FROM agg ORDER BY bin""".stripMargin,
    "q_attribution" ->
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
        |FROM c GROUP BY event_type ORDER BY event_type""".stripMargin,
    "q_survival" ->
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
        |FROM km WHERE d > 0 ORDER BY t""".stripMargin,
    "q_fd" -> {
      s"""WITH fd AS (
         |${graft.operators.Profile.functionalDepsOracleSql("part",
              Seq(("p_partkey", "p_brand"), ("p_partkey", "p_type"),
                ("p_size", "p_type")))})
         |SELECT * FROM fd ORDER BY lhs, rhs""".stripMargin
    },
    "q_seasonal" ->
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
        |FROM j ORDER BY event_id""".stripMargin,
    "q_paths3" ->
      """WITH e AS (SELECT user_id, event_type, epoch_us(ts) AS tsu, event_id
        |  FROM events),
        |p AS (SELECT event_type AS t1,
        |  lead(event_type, 1) OVER (PARTITION BY user_id ORDER BY tsu, event_id)
        |    AS t2,
        |  lead(event_type, 2) OVER (PARTITION BY user_id ORDER BY tsu, event_id)
        |    AS t3 FROM e)
        |SELECT t1, t2, t3, count(*) AS n FROM p WHERE t3 IS NOT NULL
        |GROUP BY t1, t2, t3 ORDER BY t1, t2, t3""".stripMargin,
    "q_covisit" -> {
      import graft.operators.{GraphOps, UrlOps}
      s"""WITH rel AS (SELECT user_id AS k,
         |        ${UrlOps.hostSqlExpr(UrlOps.syntheticUrlSqlExpr)} AS item
         |      FROM events),
         |${GraphOps.coVisitationOracleCtes(maxPerKey = 10)}
         |SELECT item_a, item_b, n FROM pairs
         |ORDER BY item_a, item_b""".stripMargin
    },
    "q_psi" -> {
      import graft.operators.Drift
      s"""WITH da AS (SELECT n_chars AS v FROM documents WHERE lang = 'en'),
         |db AS (SELECT n_chars AS v FROM documents WHERE lang <> 'en'),
         |${Drift.psiOracleCtes(lo = 0L, hi = 600L, bins = 12)}
         |SELECT bin, c_a, c_b, psi_term, psi_total FROM scored
         |ORDER BY bin""".stripMargin
    },
    "q_ks" -> {
      import graft.operators.Drift
      s"""WITH da AS (SELECT n_chars AS v FROM documents WHERE lang = 'en'),
         |db AS (SELECT n_chars AS v FROM documents WHERE lang <> 'en'),
         |${Drift.ksOracleCtes(lo = 0L, hi = 600L, bins = 12)}
         |SELECT bin, c_a, c_b, d_num, ks FROM scored
         |ORDER BY bin""".stripMargin
    },
    "q_kcore" -> {
      import graft.operators.{GraphOps, UrlOps}
      s"""WITH u0 AS (SELECT 'u' || CAST(user_id AS VARCHAR) AS src,
         |        ${UrlOps.hostSqlExpr(UrlOps.syntheticUrlSqlExpr)} AS dst
         |      FROM events WHERE event_id % 7 = 0),
         |e0 AS (SELECT src, dst FROM u0),
         |${GraphOps.kCoreOracleCtes(k = 3, rounds = 3)}
         |SELECT node, deg FROM d3 ORDER BY node""".stripMargin
    },
    "q_active_users" ->
      """WITH acts AS (SELECT DISTINCT user_id AS u,
        |    epoch_us(ts) // 86400000000 AS p FROM events),
        |days AS (SELECT DISTINCT p FROM acts)
        |SELECT d.p AS period, count(DISTINCT a.u) AS n_active
        |FROM days d JOIN acts a ON a.p BETWEEN d.p - 6 AND d.p
        |GROUP BY d.p ORDER BY period""".stripMargin,
    "q_scd2" ->
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
        |  coalesce(valid_to, 9223372036854775807)""".stripMargin,
    "q_cube" ->
      """SELECT coalesce(l_returnflag, 'ALL') AS rf,
        |  coalesce(l_linestatus, 'ALL') AS ls,
        |  count(*) AS n,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS qty
        |FROM lineitem GROUP BY CUBE(l_returnflag, l_linestatus)
        |ORDER BY rf, ls""".stripMargin,
    "q_incr_agg" ->
      """SELECT user_id, count(value) AS n,
        |  CAST(sum(CAST(value AS DECIMAL(38,6))) AS DOUBLE) AS total
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin,
    "q_hll_merge" ->
      """SELECT event_type, count(DISTINCT user_id) AS n_exact,
        |  TRUE AS approx_ok
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    // one-shot recomputation of the binned readout — merge-invisibility
    // is the property under test
    "q_incr_hist" ->
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
        |FROM c GROUP BY event_type ORDER BY event_type""".stripMargin,
    "q_approx_quantile" ->
      """SELECT event_type, round(quantile_cont(value, 0.5), 9) AS p50_exact,
        |  TRUE AS approx_ok
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    "q_stream_ewma" -> {
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
    },
    "q_decontaminate" -> DecontaminateOracle,
    // stream ≡ batch report is the whole claim — one shared oracle
    // expresses it structurally
    "q_stream_decontaminate" -> DecontaminateOracle,
    // CUSUM via the same reflection identity, on the same nano integer
    // units (sums of BIGINT run in HUGEINT here, DECIMAL(38,0) in
    // Spark — both exact); t9+k9 = 185e9, t9-k9 = 145e9, h9 = 500e9
    "q_cusum" ->
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
        |FROM m ORDER BY user_id, event_id""".stripMargin,
    // the batch CUSUM replay restricted to alarm rows — the stream's
    // emission set under alarmsOnly
    "q_stream_cusum" ->
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
        |ORDER BY user_id, event_id""".stripMargin,
    "q_rolling_median" ->
      """WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS tsu, value
        |  FROM events)
        |SELECT user_id, event_id,
        |  round(quantile_cont(CAST(value AS DOUBLE), 0.5) OVER
        |    (PARTITION BY user_id ORDER BY tsu, event_id
        |     ROWS BETWEEN 14 PRECEDING AND CURRENT ROW), 6) AS rmed
        |FROM e ORDER BY user_id, event_id""".stripMargin,
    // rolling autocorrelation: identical decimal casts and double
    // combination as WindowOps.rollingCorr, lag-1 y in a prior CTE
    "q_rolling_corr" ->
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
        |FROM c ORDER BY user_id, event_id""".stripMargin,
    // ONE tombstone-replay oracle serves both CDC gates — the stream's
    // compacted emissions ARE the batch snapshot
    "q_cdc" -> CdcOracleSql,
    "q_stream_cdc" -> CdcOracleSql,
    // NATIVE session_window sessions ≡ the batch gap-split recursion:
    // an event extends a session while diff <= gap (INCLUSIVE — a
    // planted boundary spec pins that diff == gap MERGES),
    // session_end = last event + gap, second-truncated times
    "q_stream_sessions_native" ->
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
        |ORDER BY user_id, session_start""".stripMargin,
    // gains/lift: quantile_cont edges ≡ Spark exact percentile
    // (q_group_quantile proved the parity), strictly-above indicator
    // bands, integer sums cast before the mirrored double divisions
    "q_gains" ->
      s"""WITH $GainsBandsCtes
         |SELECT bucket, n, n_pos, cum_n, cum_pos,
         |  CASE WHEN tp > 0
         |    THEN round(CAST(cum_pos AS DOUBLE) / tp, 6) END AS gain,
         |  CASE WHEN tp > 0
         |    THEN round((CAST(cum_pos AS DOUBLE) / cum_n)
         |      / (CAST(tp AS DOUBLE) / tn), 6) END AS lift
         |FROM f ORDER BY bucket""".stripMargin,
    // exact bands identical to q_gains; the approx-banding claim is
    // Spark's to prove (oracle asserts it TRUE)
    "q_gains_approx" ->
      s"""WITH $GainsBandsCtes
         |SELECT bucket, n, n_pos, cum_n, cum_pos,
         |  CASE WHEN tp > 0
         |    THEN round(CAST(cum_pos AS DOUBLE) / tp, 6) END AS gain,
         |  CASE WHEN tp > 0
         |    THEN round((CAST(cum_pos AS DOUBLE) / cum_n)
         |      / (CAST(tp AS DOUBLE) / tn), 6) END AS lift,
         |  TRUE AS approx_ok
         |FROM f ORDER BY bucket""".stripMargin,
    // the same band CTEs rolled up to one trapezoid number — the gini
    // arithmetic mirrors Profile.giniFromGains op for op
    "q_gini" ->
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
         |FROM seg""".stripMargin,
    "q_pii" -> PiiOracle,
    "q_kanon" -> Privacy.kAnonymityOracleSql("events",
      Seq("event_type" -> "event_type",
        "CAST(floor(value / 100) AS BIGINT)" -> "vb"),
      sensitive = "user_id", k = 50, l = 20),
    // suppression mirrored as the same window count; decimal-exact sum
    // before the double presentation (the q_groupby_agg convention)
    "q_kanon_suppress" ->
      """WITH g AS (SELECT *, count(*) OVER
        |    (PARTITION BY event_type, CAST(floor(value / 100) AS BIGINT))
        |    AS n_class FROM events)
        |SELECT event_type, count(*) AS n,
        |  count(DISTINCT user_id) AS n_users,
        |  round(CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE), 6)
        |    AS total
        |FROM g WHERE n_class >= 50
        |GROUP BY event_type ORDER BY event_type""".stripMargin,
    // the oracle replays the RELEASE term for term: same DECIMAL(38,6)
    // clipped sum, same 48-bit md5 fold, same Laplace inverse CDF
    "q_dp_release" ->
      s"""SELECT event_type, round(n_dp, 6) AS n_dp,
         |  round(sum_dp, 6) AS sum_dp
         |FROM (${Privacy.dpReleaseOracleSql("events", "event_type",
               "event_type", "value", lo = 0.0, hi = 500.0,
               epsCount = 1.0, epsSum = 0.5, seed = "graft-r11")}) r
         |ORDER BY event_type""".stripMargin,
    "q_datasheet" ->
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
        |ORDER BY metric""".stripMargin,
    // Wilson interval mirrored closed-form on the same (n, s) integers
    "q_wilson" ->
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
        |FROM g ORDER BY event_type""".stripMargin,
    "q_woe" ->
      s"""WITH r AS (SELECT * FROM documents
         |  WHERE n_chars IS NOT NULL AND lang IS NOT NULL)
         |SELECT cat, n, n_pos, n_neg, round(woe, 6) AS woe,
         |  round(iv, 9) AS iv FROM (
         |${graft.operators.FeatureEng.woeOracleSql("r",
             "CAST(floor(n_chars / 250) AS BIGINT)", "lang = 'en'")}
         |) ORDER BY cat""".stripMargin,
    "q_target_encode" ->
      s"""SELECT id, cat, round(te, 9) AS te FROM (
         |${graft.operators.FeatureEng.targetEncodeOracleSql("documents",
             "doc_id", "lang", "n_chars % 1000 >= 500", 10.0)}
         |) ORDER BY id""".stripMargin,
    "q_quantile_norm" ->
      s"""SELECT id AS event_id, g AS event_type, round(v, 6) AS value,
         |  round(qn, 6) AS qn FROM (
         |${graft.operators.FeatureEng.quantileNormalizeOracleSql("events",
             "event_id", "event_type", "value", lo = 0.0, hi = 500.0,
             bins = 50)}
         |) ORDER BY event_id""".stripMargin,
    "q_incr_distinct" ->
      """SELECT event_type, count(DISTINCT user_id) AS n_exact,
        |  TRUE AS approx_ok
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,
    // the full curation chain recomposed from the stage oracles:
    // quality expr ∘ fingerprint min-id dedup ∘ shingle-intersection
    // decontamination ∘ token count
    "q_curation" -> CurationOracle,
    // the stream's drained canonical winners compact to exactly the
    // batch curation result — one shared oracle expresses it
    // structurally (the DecontaminateOracle pattern)
    "q_stream_curation" -> CurationOracle,
    // the SCD2 compaction (q_scd2's CTE chain on the purchase-tier
    // attr) interval-joined to the click log at click time
    "q_stream_pit" ->
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
        |ORDER BY k.user_id, k.event_id""".stripMargin,
    // exact per-window distinct recomputed from scratch; the honesty
    // claim is the literal TRUE the Spark side must reproduce
    "q_stream_distinct" ->
      """WITH e AS (SELECT epoch_us(ts) // 1000000 AS tss, event_type,
        |    user_id FROM events)
        |SELECT (tss // 3600) * 3600 AS win_start, event_type,
        |  count(DISTINCT user_id) AS n_exact, TRUE AS approx_ok
        |FROM e GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    // the q_seasonal CTEs extended with per-phase median/MAD (the
    // q_robust_z arithmetic) — anomaly tested on the UNROUNDED z
    "q_anomaly" ->
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
        |FROM w JOIN d USING (phase) ORDER BY event_id""".stripMargin,
    "q_covisit_lift" -> {
      import graft.operators.{GraphOps, UrlOps}
      s"""WITH rel AS (SELECT user_id AS k,
         |        ${UrlOps.hostSqlExpr(UrlOps.syntheticUrlSqlExpr)} AS item
         |      FROM events),
         |${GraphOps.coVisitationLiftOracleCtes(maxPerKey = 10, minSupport = 2L)}
         |SELECT item_a, item_b, n, round(lift, 9) AS lift FROM lifted
         |ORDER BY item_a, item_b""".stripMargin
    },
    "q_emb_drift" -> {
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
    },
    "q_cross_spans" -> {
      s"""WITH trainr AS (SELECT doc_id AS train_id, text FROM documents),
         |evalr AS (SELECT doc_id + 500000 AS eval_id, text FROM documents
         |  WHERE doc_id % 37 = 0),
         |${graft.operators.Dedup.crossSpansOracleSql(
             minTokens = 8, maxEvalWindowFreq = 1000)}
         |ORDER BY train_id, eval_id, start_train, start_eval""".stripMargin
    },
    "q_profile_drift" -> {
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
    },
    // exact Mann-Whitney AUC mirrored on the same integer pair counts
    "q_auc" ->
      s"""SELECT n_pos, n_neg, round(auc, 9) AS auc FROM (
         |${graft.operators.Eval.aucRocOracleSql("events",
             "CAST(event_id % 1000 AS DOUBLE) / 1000.0", "value > 250.0")}
         |)""".stripMargin,
    "q_class_report" ->
      s"""SELECT slice, n, tp, fp, fn, tn,
         |  round(prec, 9) AS prec, round(rec, 9) AS rec,
         |  round(f1, 9) AS f1, round(acc, 9) AS acc,
         |  round(mcc, 9) AS mcc FROM (
         |${graft.operators.Eval.classificationReportOracleSql("documents",
             "lang = 'en'", "(n_chars % 1000) >= 500", "source")}
         |) ORDER BY slice""".stripMargin,
    "q_ranking" ->
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
         |) ORDER BY query""".stripMargin,
    "q_kappa" ->
      s"""SELECT n, round(observed_agreement, 9) AS observed_agreement,
         |  round(expected_agreement, 9) AS expected_agreement,
         |  round(kappa, 9) AS kappa FROM (
         |${graft.operators.Eval.cohenKappaOracleSql("documents", "lang",
             "CASE WHEN doc_id % 5 = 0 THEN 'en' ELSE lang END")}
         |)""".stripMargin,
    "q_nb" ->
      s"""WITH d AS (SELECT * FROM documents WHERE lang IS NOT NULL),
         |tr AS (SELECT lang AS label, text FROM d WHERE doc_id % 2 = 0),
         |te AS (SELECT doc_id, lang, text FROM d WHERE doc_id % 2 = 1),
         |${graft.operators.TextAnalysis.nbOracleSql}
         |SELECT te.lang, pred.pred, count(*) AS n
         |FROM pred JOIN te USING (doc_id)
         |GROUP BY te.lang, pred.pred ORDER BY lang, pred""".stripMargin,
    "q_kn_lm" ->
      s"""WITH tr AS (SELECT text FROM documents WHERE doc_id % 2 = 0),
         |te AS (SELECT doc_id, text FROM documents WHERE doc_id % 2 = 1),
         |${graft.operators.TextAnalysis.knOracleSql(discount = 0.75)}
         |SELECT doc_id, n_bigrams, round(logprob, 9) AS logprob,
         |  round(ppl, 6) AS ppl
         |FROM kn ORDER BY doc_id""".stripMargin,
    "q_chi2_tokens" ->
      s"""WITH d AS (SELECT doc_id AS did, lang AS label, text
         |  FROM documents WHERE lang IS NOT NULL),
         |${graft.operators.TextAnalysis.chiSquareOracleSql("d", minDf = 5L)}
         |SELECT label, rank, token, n_label_token,
         |  round(chi2, 6) AS chi2
         |FROM ranked WHERE rank <= 10 ORDER BY label, rank""".stripMargin,
    "q_jsd" ->
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
         |FROM jsd""".stripMargin,
    "q_fleiss" ->
      s"""SELECT n_items, n_raters, round(p_bar, 9) AS p_bar,
         |  round(p_e, 9) AS p_e, round(kappa, 9) AS kappa
         |FROM (
         |${graft.operators.Eval.fleissKappaOracleSql("events",
             "event_id % 150", "event_type", "event_id", n = 5)}
         |)""".stripMargin,
    "q_krippendorff" ->
      s"""SELECT n, n_items, n_cats, round(alpha, 9) AS alpha FROM (
         |${graft.operators.Eval.krippendorffAlphaOracleSql(
             "(SELECT event_id % 200 AS item, event_type FROM events " +
               "WHERE user_id % 7 < 4)",
             "item", "event_type")}
         |)""".stripMargin,
    "q_silhouette" ->
      s"""SELECT centroid_id, n_points, round(silhouette, 9) AS silhouette
         |FROM (
         |${graft.operators.Similarity.silhouetteOracleSql("vec_id < 8")}
         |)""".stripMargin,
    "q_logreg" ->
      s"""SELECT pos, weight FROM (
         |${graft.operators.LinearModel.logisticFitOracleSql("embeddings",
             "CASE WHEN CAST(embedding[1] AS DOUBLE) > 0.0 THEN 1.0 ELSE 0.0 END",
             dim = 64, iters = 5, lr = 0.5)}
         |) ORDER BY pos""".stripMargin,
    "q_cramers_v" ->
      s"""SELECT n, rows, cols, round(chi2, 6) AS chi2, round(v, 6) AS v
         |FROM (
         |${graft.operators.Profile.cramersVOracleSql("orders",
             "o_orderstatus", "o_orderpriority")}
         |)""".stripMargin,
    "q_acf" ->
      s"""WITH ${graft.operators.WindowOps.autocorrOracleCtes(
             "e AS (SELECT event_type, epoch_us(ts) AS tsu, event_id, " +
               "value AS v FROM events)",
             "event_type", Seq("tsu", "event_id"), maxLag = 4)}
         |SELECT event_type, lag, n, round(r, 9) AS r FROM acf
         |ORDER BY event_type, lag""".stripMargin,
    "q_stream_holt" ->
      s"""WITH ${graft.operators.WindowOps.holtOracleCtes(
             "e AS (SELECT user_id, epoch_us(ts) AS tsu, event_id, " +
               "CAST(value AS DOUBLE) AS v FROM events)",
             "user_id", Seq("tsu", "event_id"),
             alpha = 0.5, beta = 0.25, maxHistory = 1000000000)}
         |SELECT user_id, CAST(n_obs AS BIGINT) AS n_obs,
         |  round(level, 9) AS level, round(trend, 9) AS trend
         |FROM hw ORDER BY user_id""".stripMargin,
    "q_stream_ttest" ->
      s"""WITH ${GraftStreaming.ttestDriftOracleSelect("value",
             refWhere = "event_id % 2 = 0")}
         |SELECT CAST(epoch(win) AS BIGINT) AS win_start, n,
         |  round(mean, 9) AS mean, round(t_stat, 6) AS t_stat,
         |  round(welch_df, 6) AS welch_df
         |FROM scored ORDER BY win_start""".stripMargin,
    "q_mannwhitney" ->
      s"""SELECT event_type, n, u, round(z, 6) AS z FROM (
         |${graft.operators.Profile.mannWhitneyOracleSql("events",
             "event_type", "value", lo = 0.0, hi = 500.0, bins = 1000,
             groupAlias = "event_type")}
         |) ORDER BY event_type""".stripMargin,
    "q_holt" ->
      s"""WITH ${graft.operators.WindowOps.holtOracleCtes(
             "e AS (SELECT user_id, epoch_us(ts) AS tsu, event_id, " +
               "CAST(value AS DOUBLE) AS v FROM events)",
             "user_id", Seq("tsu", "event_id"),
             alpha = 0.5, beta = 0.25, maxHistory = 16)
             .replaceFirst("^e AS", "e AS").stripPrefix("")}
         |SELECT user_id, CAST(n_obs AS BIGINT) AS n_obs,
         |  round(level, 9) AS level, round(trend, 9) AS trend,
         |  round(forecast, 9) AS forecast
         |FROM hw ORDER BY user_id""".stripMargin,
    "q_readability" ->
      s"""SELECT doc_id, words, sentences, syllables,
         |  round(flesch, 6) AS flesch FROM (
         |${TextAnalysis.readabilityOracleSql("doc_id", "text",
             "documents")}
         |) ORDER BY doc_id""".stripMargin,
    "q_fertility" ->
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
         |GROUP BY lang ORDER BY lang""".stripMargin,
    "q_ngram_diversity" ->
      s"""SELECT source, n_ngrams, n_distinct, round(ttr, 9) AS ttr
         |FROM (
         |${TextAnalysis.ngramDiversityOracleSql("source", "text",
             "documents", n = 3)}
         |) ORDER BY source""".stripMargin,
    // exact side identical to q_ngram_diversity; the HLL claim is
    // Spark's to prove (oracle asserts it TRUE)
    "q_ngram_diversity_approx" ->
      s"""SELECT source, n_ngrams, n_distinct, round(ttr, 9) AS ttr,
         |  TRUE AS approx_ok
         |FROM (
         |${TextAnalysis.ngramDiversityOracleSql("source", "text",
             "documents", n = 3)}
         |) ORDER BY source""".stripMargin,
    "q_ttest" ->
      s"""SELECT group_a, group_b, n_a, n_b,
         |  round(mean_diff, 6) AS mean_diff, round(t_stat, 6) AS t_stat,
         |  round(welch_df, 6) AS welch_df FROM (
         |${graft.operators.Profile.welchTTestOracleSql("events",
             "event_type", "value")}
         |) ORDER BY group_a, group_b""".stripMargin,
    "q_grouping_sets" ->
      """SELECT COALESCE(l_returnflag, 'ALL') AS rf,
        |  COALESCE(l_linestatus, 'ALL') AS ls,
        |  CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS qty
        |FROM lineitem
        |GROUP BY GROUPING SETS ((l_returnflag, l_linestatus),
        |  (l_returnflag), ())
        |ORDER BY rf, ls""".stripMargin,
    "q_kcenter" ->
      s"""SELECT round, vec_id, d2_q9 FROM (
         |${graft.operators.Coreset.kCenterOracleSql(
             "p AS (SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS v " +
               "FROM embeddings)",
             "vec_id", k = 12)}
         |) ORDER BY round""".stripMargin,
    "q_dbscan" ->
      s"""SELECT vec_id, n_neighbors, role FROM (
         |${graft.operators.Density.dbscanOracleSql(
             "p AS (SELECT vec_id AS id, CAST(embedding[1] AS DOUBLE) AS x, " +
               "CAST(embedding[2] AS DOUBLE) AS y FROM embeddings)",
             "vec_id", eps = 0.02, minPts = 5L)}
         |) ORDER BY vec_id""".stripMargin,
    "q_tree" ->
      s"""SELECT node_id, depth, n, n_pos, feature, bin, threshold,
         |  gain_q9 FROM (
         |${graft.operators.TreeModel.treeCtesSql(
             "pts AS (SELECT vec_id AS rid, CAST(embedding AS DOUBLE[]) AS v, " +
               "CASE WHEN label < 5 THEN 1 ELSE 0 END AS y FROM embeddings)",
             nFeatures = 8, bins = 16, lo = -0.5, hi = 0.5, depth = 2,
             minLeaf = 5L)}
         |SELECT * FROM nodes
         |) ORDER BY node_id""".stripMargin,
    "q_tree_acc" ->
      s"""SELECT label, pred, n FROM (
         |${graft.operators.TreeModel.treeConfusionSql(
             "pts AS (SELECT vec_id AS rid, CAST(embedding AS DOUBLE[]) AS v, " +
               "CASE WHEN label < 5 THEN 1 ELSE 0 END AS y FROM embeddings)",
             nFeatures = 8, bins = 16, lo = -0.5, hi = 0.5, depth = 2,
             minLeaf = 5L)}
         |) ORDER BY label, pred""".stripMargin,
    "q_logreg_acc" ->
      s"""SELECT label, pred, n FROM (
         |${graft.operators.LinearModel.logisticConfusionOracleSql(
             "embeddings",
             "CASE WHEN CAST(embedding[1] AS DOUBLE) > 0.0 THEN 1.0 ELSE 0.0 END",
             dim = 64, iters = 5, lr = 0.5)}
         |) ORDER BY label, pred""".stripMargin,
    "q_text_lr" ->
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
         |) ORDER BY label, pred""".stripMargin,
    "q_neyman" ->
      s"""SELECT st AS event_type, id AS event_id, n_stratum,
         |  round(sigma, 9) AS sigma, alloc FROM (
         |${graft.operators.Sampling.neymanOracleSql("events",
             "event_type", "value", "event_id", budget = 600L)}
         |) ORDER BY event_type, event_id""".stripMargin,
    "q_conformal" ->
      s"""SELECT n_cal, k, round(qhat, 9) AS qhat, n_eval,
         |  round(coverage, 9) AS coverage,
         |  round(avg_set_size, 9) AS avg_set_size FROM (
         |${graft.operators.Eval.splitConformalOracleSql(
             "(SELECT * FROM events WHERE event_id % 2 = 0)",
             "(SELECT * FROM events WHERE event_id % 2 = 1)",
             "CAST(event_id % 1000 AS DOUBLE) / 1000.0",
             "value > 250.0", alpha = 0.1)}
         |)""".stripMargin,
    "q_label_errors" ->
      s"""SELECT label, assigned, n FROM (
         |${graft.operators.Eval.confidentJointOracleSql("events",
             "CAST(event_id % 1000 AS DOUBLE) / 1000.0",
             "value > 250.0")}
         |) ORDER BY label, assigned""".stripMargin,
    "q_pr_auc" ->
      s"""SELECT n_pos, n_neg, round(pr_auc, 9) AS pr_auc FROM (
         |${graft.operators.Eval.prAucOracleSql("events",
             "CAST(event_id % 1000 AS DOUBLE) / 1000.0", "value > 250.0")}
         |)""".stripMargin,
    "q_bleu" ->
      s"""SELECT n_pairs, cand_tokens, ref_tokens,
         |  round(p1, 9) AS p1, round(p2, 9) AS p2,
         |  round(p3, 9) AS p3, round(p4, 9) AS p4,
         |  round(bp, 9) AS bp, round(bleu, 9) AS bleu FROM (
         |${graft.operators.Eval.bleuCorpusOracleSql(
             """(SELECT doc_id AS id,
               |  substring(text, 1, CAST(n_chars * 4 // 5 AS INT)) AS cand,
               |  text AS ref
               |  FROM documents WHERE doc_id % 10 = 0)""".stripMargin, 4)}
         |)""".stripMargin,
    "q_rouge" ->
      s"""WITH pairs AS (SELECT a.doc_id AS id, a.text AS cand,
         |    b.text AS ref
         |  FROM documents a JOIN documents b ON b.doc_id = a.doc_id + 1
         |  WHERE a.doc_id % 10 = 0)
         |SELECT id, overlap, cand_ngrams, ref_ngrams,
         |  round(rouge_precision, 9) AS rouge_precision,
         |  round(rouge_recall, 9) AS rouge_recall,
         |  round(rouge_f1, 9) AS rouge_f1 FROM (
         |${graft.operators.Eval.rougeNOracleSql("pairs", 2)}
         |) ORDER BY id""".stripMargin
  )

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

  /** Shared exact side of the ANN recall contracts — the approx claim
    * is Spark's to prove, so both oracles are the identical exhaustive
    * top-10 count + TRUE. */
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

  private lazy val DecontaminateOracle: String = {
    val sh = graft.operators.Dedup.shinglesOracleSqlExpr("text", 8)
    s"""WITH tr AS (SELECT doc_id AS train_id, $sh AS s FROM documents),
       |ev AS (SELECT doc_id + 500000 AS eval_id, $sh AS s
       |  FROM documents WHERE doc_id % 37 = 0),
       |j AS (SELECT t.train_id, e.eval_id,
       |  CAST(len(list_intersect(t.s, e.s)) AS BIGINT) AS n_hits
       |  FROM tr t, ev e)
       |SELECT train_id, eval_id, n_hits FROM j WHERE n_hits >= 1
       |ORDER BY train_id, eval_id""".stripMargin
  }

  /** The end-to-end curation pass (quality gate → min-id exact-dedup
    * canonicalization → benchmark decontamination → token accounting),
    * shared by q_curation and q_stream_curation: the streaming
    * pipeline's drained canonical winners must compact to exactly this
    * batch result. */
  private lazy val CurationOracle: String = {
    val sh = graft.operators.Dedup.shinglesOracleSqlExpr("text", 8)
    s"""WITH g AS (SELECT doc_id, text,
       |    ${TextAnalysis.qualityOracleSqlExpr("text")} AS quality
       |  FROM documents),
       |gated AS (SELECT * FROM g WHERE quality >= 0.6),
       |fp AS (SELECT doc_id,
       |    md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS f
       |  FROM gated),
       |canon AS (SELECT min(doc_id) AS doc_id FROM fp GROUP BY f),
       |kept AS (SELECT gated.* FROM gated JOIN canon USING (doc_id)),
       |ev AS (SELECT $sh AS s FROM documents WHERE doc_id % 37 = 0),
       |tr AS (SELECT doc_id, $sh AS s FROM kept),
       |cont AS (SELECT DISTINCT tr.doc_id FROM tr, ev
       |  WHERE len(list_intersect(tr.s, ev.s)) >= 3)
       |SELECT k.doc_id,
       |  CAST(len(list_filter(string_split_regex(trim(k.text), '\\s+'),
       |    t -> len(t) > 0)) AS BIGINT) AS n_tokens,
       |  round(k.quality, 6) AS quality
       |FROM kept k ANTI JOIN cont ON k.doc_id = cont.doc_id
       |ORDER BY k.doc_id""".stripMargin
  }
}
