package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.{Window, WindowSpec}

/** Partitioned window operators (shift/diff/cumsum/rolling/rank).
  *
  * All take explicit partition keys: a pandas-style global-order window
  * funnels every row through one partition — unusable at 100 TB — so the
  * API makes the partitioning first-class. Per-partition ordering gives
  * Spark a shuffle on the partition key and parallel window evaluation. */
object WindowOps {

  /** Largest |value| whose nano quantization round(v·1e9) fits a long
    * (9.2e18 < Long.MaxValue ≈ 9.223e18). Shared by [[cusum]] and
    * [[graft.streaming.GraftStreaming.cusumStream]] so the batch/stream
    * twins reject the same domain instead of diverging on overflow. */
  val QuantizeDomain: Double = 9.2e9

  private def spec(partitionBy: Seq[String], orderBy: Seq[String]): WindowSpec =
    Window.partitionBy(partitionBy.map(col): _*).orderBy(orderBy.map(col): _*)

  /** Integer time base for a time-windowed operator's ts column: a
    * TIMESTAMP/TIMESTAMP_NTZ column becomes epoch-µs via `unix_micros`
    * (UTC session ⇒ NTZ→instant is the identity), so callers with a
    * typed time column pass it straight in with gap/period/lookback in
    * MICROSECONDS; a numeric column passes through in its own units.
    * This removes the whole unit-juggling class of bugs (round 5 lost 7
    * queries to a ns→µs testdata drift) from every call site at once. */
  private def numericTs(df: DataFrame, tsCol: String): Column =
    df.schema(tsCol).dataType match {
      case org.apache.spark.sql.types.TimestampType |
           org.apache.spark.sql.types.TimestampNTZType =>
        unix_micros(col(tsCol).cast("timestamp"))
      case _ => col(tsCol)
    }

  /** Per-group z-score normalization (feature scaling), engine-exact:
    * both moments accumulate in DECIMAL over ONE unordered group window
    * (no agg + join-back), and doubles appear only at the final
    * mean/variance arithmetic — so two engines that mirror the same
    * expression tree agree bit-for-bit. Sample variance (n-1), like
    * pandas/DuckDB stddev defaults. */
  def zscore(df: DataFrame, partitionBy: Seq[String], valueCol: String,
             outCol: String = "z"): DataFrame = {
    val w = Window.partitionBy(partitionBy.map(col): _*)
    val dec38 = org.apache.spark.sql.types.DecimalType(38, 8)
    val xd = col(valueCol).cast(org.apache.spark.sql.types.DecimalType(18, 4))
    val n = count(col(valueCol)).over(w)
    val s1 = sum(xd).over(w).cast("double")
    // the square is one IEEE double multiply (bit-deterministic in any
    // engine); only the SUM runs in decimal — a decimal×decimal product
    // would need precision 38+ and engines disagree on how to truncate it
    val s2 = sum((col(valueCol) * col(valueCol)).cast(dec38)).over(w)
      .cast("double")
    val mean = s1 / n
    val variance = (s2 - mean * mean * n) / (n - 1)
    // singleton group (n−1 = 0) or constant group (variance 0) → NULL,
    // never NaN/Inf (the bleuCorpus rule); mirrored in the oracle CASE
    df.withColumn(outCol,
      when(n >= 2 && variance > 0, (col(valueCol) - mean) / sqrt(variance)))
  }

  /** Robust per-group standardization: (x − median) / (1.4826 · MAD),
    * MAD = median(|x − median|) — the outlier-resistant z-score
    * (1.4826 scales MAD to σ under normality). Mean/stddev are
    * themselves dragged by the outliers they're meant to flag; the
    * median/MAD pair is what a data-cleaning gate should threshold on.
    *
    * Two grouped EXACT percentile aggregates with a join-back between
    * them (MAD needs the group median attached to every row first) —
    * three shuffles on the key. Exact `percentile` buffers each group's
    * values in the aggregate (that is what makes it engine-exact and
    * DuckDB-oracle-able); for 100 TB-scale groups swap
    * `percentile_approx` in via `approxAccuracy` — same plan shape,
    * bounded memory, and the within-tolerance drift is CONTRACTED
    * against the exact twin by q_robust_z_approx (the
    * q_outliers_approx pattern). Groups with MAD = 0 (over half the
    * values identical) yield NULL rather than ±Inf. */
  def robustZScore(df: DataFrame, partitionBy: Seq[String], valueCol: String,
                   outCol: String = "robust_z",
                   approxAccuracy: Option[Int] = None): DataFrame = {
    val keys = partitionBy.map(col)
    def med(c: org.apache.spark.sql.Column) = approxAccuracy match {
      case Some(acc) => percentile_approx(c, lit(0.5), lit(acc))
      case None => percentile(c, lit(0.5))
    }
    val x = col(valueCol).cast("double")
    val medians = df.groupBy(keys: _*)
      .agg(med(x).as("__med"))
    val withMed = df.join(medians, partitionBy)
    val mads = withMed.groupBy(keys: _*)
      .agg(med(abs(x - col("__med"))).as("__mad"))
    withMed.join(mads, partitionBy)
      .withColumn(outCol,
        when(col("__mad") === 0.0, lit(null).cast("double"))
          .otherwise((x - col("__med")) / (lit(1.4826) * col("__mad"))))
      .drop("__med", "__mad")
  }

  /** lag/lead (pandas shift; positive n looks back). */
  def shift(df: DataFrame, partitionBy: Seq[String], orderBy: Seq[String],
            valueCol: String, n: Int = 1, outCol: String = "shifted"): DataFrame =
    df.withColumn(outCol,
      if (n >= 0) lag(col(valueCol), n).over(spec(partitionBy, orderBy))
      else lead(col(valueCol), -n).over(spec(partitionBy, orderBy)))

  /** first difference (pandas diff). */
  def diff(df: DataFrame, partitionBy: Seq[String], orderBy: Seq[String],
           valueCol: String, outCol: String = "diff"): DataFrame =
    df.withColumn(outCol,
      col(valueCol) - lag(col(valueCol), 1).over(spec(partitionBy, orderBy)))

  /** running sum (pandas cumsum). */
  def cumsum(df: DataFrame, partitionBy: Seq[String], orderBy: Seq[String],
             valueCol: String, outCol: String = "cumsum"): DataFrame =
    df.withColumn(outCol, sum(col(valueCol)).over(
      spec(partitionBy, orderBy).rowsBetween(Window.unboundedPreceding, 0)))

  def cumcount(df: DataFrame, partitionBy: Seq[String], orderBy: Seq[String],
               outCol: String = "cumcount"): DataFrame =
    df.withColumn(outCol, row_number().over(spec(partitionBy, orderBy)) - 1)

  def rank(df: DataFrame, partitionBy: Seq[String], orderBy: Seq[String],
           outCol: String = "rank"): DataFrame =
    df.withColumn(outCol, org.apache.spark.sql.functions.rank()
      .over(spec(partitionBy, orderBy)))

  /** pandas rank(method="dense") — no gaps after ties. Like rank/
    * percent_rank/cume_dist (and unlike row_number), the result is a
    * function of the order-key multiset, so it is deterministic even when
    * the order keys tie. */
  def denseRank(df: DataFrame, partitionBy: Seq[String], orderBy: Seq[String],
                outCol: String = "dense_rank"): DataFrame =
    df.withColumn(outCol, dense_rank().over(spec(partitionBy, orderBy)))

  /** pandas rank(pct=True) analog: (rank-1)/(n-1) over the partition. */
  def percentRank(df: DataFrame, partitionBy: Seq[String], orderBy: Seq[String],
                  outCol: String = "percent_rank"): DataFrame =
    df.withColumn(outCol, percent_rank().over(spec(partitionBy, orderBy)))

  /** pandas qcut-per-partition analog: n equal-count buckets in order.
    * Needs a TOTAL order (unique tiebreak in orderBy) to be deterministic. */
  def ntileBucket(df: DataFrame, partitionBy: Seq[String], orderBy: Seq[String],
                  n: Int, outCol: String = "bucket"): DataFrame =
    df.withColumn(outCol, ntile(n).over(spec(partitionBy, orderBy)))

  /** Time-range rolling aggregate (pandas rolling("1h") over a numeric
    * time column): RANGE frame [orderCol - lookback, orderCol]. One hash
    * shuffle on the partition keys; each partition scans its range frame
    * independently. `orderCol` may be numeric (lookback in its units) or
    * a TIMESTAMP/TIMESTAMP_NTZ (lookback in µs — see [[numericTs]]);
    * pass DECIMAL-cast aggregates for engine-exact double sums. */
  def rollingRangeAgg(df: DataFrame, partitionBy: Seq[String],
                      orderCol: String, agg: Column, lookback: Long,
                      outCol: String): DataFrame =
    df.withColumn(outCol, agg.over(
      Window.partitionBy(partitionBy.map(col): _*)
        .orderBy(numericTs(df, orderCol))
        .rangeBetween(-lookback, 0)))

  /** Generic trailing-window aggregate (pandas rolling(n).sum/min/max/...,
    * min_periods=1): any Column-level aggregate over the last n rows per
    * key. All rolling calls on the same (partitionBy, orderBy) share one
    * shuffle — Spark evaluates them in a single Window node. */
  def rollingAgg(df: DataFrame, partitionBy: Seq[String], orderBy: Seq[String],
                 agg: Column, n: Int, outCol: String): DataFrame =
    df.withColumn(outCol, agg.over(
      spec(partitionBy, orderBy).rowsBetween(-(n - 1), 0)))

  /** running max/min (pandas cummax/cummin). Unlike running double sums,
    * max/min are association-safe — no decimal detour needed. */
  def cummax(df: DataFrame, partitionBy: Seq[String], orderBy: Seq[String],
             valueCol: String, outCol: String = "cummax"): DataFrame =
    df.withColumn(outCol, max(col(valueCol)).over(
      spec(partitionBy, orderBy).rowsBetween(Window.unboundedPreceding, 0)))

  def cummin(df: DataFrame, partitionBy: Seq[String], orderBy: Seq[String],
             valueCol: String, outCol: String = "cummin"): DataFrame =
    df.withColumn(outCol, min(col(valueCol)).over(
      spec(partitionBy, orderBy).rowsBetween(Window.unboundedPreceding, 0)))

  /** pandas pct_change: v/lag(v) - 1, NULL on a zero or missing base
    * (pandas yields inf on zero base; NULL keeps the output engine-stable
    * — see the IEEE sentinel discussion in Semantics). */
  def pctChange(df: DataFrame, partitionBy: Seq[String], orderBy: Seq[String],
                valueCol: String, outCol: String = "pct_change"): DataFrame = {
    val prev = lag(col(valueCol), 1).over(spec(partitionBy, orderBy))
    df.withColumn(outCol, when(prev =!= 0, col(valueCol) / prev - 1))
  }

  /** forward/backward fill (pandas ffill/bfill) as bounded frame scans:
    * last/first non-null within the partition — each partition evaluates
    * independently after one hash shuffle, nothing global. */
  def ffill(df: DataFrame, partitionBy: Seq[String], orderBy: Seq[String],
            valueCol: String, outCol: String = "ffill"): DataFrame =
    df.withColumn(outCol, last(col(valueCol), ignoreNulls = true).over(
      spec(partitionBy, orderBy).rowsBetween(Window.unboundedPreceding, 0)))

  def bfill(df: DataFrame, partitionBy: Seq[String], orderBy: Seq[String],
            valueCol: String, outCol: String = "bfill"): DataFrame =
    df.withColumn(outCol, first(col(valueCol), ignoreNulls = true).over(
      spec(partitionBy, orderBy).rowsBetween(0, Window.unboundedFollowing)))

  /** pandas interpolate(method="linear", limit_direction="forward"):
    * linearly blend between the surrounding non-null values by row
    * position; leading nulls stay null, trailing nulls carry the last
    * value (pandas' forward default). Four window functions over ONE
    * partition shuffle (same key + order, two frames); positions come
    * from a first-pass row_number so the blend is pure arithmetic. */
  def interpolate(df: DataFrame, partitionBy: Seq[String], orderBy: Seq[String],
                  valueCol: String, outCol: String = "interp"): DataFrame = {
    val withPos = df.withColumn("__pos",
      row_number().over(spec(partitionBy, orderBy)))
    val w = spec(partitionBy, Seq("__pos"))
    val wp = w.rowsBetween(Window.unboundedPreceding, 0)
    val wf = w.rowsBetween(0, Window.unboundedFollowing)
    val v = col(valueCol); val pos = col("__pos")
    val markedPos = when(v.isNotNull, pos)
    val prevV = last(v, ignoreNulls = true).over(wp)
    val prevP = last(markedPos, ignoreNulls = true).over(wp)
    val nextV = first(v, ignoreNulls = true).over(wf)
    val nextP = first(markedPos, ignoreNulls = true).over(wf)
    withPos.withColumn(outCol,
      when(v.isNotNull, v)
        .when(prevV.isNull, lit(null))
        .when(nextV.isNull, prevV)
        .otherwise(prevV + (nextV - prevV) * (pos - prevP) / (nextP - prevP)))
      .drop("__pos")
  }

  /** Batch sessionization — the batch twin of the streaming
    * flatMapGroupsWithState sessionizer: a new-session flag (gap from the
    * previous event exceeds `gap`, in the ts column's own units) and a
    * running sum of flags = per-key session ordinal. Two window functions
    * over ONE shuffle (same partition + order). Integer ts → engine-exact. */
  def sessionIds(df: DataFrame, partitionBy: Seq[String], orderBy: Seq[String],
                 tsCol: String, gap: Long, outCol: String = "session"): DataFrame = {
    val w = spec(partitionBy, orderBy)
    val ts = numericTs(df, tsCol)
    val prev = lag(ts, 1).over(w)
    val newSession = when(prev.isNull || ts - prev > gap, 1).otherwise(0)
    df.withColumn(outCol, sum(newSession).over(
      w.rowsBetween(Window.unboundedPreceding, 0)))
  }

  /** Period ordinal of an integral time base: FLOOR division by a
    * positive period, in exact integer arithmetic (never
    * floor(double/period) — a 2^60-scale time base silently loses its
    * low bits in a double). Spark's `DIV` truncates toward zero, DuckDB's
    * `//` floors; they agree only for non-negative bases, so a pre-1970
    * timestamp would land one period late under DIV. The pmod adjustment
    * makes it floor for ANY sign, matching the oracle unconditionally —
    * and floor division is monotone, so min-then-bucket ≡ bucket-then-min
    * holds for every base, not just non-negative ones. */
  private def periodOrdinal(c: Column, period: Long): Column =
    call_function("div", c - pmod(c, lit(period)), lit(period))

  /** Cohort retention: users bucketed by the period of their FIRST
    * event (the cohort), then counted per (cohort, age) where age =
    * periods elapsed since their cohort period — the standard retention
    * triangle. Two aggregates and one user-key join: first-touch
    * per user, distinct (user, cohort, age) activity, count. `tsCol`
    * may be an integer time base (`period` in the same units) or a
    * TIMESTAMP/TIMESTAMP_NTZ (`period` in µs — see [[numericTs]]).
    * Output: (cohort, age, n_users), cohort as the period ordinal. */
  def cohortRetention(events: DataFrame, userCol: String, tsCol: String,
                      period: Long): DataFrame = {
    require(period > 0, "period must be positive")
    val p = events
      .select(col(userCol).as("__u"), numericTs(events, tsCol).as("__ts0"))
      .select(col("__u"), periodOrdinal(col("__ts0"), period).as("__p"))
    val first = p.groupBy("__u").agg(min(col("__p")).as("__cohort"))
    p.join(first, Seq("__u"))
      .select(col("__u"), col("__cohort"),
        (col("__p") - col("__cohort")).as("__age"))
      .distinct()
      .groupBy(col("__cohort").as("cohort"), col("__age").as("age"))
      .agg(count(lit(1)).as("n_users"))
  }

  /** Bounded-horizon EWMA per key: the classic recursive smoother
    * y_i = α·v_i + (1−α)·y_{i−1} truncated to its last `horizon` terms —
    * y_i = Σ_{d=0..horizon−1} α(1−α)^d · v_{i−d} over rows that exist
    * (truncation error ≤ (1−α)^horizon of the dropped mass; leading rows
    * simply have fewer terms, no renormalization). The exact recursion
    * is a sequential scan — unbounded lookback per row — which at 100 TB
    * means either a per-key sort-merge pass or this: `horizon` lag()
    * calls that all collapse into ONE window node (one hash shuffle on
    * the key, whole-stage codegen'd arithmetic), with the sum written in
    * fixed left-to-right order so two engines evaluating the same
    * literal weights agree bit-for-bit. */
  def ewmaBounded(df: DataFrame, partitionBy: Seq[String], orderBy: Seq[String],
                  valueCol: String, alpha: Double, horizon: Int,
                  outCol: String = "ewma"): DataFrame = {
    require(alpha > 0 && alpha <= 1, "alpha must be in (0, 1]")
    require(horizon >= 1, "horizon must be >= 1")
    val w = spec(partitionBy, orderBy)
    val terms = ewmaWeights(alpha, horizon).zipWithIndex.map { case (wt, d) =>
      coalesce(lag(col(valueCol), d).over(w) * lit(wt), lit(0.0))
    }
    df.withColumn(outCol, terms.reduceLeft(_ + _))
  }

  /** The literal weights α(1−α)^d, d = 0..horizon−1 — shared by
    * [[ewmaBounded]] and any oracle SQL generated for it, so both
    * engines inline the SAME double literals. */
  def ewmaWeights(alpha: Double, horizon: Int): Seq[Double] =
    Seq.tabulate(horizon)(d => alpha * math.pow(1 - alpha, d))

  /** Event-transition counts (first-order Markov estimate over the
    * event stream): per key, each event pairs with its successor in
    * (orderBy) order, and (src, dst) pairs are counted corpus-wide.
    * One window shuffle on the key + one hash aggregate whose map-side
    * partials collapse it to the |types|² transition matrix. */
  def transitionCounts(df: DataFrame, partitionBy: Seq[String],
                       orderBy: Seq[String], typeCol: String): DataFrame = {
    val nxt = lead(col(typeCol), 1).over(spec(partitionBy, orderBy))
    df.select(col(typeCol).as("src"), nxt.as("dst"))
      .where(col("dst").isNotNull)
      .groupBy("src", "dst").agg(count(lit(1)).as("n"))
  }

  /** Length-3 path counts (second-order sequence mining): per key, each
    * event opens the window (t1, t2, t3) with its two successors in
    * (orderBy) order, and triples are counted corpus-wide — the
    * behavioral-funnel / session-flow relation one order deeper than
    * [[transitionCounts]], and the discovery pass before hand-defining
    * funnels. Same scale shape: ONE window shuffle on the key (both
    * leads share the single window node) + a hash aggregate that
    * map-side-collapses to at most |types|³ rows. */
  def pathTripleCounts(df: DataFrame, partitionBy: Seq[String],
                       orderBy: Seq[String], typeCol: String): DataFrame = {
    val w = spec(partitionBy, orderBy)
    df.select(col(typeCol).as("t1"),
        lead(col(typeCol), 1).over(w).as("t2"),
        lead(col(typeCol), 2).over(w).as("t3"))
      .where(col("t3").isNotNull)
      .groupBy("t1", "t2", "t3").agg(count(lit(1)).as("n"))
  }

  /** Per-source transition entropy: the Shannon entropy (bits) of each
    * event type's NEXT-event distribution — the sequence-predictability
    * profile over [[transitionCounts]]'s first-order Markov estimate
    * (H ≈ 0: deterministic funnel step; H ≈ log2(fanout): the type tells
    * you nothing about what follows).
    *
    * Engine-exact: entropy is computed as log2(tot) − Σ n·log2(n) / tot
    * — logs of exact integer counts only (never of intermediate ratios).
    * Each per-(src,dst) n·log2(n) term is quantized to integer
    * nano-units (`floor(x·1e9)` as long — the [[TextAnalysis.tokenEntropy]]
    * recipe) BEFORE the sum, so the aggregate is an exact long sum:
    * association-order-invariant across partitionings and bit-identical
    * across engines; one mirrored double division at the end, rounded by
    * the caller.
    *
    * Scale shape: [[transitionCounts]]'s one window shuffle + hash
    * aggregate, then a second aggregate over the ≤ |types|² transition
    * relation — model-sized, independent of event volume. */
  def transitionEntropy(df: DataFrame, partitionBy: Seq[String],
                        orderBy: Seq[String], typeCol: String): DataFrame =
    transitionCounts(df, partitionBy, orderBy, typeCol)
      .groupBy("src")
      .agg(sum("n").as("n_total"),
        count(lit(1)).as("n_dst"),
        sum(floor(col("n").cast("double") * log2(col("n")) * lit(1e9))
          .cast("long")).as("__qnlogn"))
      .select(col("src"), col("n_total"), col("n_dst"),
        (log2(col("n_total")) -
          (col("__qnlogn").cast("double") / lit(1e9)) / col("n_total"))
          .as("entropy_bits"))

  /** Inter-arrival time distribution per event type: each event's gap to
    * the SAME KEY's previous event (any type — the user's activity
    * rhythm), attributed to the later event's type, then summarized as
    * exact interpolated quantiles — the latency-profile / burstiness
    * sweep behind session-gap tuning and anomaly thresholds.
    *
    * Quantiles are computed over exact integer tick deltas and divided
    * to seconds only at the end (`tickSeconds` = ticks per second, e.g.
    * 1e9 for the ns time base), so a last-ulp interpolation difference
    * between engines lands below round-6 of a seconds-scale value
    * instead of surviving at tick scale. Exact percentile holds a
    * value→count map per (group); at 100 TB set `approxAccuracy`
    * (GK-sketch `percentile_approx` accuracy, e.g. 10000) — bounded
    * memory, the IDENTICAL plan shape (ONE key-window shuffle + ONE
    * |types|-sized aggregate), and no hash-exact oracle (the
    * q_interarrival_approx twin pins the tolerance claim instead).
    *
    * @return (typeCol, n, p50_sec, p90_sec, p99_sec). */
  def interArrivalStats(df: DataFrame, partitionBy: Seq[String],
                        orderBy: Seq[String], typeCol: String,
                        tsCol: String,
                        tickSeconds: Double = 1e9,
                        approxAccuracy: Option[Int] = None): DataFrame = {
    val w = spec(partitionBy, orderBy)
    val delta = (col(tsCol) - lag(col(tsCol), 1).over(w)).as("__d")
    val qs = array(lit(0.5), lit(0.9), lit(0.99))
    def pct = approxAccuracy match {
      case Some(acc) => percentile_approx(col("__d"), qs, lit(acc))
      case None => percentile(col("__d"), qs)
    }
    df.select(col(typeCol), delta)
      .where(col("__d").isNotNull)
      .groupBy(typeCol)
      .agg(count(lit(1)).as("n"),
        pct.as("__q"))
      .select(col(typeCol), col("n"),
        (col("__q").getItem(0) / tickSeconds).as("p50_sec"),
        (col("__q").getItem(1) / tickSeconds).as("p90_sec"),
        (col("__q").getItem(2) / tickSeconds).as("p99_sec"))
  }

  /** Additive seasonal decomposition against a phase profile: each
    * event's value splits into `seasonal` (the corpus mean of its
    * phase — hour-of-day with `period` = 1h µs and `phases` = 24,
    * day-of-week with 1-day/7) and `residual` (value − seasonal) — the
    * de-seasonalized signal anomaly scoring should run on instead of
    * the raw one (a 3 a.m. traffic dip is not an incident).
    *
    * Engine-exact: phase means accumulate value in DECIMAL(18,6) (exact
    * integer-scaled sums — partition-order-independent) and become
    * doubles only at the final `CAST(sum AS DOUBLE)/n` division, which
    * the oracle mirrors; the residual is one further mirrored
    * subtraction, rounded to 6.
    *
    * Scale shape: ONE count/sum aggregate that exchanges ≤ `phases`
    * rows (map-side combined), then a broadcast join of the
    * phases-row profile back onto the event stream — map-side,
    * no second shuffle, no window funnel.
    *
    * @return input columns (via idCol projection) + (phase, seasonal,
    *         residual).
    */
  def seasonalDecompose(df: DataFrame, idCol: String, tsCol: String,
                        valueCol: String, period: Long,
                        phases: Int): DataFrame = {
    require(period > 0 && phases >= 2, "period/phases must be positive")
    // periodOrdinal (floor division) + pmod so a pre-1970 time base
    // lands in the right phase — plain DIV truncates toward zero and
    // would shift negative timestamps one phase late (same class of bug
    // the rolling/cohort operators fixed; see the scaladoc at
    // periodOrdinal)
    val phase = pmod(periodOrdinal(numericTs(df, tsCol), period),
      lit(phases.toLong))
    val base = df.select(col(idCol), phase.as("phase"),
      col(valueCol).as("__v"))
    val prof = base.groupBy("phase")
      .agg(count(lit(1)).as("__n"),
        sum(col("__v").cast(org.apache.spark.sql.types.DecimalType(18, 6)))
          .as("__s"))
      .select(col("phase"),
        (col("__s").cast("double") / col("__n")).as("seasonal"))
    base.join(broadcast(prof), Seq("phase"))
      .select(col(idCol), col("phase"),
        round(col("seasonal"), 6).as("seasonal"),
        round(col("__v") - col("seasonal"), 6).as("residual"))
  }

  /** Rolling distinct active users (the WAU/MAU family): for every
    * period present in the data, the number of distinct users active in
    * the trailing `windowPeriods` periods (inclusive). `tsCol` follows
    * [[numericTs]]; `period` in the column's units (µs for timestamps).
    *
    * Count-distinct over a RANGE frame doesn't exist as a window
    * function in any engine, and the naive per-period self-join scans
    * the activity table |periods| times. Shape instead: collapse events
    * to distinct (user, period) activity ONCE (the big shuffle, input-
    * sized), then explode each activity row to the `windowPeriods`
    * windows it falls in (bounded ×k blowup on the already-collapsed
    * relation) and count distinct per window. Windows with no in-data
    * period are dropped by the final semi join. */
  def rollingActiveUsers(df: DataFrame, userCol: String, tsCol: String,
                         period: Long, windowPeriods: Int): DataFrame = {
    require(period > 0 && windowPeriods >= 1, "period/window must be positive")
    val acts = df
      .select(col(userCol).as("__u"), numericTs(df, tsCol).as("__ts0"))
      .select(col("__u"), periodOrdinal(col("__ts0"), period).as("__p"))
      .distinct()
    val exploded = acts.select(col("__u"),
      explode(sequence(col("__p"), col("__p") + (windowPeriods - 1))).as("__w"))
    exploded.join(acts.select(col("__p").as("__w")).distinct(), Seq("__w"), "left_semi")
      .groupBy(col("__w").as("period"))
      .agg(countDistinct(col("__u")).as("n_active"))
  }

  /** SCD2 history table from an event changelog: per key, collapse runs
    * of consecutive rows with an unchanged `attrCol`, then assign each
    * surviving version its validity interval [valid_from, valid_to)
    * (valid_to NULL = current). The standard warehouse
    * slowly-changing-dimension compaction, as two window passes over
    * ONE hash shuffle on the key (lag to find change points, lead over
    * the filtered versions for the interval end). `tsCol` follows
    * [[numericTs]] (µs for typed timestamps). */
  def scd2(df: DataFrame, keyCols: Seq[String], orderBy: Seq[String],
           tsCol: String, attrCol: String): DataFrame = {
    val w = spec(keyCols, orderBy)
    val ts = numericTs(df, tsCol)
    val prevAttr = lag(col(attrCol), 1).over(w)
    // carry the caller's FULL deterministic order through to the second
    // window pass — lead over valid_from alone would tie-break
    // differently per engine when two versions share a timestamp
    val keep = (keyCols ++ orderBy).distinct.filterNot(_ == attrCol)
    val versions = df
      .withColumn("__chg", prevAttr.isNull || prevAttr =!= col(attrCol))
      .where(col("__chg"))
      .select(keep.map(col) :+ col(attrCol) :+ ts.as("__vf"): _*)
    val out = versions
      .withColumn("valid_to", lead(col("__vf"), 1).over(spec(keyCols, orderBy)))
      .withColumn("is_current", col("valid_to").isNull)
      .withColumnRenamed("__vf", "valid_from")
    out.drop(orderBy.filterNot(c => keyCols.contains(c) || c == attrCol): _*)
  }

  /** Ordered-sequence funnel: how many users reach each step of
    * `steps`, where step i+1 counts only when it happens STRICTLY after
    * the user's earliest completion of step i (and within `horizon` of
    * it, when given). The standard product-analytics conversion funnel.
    *
    * Shape: one filtered min-ts aggregate per step, each joined to the
    * previous step's (user, ts) relation — k steps is k groupBys + k−1
    * joins over the events scan, every one an honest hash shuffle on the
    * user key; no windows over the whole event log, no per-user
    * collects. The per-step relations shrink monotonically (funnels
    * converge), so later joins broadcast under AQE. Returns one row per
    * step: (step 1-based, event_type, n_users), computed lazily as a
    * union of the k single-row aggregates. `tsCol` may be an integer
    * time base (engine-exact comparisons; `horizon` in the same units)
    * or a TIMESTAMP/TIMESTAMP_NTZ (`horizon` in µs — [[numericTs]]). */
  def funnel(events: DataFrame, userCol: String, typeCol: String,
             tsCol: String, steps: Seq[String],
             horizon: Option[Long] = None): DataFrame = {
    require(steps.nonEmpty, "funnel needs at least one step")
    val reached = steps.zipWithIndex.scanLeft(Option.empty[DataFrame]) {
      case (prev, (step, _)) =>
        val ev = events.where(col(typeCol) === step)
          .select(col(userCol).as("__u"), numericTs(events, tsCol).as("__ts"))
        val eligible = prev match {
          case None => ev
          case Some(p) =>
            val bound = horizon match {
              case Some(h) => col("__ts") > col("__pt") &&
                col("__ts") <= col("__pt") + h
              case None => col("__ts") > col("__pt")
            }
            ev.join(p.select(col("__u"), col("__t").as("__pt")), Seq("__u"))
              .where(bound)
        }
        Some(eligible.groupBy("__u").agg(min(col("__ts")).as("__t")))
    }.flatten
    reached.zip(steps).zipWithIndex.map { case ((df, name), i) =>
      df.groupBy().agg(count(lit(1)).as("n_users"))
        .select(lit(i + 1).as("step"), lit(name).as("event_type"),
          col("n_users"))
    }.reduce(_ unionAll _)
  }

  /** Time-series downsampling to OHLC bars (pandas `resample().ohlc()`
    * / the financial candlestick reduction): per (key, period bucket),
    * the first value (open), max (high), min (low), last value (close)
    * and row count — the lossy-but-shaped compaction that turns a
    * 100 TB tick stream into a chartable, model-sized bar table.
    *
    * ONE map-side-combined aggregate: open/close are `min_by`/`max_by`
    * on the (ts, tieBreak...) struct — deterministic when the tiebreak
    * makes the ordering unique — so no window pass and ONE exchange;
    * the aggregate collapses to |keys × buckets| rows. (The struct
    * buffer makes Spark pick SortAggregate over HashAggregate — the
    * extra cost is a per-partition sort on the collapsed bar keys,
    * plan-pinned in the digest gate.) `tsCol` may be numeric (period
    * in its units) or TIMESTAMP (µs). */
  def resampleOhlc(df: DataFrame, keyCols: Seq[String], tsCol: String,
                   valueCol: String, period: Long,
                   tieBreak: Seq[String] = Nil): DataFrame = {
    require(period > 0, "period must be positive")
    val ts = numericTs(df, tsCol)
    val ordKey = struct((ts +: tieBreak.map(col)): _*)
    df.groupBy(keyCols.map(col) :+
        periodOrdinal(ts, period).as("bucket"): _*)
      .agg(count(lit(1)).as("n"),
        min_by(col(valueCol), ordKey).as("open"),
        max(col(valueCol)).as("high"),
        min(col(valueCol)).as("low"),
        max_by(col(valueCol), ordKey).as("close"))
  }

  /** Multi-touch conversion attribution: every `convType` event closes a
    * journey, the touches (non-`convType` events) since the previous
    * conversion share its credit, and credit aggregates per touch type —
    * the channel-value report behind marketing-mix and, in a training
    * pipeline, per-source contribution to a downstream acceptance event.
    *
    * `model`: "first" (the journey's first touch gets 1.0), "last" (its
    * final touch gets 1.0), or "linear" (each of the journey's n touches
    * gets 1/n). Touches after a key's final conversion are unattributed
    * and drop; conversions with zero touches contribute nothing.
    *
    * Engine-exact: per-touch credit is quantized to round(1e9/n) integer
    * nanos BEFORE summing (both engines compute the same IEEE division
    * and half-up round of a positive value; integer sums are
    * order-independent), one double division at the end.
    *
    * Scale shape: journey numbering is a reverse-cumulative sum in ONE
    * window over the key; per-journey size/position is a second window
    * on (key, journey) — a refinement of the first key, same
    * user-bounded cardinality; the final aggregate map-side-collapses to
    * |types| rows. Nothing is driver-resident.
    *
    * @return (typeCol, n_touches, credit) — n_touches counts CREDITED
    *         touches (all journey touches under "linear", one per
    *         journey under "first"/"last"). */
  def attribution(events: DataFrame, keyCols: Seq[String],
                  orderBy: Seq[String], typeCol: String, convType: String,
                  model: String = "linear"): DataFrame = {
    require(Set("first", "last", "linear")(model),
      s"model must be first|last|linear, got $model")
    val wKey = spec(keyCols, orderBy)
    val isConv = when(col(typeCol) === convType, 1L).otherwise(0L)
    val journeyed = events
      .withColumn("__j", sum(isConv).over(
        wKey.rowsBetween(0, Window.unboundedFollowing)))
      .where(col("__j") >= 1 && col(typeCol) =!= convType)
    val wJourney = spec(keyCols :+ "__j", orderBy)
    val n = count(lit(1)).over(
      wJourney.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing))
    val rn = row_number().over(wJourney)
    val creditNanos = model match {
      case "first"  => when(rn === 1, lit(1000000000L))
      case "last"   => when(rn === n, lit(1000000000L))
      case "linear" => round(lit(1e9) / n).cast("long")
    }
    journeyed.select(col(typeCol), creditNanos.as("__cn"))
      .where(col("__cn").isNotNull)
      .groupBy(typeCol)
      .agg(count(lit(1)).as("n_touches"),
        (sum(col("__cn")).cast("double") / 1e9).as("credit"))
  }

  /** Kaplan–Meier survival curve over right-censored durations: at each
    * distinct duration t with at least one observed event, the risk set
    * r(t) (subjects whose duration ≥ t), the event count d(t), and the
    * product-limit estimate S(t) = Π_{t_i ≤ t} (1 − d_i/r_i) — the
    * churn/retention curve that, unlike a naive survival fraction, is
    * unbiased under censoring (subjects still alive at observation end).
    *
    * `eventCol` is 1/true for an observed event (churn, failure), 0/false
    * for censored. Censored durations shrink later risk sets but never
    * produce an output row or a factor.
    *
    * Shape: ONE hash aggregate collapses the corpus to the |distinct
    * durations|-sized life table; the cumulative risk-set/product pass
    * runs as single-partition windows over that model-sized relation
    * (exactly [[graft.operators.Profile.calibrationReport]]'s posture —
    * constant size regardless of input volume). The product is computed
    * as exp(Σ ln(factor)) with the S(t) = 0 case (d = r at some step)
    * handled by an explicit flag, since ln(0) differs across engines.
    *
    * @return (t, n_risk, n_event, n_censored, survival), ordered-safe
    *         for the caller to sort by t. */
  def kaplanMeier(df: DataFrame, durationCol: String,
                  eventCol: String): DataFrame = {
    val ev = col(eventCol).cast("boolean").cast("int").cast("long")
    val life = df.groupBy(col(durationCol).as("t"))
      .agg(sum(ev).as("d"), sum(lit(1L) - ev).as("c"))
    // single-partition windows over the ≤ |durations|-row life table —
    // model-sized by construction, not a corpus-wide funnel
    val wOrd = Window.orderBy("t")
    val wCum = wOrd.rowsBetween(Window.unboundedPreceding, 0)
    val total = sum(col("d") + col("c"))
      .over(Window.partitionBy())
    val removedBefore = coalesce(
      sum(col("d") + col("c")).over(
        wOrd.rowsBetween(Window.unboundedPreceding, -1)), lit(0L))
    val staged = life
      .withColumn("n_risk", total - removedBefore)
      .withColumn("__lnf",
        when(col("d") < col("n_risk"),
          log(lit(1.0) - col("d").cast("double") / col("n_risk")))
          .otherwise(lit(0.0)))
      .withColumn("__dead",
        max(when(col("d") === col("n_risk"), 1).otherwise(0)).over(wCum))
      .withColumn("survival",
        when(col("__dead") === 1, lit(0.0))
          .otherwise(exp(sum(col("__lnf")).over(wCum))))
    staged.where(col("d") > 0)
      .select(col("t"), col("n_risk"), col("d").as("n_event"),
        col("c").as("n_censored"), col("survival"))
  }

  /** Two-sided CUSUM change-point scores per key: the classic recursion
    * S⁺ᵢ = max(0, S⁺ᵢ₋₁ + (xᵢ − target − slack)) (upward shift) and
    * S⁻ᵢ = max(0, S⁻ᵢ₋₁ + (target − slack − xᵢ)) (downward), alarming
    * when either exceeds `threshold` — the sequential level-shift
    * detector behind drift/quality monitoring (Page 1954).
    *
    * The max-reset recursion looks inherently sequential, but by the
    * reflection identity Sᵢ = Pᵢ − min(0, P₁..Pᵢ) (P = running sum of
    * the drift-adjusted terms) it is TWO stacked window passes: a
    * cumulative sum, then a running min over it — same (key, order)
    * spec, so ONE exchange and ONE sort; no per-key sequential fold, no
    * driver loop. Inputs nano-quantize to integers (the
    * [[graft.operators.Profile.calibrationReport]] convention) and both
    * running passes accumulate in DECIMAL(38,0), so P and min(P) are
    * association-order-exact and the alarm comparison is an integer
    * compare — bit-identical in any engine that mirrors the tree.
    * Doubles appear only in the final /1e9 presentation of the scores.
    *
    * NULL values pass through with NULL scores and no alarm (an absent
    * measurement is not evidence of a shift) and do NOT advance the
    * recursion: the running sums skip them, so Sᵢ resumes from the last
    * real observation — mirror with a WHERE v9 IS NOT NULL guard or
    * conditional sums, as the oracle does.
    *
    * QUANTIZATION DOMAIN: |value| must stay ≤ 9.2e9 for the nano
    * quantization to fit a long. Values outside that domain (and NaN /
    * ±Inf) are treated exactly like NULL — skipped, no alarm, no
    * recursion advance — rather than saturating, so the batch operator,
    * [[graft.streaming.GraftStreaming.cusumStream]], and an engine
    * whose overflow behavior differs (DuckDB raises on the cast) can
    * never silently diverge on garbage input. A monitored metric nine
    * orders of magnitude above its target is a data bug, not a shift
    * score. */
  def cusum(df: DataFrame, partitionBy: Seq[String], orderBy: Seq[String],
            valueCol: String, target: Double, slack: Double,
            threshold: Double): DataFrame = {
    require(slack >= 0, s"slack must be >= 0, got $slack")
    require(threshold > 0, s"threshold must be positive, got $threshold")
    val dec38 = org.apache.spark.sql.types.DecimalType(38, 0)
    // one shared nano quantization for value and the three parameters —
    // the literals are computed HERE and must be inlined verbatim into
    // any mirroring SQL (the ewmaWeights shared-literal posture)
    val t9 = math.round(target * 1e9)
    val k9 = math.round(slack * 1e9)
    val h9 = math.round(threshold * 1e9)
    // domain guard: out-of-range (incl. NaN/Inf) quantizations become
    // NULL and ride the existing NULL-skip path instead of saturating —
    // the comparison is false for NaN, so `when` yields NULL there too
    val v9 = when(abs(col(valueCol)) <= lit(QuantizeDomain),
      round(col(valueCol) * 1e9).cast("long"))
    val w = spec(partitionBy, orderBy)
      .rowsBetween(Window.unboundedPreceding, 0)
    val zero = lit(0).cast(dec38)
    // windows can't nest, so the running sums materialize in a first
    // pass and the running mins read them in a second — same (key,
    // order) spec both times, so the second Window rides the first's
    // exchange + sort (no new shuffle). Both sums go in ONE select (and
    // both mins in one) so each pass is a single Window node — chained
    // withColumns would interleave the dependencies and split them into
    // three (digest-gated at 2)
    val sums = df
      .withColumn("__v9", v9)
      .select(col("*"),
        sum((col("__v9") - lit(t9 + k9)).cast(dec38)).over(w).as("__phi"),
        sum((lit(t9 - k9) - col("__v9")).cast(dec38)).over(w).as("__plo"))
    val staged = sums
      .select(col("*"),
        min(col("__phi")).over(w).as("__mhi"),
        min(col("__plo")).over(w).as("__mlo"))
      .withColumn("__shi", col("__phi") - least(zero, col("__mhi")))
      .withColumn("__slo", col("__plo") - least(zero, col("__mlo")))
      .drop("__phi", "__plo", "__mhi", "__mlo")
    staged
      .withColumn("s_hi",
        when(col("__v9").isNotNull, col("__shi").cast("double") / 1e9))
      .withColumn("s_lo",
        when(col("__v9").isNotNull, col("__slo").cast("double") / 1e9))
      .withColumn("alarm", col("__v9").isNotNull &&
        (col("__shi") > lit(h9) || col("__slo") > lit(h9)))
      .drop("__v9", "__shi", "__slo")
  }

  /** Trailing-window exact quantile per key (pandas
    * `rolling(w).quantile(p)` / rolling median at p = 0.5) — the
    * robust local-level signal where a rolling MEAN is dragged by the
    * spikes being monitored.
    *
    * One Window node over the shared (key, order, trailing-rows) frame;
    * the exact `percentile` aggregate buffers the ≤ `window` frame
    * values per row (cost ∝ window length, independent of key size —
    * that bound is what makes EXACT affordable here when the grouped
    * robustZScore needs an `approxAccuracy` seam). Engine-exact:
    * linear-interpolated percentile matches DuckDB quantile_cont
    * (q_group_quantile's proven parity). NULLs are skipped by the
    * aggregate; an all-NULL window yields NULL. */
  def rollingQuantile(df: DataFrame, partitionBy: Seq[String],
                      orderBy: Seq[String], valueCol: String, p: Double,
                      window: Int, outCol: String = "rq"): DataFrame = {
    require(window >= 1, s"window must be >= 1, got $window")
    require(p >= 0 && p <= 1, s"p must be in [0, 1], got $p")
    val w = spec(partitionBy, orderBy).rowsBetween(-(window - 1), 0)
    df.withColumn(outCol,
      percentile(col(valueCol).cast("double"), lit(p)).over(w))
  }

  /** Trailing-window Pearson correlation of two columns per key — the
    * local co-movement signal (value vs. its own lag = rolling
    * autocorrelation; metric vs. metric = rolling coupling) behind
    * regime-change monitoring.
    *
    * All six moments (n, Σx, Σy, Σx², Σy², Σxy) run over ONE shared
    * (key, order, trailing-`window`-rows) frame, so they fuse into a
    * single Window node: one exchange, one sort, regardless of window
    * length. Engine-exact by the [[zscore]] recipe: linear sums in
    * DECIMAL(18,4) casts, product sums as one IEEE double multiply cast
    * to scale-8 decimal (digit-identical to the oracle's DECIMAL(38,8)
    * for |x·y| < 1e19), doubles only at the final combination — two
    * engines mirroring the tree agree bit-for-bit. Rows where either
    * side is NULL are excluded PAIRWISE (conditional sums), and windows
    * with n < 2 or a zero-variance side yield NULL, never ±Inf/NaN.
    *
    * Bounds: |x|, |y| < 1e14 (DECIMAL(18,4)) and |x²|, |y²|, |x·y| < 1e19
    * (DECIMAL(27,8)). With ANSI off an overflowing cast is NULL, which
    * would drop that row's term from its sum while n still counts it; a
    * seventh running count over the same frames tracks such rows (and
    * NaN/±Inf inputs), and any window holding one yields NULL. */
  def rollingCorr(df: DataFrame, partitionBy: Seq[String],
                  orderBy: Seq[String], xCol: String, yCol: String,
                  window: Int, outCol: String = "corr"): DataFrame = {
    require(window >= 2, s"window must be >= 2, got $window")
    val dec18 = org.apache.spark.sql.types.DecimalType(18, 4)
    // product terms cast to (27,8), NOT (38,8): identical digits for
    // |x·y| < 1e19 (same scale-8 HALF_UP rounding), but sum() then lands
    // at (37,8), so the cum − lag(cum) subtraction below types at
    // (38,8) — exact, no scale loss. With (38,8) terms the cumulative
    // is already precision 38 and Spark's decimal subtraction must DROP
    // scale (precision-loss rounding) — a ~1e-9 drift TemporalPropSpec
    // catches. Bounds: |x·y| < 1e19 per row, |Σ| < 1e29 per partition
    // prefix (the unbounded cumulative), both documented headroom far
    // above the metric ranges this operator serves.
    val dec27 = org.apache.spark.sql.types.DecimalType(27, 8)
    // a bounded ROWS frame makes Spark re-aggregate the whole frame per
    // row (O(window)/row); each trailing sum is instead the difference
    // of two O(1)-per-row frames — the running sum minus its value
    // `window` rows back (guide §1.2, per-task work). Decimal sums are
    // exact, so cum[i] − cum[i−window] equals the frame sum bit for bit
    // (a frame whose prefix is all-NULL has a NULL/absent lag — the
    // 0-coalesce is exactly "nothing to subtract"); every downstream
    // NULL gate keys off n, which is never NULL per row.
    val wCum = spec(partitionBy, orderBy)
      .rowsBetween(Window.unboundedPreceding, 0)
    val wOrd = spec(partitionBy, orderBy)
    val both = col(xCol).isNotNull && col(yCol).isNotNull
    val x = when(both, col(xCol).cast("double"))
    val y = when(both, col(yCol).cast("double"))
    val moments = Seq(
      "sx" -> x.cast(dec18), "sy" -> y.cast(dec18),
      "sxx" -> (x * x).cast(dec27), "syy" -> (y * y).cast(dec27),
      "sxy" -> (x * y).cast(dec27))
    val overflow = both && moments.map(_._2.isNull).reduce(_ || _)
    val terms = ("n" -> when(both, 1L).otherwise(0L).cast("long")) +:
      ("ov" -> when(overflow, 1L).otherwise(0L).cast("long")) +: moments
    val withCum = df.select(col("*") +: terms.map { case (nm, t) =>
      sum(t).over(wCum).as(s"__rc_$nm") }: _*)
    def roll(nm: String): Column = {
      val cum = col(s"__rc_$nm")
      cum - coalesce(lag(cum, window).over(wOrd), lit(0))
    }
    val n = roll("n")
    val ov = roll("ov")
    val sx = roll("sx").cast("double")
    val sy = roll("sy").cast("double")
    val sxx = roll("sxx").cast("double")
    val syy = roll("syy").cast("double")
    val sxy = roll("sxy").cast("double")
    val cov = n * sxy - sx * sy
    val vx = n * sxx - sx * sx
    val vy = n * syy - sy * sy
    withCum.withColumn(outCol,
        when(n >= 2 && ov === 0 && vx > 0 && vy > 0, cov / sqrt(vx * vy)))
      .drop(terms.map { case (nm, _) => s"__rc_$nm" }: _*)
  }

  /** Holt's double exponential smoothing (level + linear trend) per
    * key, folded over the key's LAST `maxHistory` observations — the
    * trend-aware successor to [[q_ewma]]'s level-only smoothing, and
    * the one-step forecast (level + trend) behind "is this user's
    * activity ramping or decaying". The bounded history is the batch
    * engine's honest form of the recursion (the exact unbounded fold is
    * the STREAMING shape — [[graft.streaming.GraftStreaming.ewmaStream]]'s
    * argument): α/β-geometric weights make observations beyond ~30
    * steps numerically irrelevant, and the bound keeps per-key state
    * O(maxHistory) with ONE key shuffle total.
    *
    * Initialization: level₀ = v₁, trend₀ = v₂ − v₁ (0 for singleton
    * keys); then the textbook recursion lₜ = α·vₜ + (1−α)(l+t),
    * tₜ = β(lₜ−l) + (1−β)t, folded LEFT-TO-RIGHT on both engines
    * (Spark `aggregate` ≡ DuckDB `list_reduce`) with identical IEEE
    * sequences.
    *
    * Output: (partitionBy*, n_obs, level, trend, forecast). */
  def holtSmooth(df: DataFrame, partitionBy: Seq[String],
                 orderBy: Seq[String], valueCol: String,
                 alpha: Double, beta: Double,
                 maxHistory: Int = 16): DataFrame = {
    require(maxHistory >= 2 && maxHistory <= 256,
      s"maxHistory must be in [2,256], got $maxHistory")
    val wDesc = Window.partitionBy(partitionBy.map(col): _*)
      .orderBy(orderBy.map(c => col(c).desc): _*)
    val ordStruct = struct(
      (orderBy.map(col) :+ col(valueCol).cast("double").as("__v")): _*)
    val seqs = df
      .withColumn("__rn", row_number().over(wDesc))
      .where(col("__rn") <= maxHistory)
      .groupBy(partitionBy.map(col): _*)
      .agg(sort_array(collect_list(ordStruct)).as("__os"))
      .select(partitionBy.map(col) :+
        transform(col("__os"), s => s.getField("__v")).as("__vs"): _*)
    val n = size(col("__vs"))
    val l0 = element_at(col("__vs"), 1)
    val t0 = when(n >= 2, element_at(col("__vs"), 2) - l0)
      .otherwise(lit(0.0))
    val folded = aggregate(
      slice(col("__vs"), lit(3), greatest(n - 2, lit(0))),
      array(l0, t0),
      (acc, v) => {
        val l = element_at(acc, 1)
        val t = element_at(acc, 2)
        val lp = lit(alpha) * v + lit(1 - alpha) * (l + t)
        array(lp, lit(beta) * (lp - l) + lit(1 - beta) * t)
      })
    seqs.select(partitionBy.map(col) ++ Seq(n.cast("long").as("n_obs"),
      element_at(folded, 1).as("level"),
      element_at(folded, 2).as("trend"),
      (element_at(folded, 1) + element_at(folded, 2)).as("forecast")): _*)
  }

  /** Sample autocorrelation per key at lags 1..`maxLag` — the
    * seasonality/burstiness diagnostic behind "does this key's value
    * series remember itself" (feeds lag choice for [[holtSmooth]] /
    * resampling periods). ONE key-ordered window pass materializes the
    * lag columns, then ONE grouped aggregate collects exact quantized
    * cross-moments; r_k derives from the integer identity
    * n²·Σ(x−m)(y−m) = n²Σxy − nΣx·(H+T) + (n−k)(Σx)² (all
    * decimal(38,0)-exact, so the statistic is partition-invariant and
    * oracle-replayable; ONE double division at the end).
    *
    * Output: (partitionBy*, lag, n, r) for lags 1..maxLag, r NULL when
    * the key's variance is zero or n ≤ lag. */
  def autocorr(df: DataFrame, partitionBy: Seq[String],
               orderBy: Seq[String], valueCol: String,
               maxLag: Int): DataFrame = {
    require(maxLag >= 1 && maxLag <= 12, s"maxLag must be in [1,12]")
    val w = spec(partitionBy, orderBy)
    val d38 = (c: Column) => c.cast("decimal(38,0)")
    val q = floor(col(valueCol).cast("double") * lit(1e9)).cast("long")
    val lagged = df.select(
      partitionBy.map(col) ++ Seq(q.as("__q")) ++
        (1 to maxLag).map(k => lag(q, k).over(w).as(s"__q$k")): _*)
    val aggs =
      Seq(count(lit(1)).as("__n"), sum(d38(col("__q"))).as("__s"),
        sum(d38(col("__q")) * d38(col("__q"))).as("__ss")) ++
      (1 to maxLag).flatMap { k =>
        val ok = col(s"__q$k").isNotNull
        Seq(
          sum(when(ok, d38(col("__q")) * d38(col(s"__q$k"))))
            .as(s"__xy$k"),
          sum(when(ok, d38(col("__q")))).as(s"__h$k"),
          sum(when(ok, d38(col(s"__q$k")))).as(s"__t$k"))
      }
    val stats = lagged.groupBy(partitionBy.map(col): _*)
      .agg(aggs.head, aggs.tail: _*)
    val n38 = d38(col("__n"))
    val den = n38 * n38 * col("__ss") - n38 * (col("__s") * col("__s"))
    val perLag = (1 to maxLag).map { k =>
      val num = n38 * n38 * col(s"__xy$k") -
        n38 * (col("__s") * (col(s"__h$k") + col(s"__t$k"))) +
        d38(col("__n") - k) * (col("__s") * col("__s"))
      struct(lit(k).as("lag"),
        when(col("__n") > k && den > 0,
          num.cast("double") / den.cast("double")).as("r"))
    }
    stats.select(partitionBy.map(col) ++ Seq(col("__n"),
        explode(array(perLag: _*)).as("__l")): _*)
      .select(partitionBy.map(col) ++ Seq(col("__l.lag").as("lag"),
        col("__n").as("n"), col("__l.r").as("r")): _*)
  }

  /** [[autocorr]] as DuckDB SQL over an `e(key, ord..., v)` CTE —
    * identical lags, HUGEINT-exact moments, the same integer identity
    * and single division. Emits an `acf` CTE (key, lag, n, r). */
  def autocorrOracleCtes(eCte: String, keyRef: String,
                         ordRefs: Seq[String], maxLag: Int): String = {
    val ord = ordRefs.mkString(", ")
    val lagCols = (1 to maxLag).map(k =>
      s"lag(q, $k) OVER (PARTITION BY $keyRef ORDER BY $ord) AS q$k")
      .mkString(",\n       |    ")
    val momCols = (1 to maxLag).map(k =>
      s"""sum(CASE WHEN q$k IS NOT NULL THEN CAST(q AS HUGEINT)
         |      * CAST(q$k AS HUGEINT) END) AS xy$k,
         |    sum(CASE WHEN q$k IS NOT NULL THEN CAST(q AS HUGEINT) END)
         |      AS h$k,
         |    sum(CASE WHEN q$k IS NOT NULL THEN CAST(q$k AS HUGEINT) END)
         |      AS t$k""".stripMargin).mkString(",\n       |    ")
    val lagRows = (1 to maxLag).map { k =>
      s"""  SELECT $keyRef, $k AS lag, n,
         |    CASE WHEN n > $k AND CAST(n AS HUGEINT) * CAST(n AS HUGEINT)
         |          * ss - CAST(n AS HUGEINT) * (s * s) > 0
         |      THEN CAST(CAST(n AS HUGEINT) * CAST(n AS HUGEINT) * xy$k
         |          - CAST(n AS HUGEINT) * (s * (h$k + t$k))
         |          + CAST(n - $k AS HUGEINT) * (s * s) AS DOUBLE)
         |        / CAST(CAST(n AS HUGEINT) * CAST(n AS HUGEINT) * ss
         |          - CAST(n AS HUGEINT) * (s * s) AS DOUBLE)
         |      END AS r
         |  FROM mom""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"""$eCte,
       |qv AS (SELECT $keyRef,
       |    CAST(floor(CAST(v AS DOUBLE) * 1e9) AS BIGINT) AS q,
       |    $lagCols
       |  FROM e),
       |mom AS (SELECT $keyRef, CAST(count(*) AS BIGINT) AS n,
       |    sum(CAST(q AS HUGEINT)) AS s,
       |    sum(CAST(q AS HUGEINT) * CAST(q AS HUGEINT)) AS ss,
       |    $momCols
       |  FROM qv GROUP BY $keyRef),
       |acf AS (
       |$lagRows
       |)""".stripMargin
  }

  /** [[holtSmooth]] as DuckDB SQL over an `e(key, ord..., v)` CTE the
    * caller supplies — the same last-N window, left-to-right
    * list_reduce (state carried as a 2-element DOUBLE list), identical
    * recursion constants. Emits the `hw` CTE
    * (key, n_obs, level, trend, forecast); chain a SELECT after it. */
  def holtOracleCtes(eCte: String, keyRef: String, ordRefs: Seq[String],
                     alpha: Double, beta: Double,
                     maxHistory: Int = 16): String = {
    val ordAsc = ordRefs.mkString(", ")
    val ordDesc = ordRefs.map(_ + " DESC").mkString(", ")
    val lp = s"$alpha * x[1] + ${1 - alpha} * (acc[1] + acc[2])"
    s"""$eCte,
       |lastn AS (SELECT *, row_number() OVER (PARTITION BY $keyRef
       |    ORDER BY $ordDesc) AS rn FROM e),
       |seqs AS (SELECT $keyRef, list(v ORDER BY $ordAsc) AS vs
       |  FROM lastn WHERE rn <= $maxHistory GROUP BY $keyRef),
       |prep AS (SELECT $keyRef, len(vs) AS n_obs,
       |    CASE WHEN len(vs) >= 2 THEN [vs[1], vs[2] - vs[1]]
       |         ELSE [vs[1], 0.0] END AS s0,
       |    list_transform(list_slice(vs, 3, len(vs)), v -> [v, 0.0])
       |      AS rest
       |  FROM seqs),
       |hw AS (SELECT $keyRef, n_obs,
       |    list_reduce(list_concat([s0], rest),
       |      (acc, x) -> [$lp,
       |        $beta * (($lp) - acc[1]) + ${1 - beta} * acc[2]])[1]
       |      AS level,
       |    list_reduce(list_concat([s0], rest),
       |      (acc, x) -> [$lp,
       |        $beta * (($lp) - acc[1]) + ${1 - beta} * acc[2]])[2]
       |      AS trend,
       |    level + trend AS forecast
       |  FROM prep)""".stripMargin
  }
}
