package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.sql.streaming.{DataStreamWriter, StreamingQuery, Trigger}

/** Structured Streaming surface (SURVEY.md §2.11: absent in the reference,
  * built Spark-native as an extension axis): watermarked event-time
  * windows, streaming dedup, and stateful counters over the `events`
  * schema. readStream → transform → writeStream; state lives in Spark's
  * checkpointed state store, not the driver. */
object GraftStreaming {

  /** events.parquet schema with `ts` at the given type — the testdata
    * has shipped both timestamp[us] (→ TIMESTAMP_NTZ) and timestamp[ns]
    * (→ Long under nanosAsLong); file streams need an explicit schema,
    * so [[readEvents]]/[[readEventsGlob]] read the actual type from one
    * footer and [[tsToEpochNs]] converges both vintages downstream. */
  def eventsSchema(tsType: org.apache.spark.sql.types.DataType): StructType =
    StructType(Seq(
      StructField("event_id", LongType), StructField("ts", tsType),
      StructField("user_id", LongType), StructField("event_type", StringType),
      StructField("value", DoubleType), StructField("props", StringType)))

  /** THE ts-vintage seam, shared by batch (queries.Glue.table) and
    * streaming ([[normalizeTs]]): a TIMESTAMP/TIMESTAMP_NTZ `ts` becomes
    * epoch-ns `unix_micros * 1000` (UTC session, so the NTZ→instant cast
    * is the identity and matches DuckDB's epoch_us/epoch_ns on the same
    * file); a Long ts (the ns vintage under nanosAsLong) passes through.
    * A new vintage gets taught HERE and nowhere else. */
  def tsToEpochNs(df: DataFrame): DataFrame =
    df.schema("ts").dataType match {
      case TimestampType | TimestampNTZType =>
        df.withColumn("ts", unix_micros(col("ts").cast("timestamp")) * lit(1000L))
      case _ => df
    }

  /** [[tsToEpochNs]] + derived `event_time` — the full streaming read
    * normalization. Public so batch-parity specs can apply the identical
    * transform to the static frame. */
  def normalizeTs(df: DataFrame): DataFrame = {
    val withNs = tsToEpochNs(df)
    withNs.withColumn("event_time", eventTime(col("ts")))
  }

  /** The actual ts type in the parquet footers under `dir` (one batch
    * footer read at stream-construction time — both vintages stream). */
  private def tsTypeOf(spark: SparkSession, dir: String,
                       glob: Option[String]): org.apache.spark.sql.types.DataType = {
    val r = spark.read
    glob.foreach(g => r.option("pathGlobFilter", g))
    r.parquet(dir).schema("ts").dataType
  }

  /** File-based event stream from a directory of parquet drops. */
  def readEvents(spark: SparkSession, dir: String): DataFrame =
    normalizeTs(spark.readStream
      .schema(eventsSchema(tsTypeOf(spark, dir, None))).parquet(dir))

  /** Stream a single table out of a directory holding several (file
    * streams require a directory source). */
  def readEventsGlob(spark: SparkSession, dir: String, glob: String): DataFrame =
    normalizeTs(spark.readStream
      .schema(eventsSchema(tsTypeOf(spark, dir, Some(glob))))
      .option("pathGlobFilter", glob).parquet(dir))

  /** ns→event time via exact integer division (`div` = IntegralDivide —
    * a double `/1e9` has ~128 ns of rounding error at 2e18 ns epoch
    * values, enough to flip a second boundary). Second truncation never
    * moves an event across a window boundary at >=1s window granularity. */
  def eventTime(tsNanos: Column): Column =
    timestamp_seconds(call_function("div", tsNanos, lit(1000000000L)))

  /** Sliding event-time windowed aggregation with a watermark: per
    * (window, event_type) counts and decimal-exact value sums. */
  def windowedCounts(events: DataFrame, watermark: String = "10 minutes",
                     window_ : String = "5 minutes",
                     slide: String = null): DataFrame =
    events
      .withWatermark("event_time", watermark)
      .groupBy(window(col("event_time"), window_,
        Option(slide).getOrElse(window_)), col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast(DecimalType(18, 6))).cast("double").as("total"))

  /** Point-in-time enrichment at ingest — the feature-store lookup:
    * each event joins the dimension VERSION that was valid at the
    * event's own time (an SCD2 interval table: `dimFrom` ≤ t < `dimTo`,
    * NULL `dimTo` = current), not the version valid now — the
    * train/serve-skew guard: enriching historical events with today's
    * attributes silently leaks the future into features.
    *
    * The fourth streaming join shape next to stream-stream, dedup, and
    * equality enrichment: the dimension BROADCASTS (dimensions are
    * version tables, small by construction) and the interval predicate
    * evaluates map-side per micro-batch — ZERO streaming state, no
    * watermark. An event at exactly a version boundary takes the NEW
    * version (`dimFrom` inclusive); events before the key's first
    * version carry NULL (left join). `tsCol` is the stream's epoch-ns
    * seam, compared in µs like every oracle-visible fold. */
  def pointInTimeEnrich(events: DataFrame, dim: DataFrame,
                        keyCols: Seq[String], tsCol: String,
                        dimVals: Seq[String],
                        dimFrom: String = "valid_from",
                        dimTo: String = "valid_to"): DataFrame = {
    require(dimVals.nonEmpty, "pointInTimeEnrich needs dimension columns")
    val e = events.withColumn("__tsu", expr(s"$tsCol DIV 1000")).alias("__e")
    val d = dim.alias("__d")
    val keyCond = keyCols.map(k => col(s"__e.$k") === col(s"__d.$k"))
      .reduce(_ && _)
    val timeCond = col(s"__d.$dimFrom") <= col("__tsu") &&
      (col(s"__d.$dimTo").isNull || col("__tsu") < col(s"__d.$dimTo"))
    e.join(broadcast(d), keyCond && timeCond, "left")
      .select(Seq(col("__e.*")) ++ dimVals.map(v => col(s"__d.$v")): _*)
      .drop("__tsu")
  }

  /** Per-window approximate distinct users at ingest: windowed
    * `approx_count_distinct` (HLL++) — EXACT per-window distinct does
    * not exist as an incremental streaming aggregate (it would need a
    * per-window value SET in the state store; Spark rejects streaming
    * DISTINCT aggregates outright), so the sketch is not an
    * optimization here but the only bounded-state answer: one
    * fixed-size HLL buffer per (window, type) regardless of user
    * cardinality, watermark-pruned. `rsd` trades buffer size for
    * error; the demo query joins the drained estimates against the
    * batch-exact counts and asserts the advertised tolerance — the
    * honesty-check pattern (q_approx_distinct / q_approx_quantile)
    * applied to streaming state. */
  def approxDistinctUsers(events: DataFrame, watermark: String = "10 minutes",
                          window_ : String = "1 hour",
                          rsd: Double = 0.02): DataFrame =
    events
      .withWatermark("event_time", watermark)
      .groupBy(window(col("event_time"), window_), col("event_type"))
      .agg(approx_count_distinct(col("user_id"), rsd).as("n_users_approx"))

  /** Gap-based session aggregation via Spark's NATIVE `session_window`
    * — the built-in-first counterpart of [[sessionize]] (custom
    * flatMapGroupsWithState): when per-session output is just
    * aggregates (count/sum/bounds), the built-in operator already
    * expresses it, the state store handles merge/expiry, and there is
    * no per-key fold to maintain. Reach for [[sessionize]] only when a
    * session needs custom state (ordered event lists, early emission).
    *
    * Semantics: an event extends a session while its time is within
    * `gap` of the previous event INCLUSIVE — diff == gap MERGES (the
    * new event's window [t, t+gap) starts exactly at the session end
    * and Spark coalesces adjacent windows; a planted boundary spec pins
    * this, and it matches [[sessionize]]'s `<= gapNs` merge and the
    * batch `sessionIds` rule, so all three sessionizers agree on
    * boundary-distance events); `session_end` = last event + gap.
    * State is one
    * aggregation buffer per open session, watermark-evicted. In append
    * mode a session only emits once the watermark passes its close —
    * for a bounded replay, union far-future sentinel copies per key
    * (the [[sessionize]] demo's trick) so every real session
    * finalizes. */
  def sessionWindowStats(events: DataFrame, gap: String,
                         watermark: String = "30 minutes"): DataFrame =
    events
      .withWatermark("event_time", watermark)
      .groupBy(col("user_id"), session_window(col("event_time"), gap))
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast(DecimalType(18, 6))).cast("double").as("total"))
      .select(col("user_id"),
        col("session_window.start").as("session_start"),
        col("session_window.end").as("session_end"),
        col("n_events"), col("total"))

  /** Streaming OHLC bars: per (event-time window, type), open/high/low/
    * close + count at ingest — [[graft.operators.WindowOps.resampleOhlc]]
    * as a watermarked stateful aggregate, so the tick stream compacts to
    * chartable bars as it lands instead of via a batch rescan.
    *
    * open/close are `min_by`/`max_by` on the (µs ts, event_id) struct —
    * the tiebreak runs on the MICROSECOND base because the oracle
    * engine only sees µs (DuckDB truncates parquet ns timestamps), so
    * a ns-base ordering could pick a different same-µs event than the
    * oracle (parity spec'd against the batch twin on the same base).
    * State is one aggregate buffer per (window, type): a handful of
    * doubles plus the two tiebreak structs, never a row buffer. The
    * watermark prunes state in update/append output modes — the
    * production posture for an unbounded stream; COMPLETE mode (the
    * deterministic-full-output choice of the demo query) retains every
    * window's buffer by definition, bounded by |windows × types| of
    * the replayed corpus, not by the watermark. */
  def ohlcStream(events: DataFrame, watermark: String = "1 hour",
                 window_ : String = "1 hour"): DataFrame = {
    val tsu = call_function("div", col("ts"), lit(1000L))
    events
      .withWatermark("event_time", watermark)
      .groupBy(window(col("event_time"), window_), col("event_type"))
      .agg(count(lit(1)).as("n"),
        min_by(col("value"), struct(tsu, col("event_id"))).as("open"),
        max("value").as("high"),
        min("value").as("low"),
        max_by(col("value"), struct(tsu, col("event_id"))).as("close"))
  }

  /** Stream-static enrichment: join each streaming event to a STATIC
    * dimension table (no state at all — the dimension broadcasts and
    * every micro-batch joins map-side; the third Structured Streaming
    * join shape next to stream-stream and stateful). Unmatched events
    * pass through with NULL dimension columns via the left join so a
    * dimension gap never drops events. */
  def enrichWithStatic(stream: DataFrame, dim: DataFrame,
                       streamKey: String, dimKey: String): DataFrame =
    stream.join(broadcast(dim), col(streamKey) === col(dimKey), "left_outer")

  /** Trending keys per event-time window: top-k by count with a
    * deterministic (n desc, key asc) tiebreak. Runs batch-side over a
    * COMPLETED windowed aggregation ([[windowedCounts]] drained to a
    * sink) — the input is already window-reduced (rows = windows ×
    * keys, not events), so the per-window rank is over a tiny relation
    * and the streaming side keeps its bounded watermarked state. */
  def trendingTopK(windowCounts: DataFrame, keyCol: String, k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("window")).orderBy(col("n").desc, col(keyCol))
    windowCounts.withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
  }

  /** Per-key last-emission compaction over an UPDATE-mode drain. Update
    * output mode keeps the watermark eviction the complete-mode drains
    * forgo (the documented per-window state bound actually holds in a
    * continuous run), but a memory/file sink receives every re-emission
    * of a changed key as a NEW row — the drained relation is a
    * changelog, not a table. For cumulative aggregates the final
    * snapshot of a key is the row with the largest value of a
    * monotonically increasing `seqCol` (a count: update mode emits a
    * key only when it changed, and counts only grow, so the max is
    * unique); one `max_by` hash aggregate recovers the table view.
    * Keys must not be re-emitted with an unchanged `seqCol` (true of
    * count-bearing aggregates by the emit-on-change rule) — CHECKED at
    * runtime, not just documented: a duplicate (key, seq) value would
    * make `max_by` pick among ties nondeterministically, so the drain
    * is counted against its distinct (key, seq) projection first and a
    * regressing/non-monotone seq column fails loud (one cheap aggregate
    * over the already-drained batch relation — the sgnsFit
    * init-duplicate guard's posture). */
  def compactUpdateDrain(drained: DataFrame, keyCols: Seq[String],
                         seqCol: String): DataFrame = {
    require(keyCols.nonEmpty, "need at least one compaction key")
    val others = drained.columns.filterNot(keyCols.contains)
    require(others.contains(seqCol), s"$seqCol must be a non-key column")
    val chk = drained.agg(count(lit(1)).as("n"),
      count_distinct(struct((keyCols :+ seqCol).map(col): _*)).as("d")).first()
    require(chk.getLong(0) == chk.getLong(1),
      s"compactUpdateDrain: '$seqCol' is not strictly increasing per key " +
        s"(${chk.getLong(0)} drained rows, only ${chk.getLong(1)} distinct " +
        s"(${keyCols.mkString(",")}, $seqCol) — the latest-row compaction " +
        "would be nondeterministic)")
    drained.groupBy(keyCols.map(col): _*)
      .agg(max_by(struct(others.map(col): _*), col(seqCol)).as("__last"))
      .select(keyCols.map(col) ++
        others.map(c => col(s"__last.$c").as(c)): _*)
  }

  /** Streaming exact dedup on a key within the watermark horizon — the
    * streaming face of Dedup.exact (state pruned by event time). */
  def dedupStream(events: DataFrame, keyCols: Seq[String],
                  watermark: String = "10 minutes"): DataFrame =
    events.withWatermark("event_time", watermark)
      .dropDuplicatesWithinWatermark(keyCols :+ "event_time")

  /** One user's session summary (stateful sessionization output). */
  case class SessionSummary(userId: Long, nEvents: Long, totalValue: Double,
                            firstTsNs: Long, lastTsNs: Long, closed: Boolean)

  /** internal session accumulator (public: codegen'd serializers live in
    * another package and need access) */
  case class SessionState(sN: Long, sTotal: Double, sFirst: Long, sLast: Long)

  /** Custom keyed state: sessionize events per user with an inactivity
    * gap. Demonstrates `flatMapGroupsWithState` — arbitrary state in
    * Spark's checkpointed store, emitted when the gap elapses (event-time
    * semantics via the watermark).
    *
    * MEMORY (hot keys): like every flatMapGroupsWithState operator that
    * must see a key's rows in event-time order, one key's MICRO-BATCH
    * slice is materialized to sort it — per-key memory is bounded by
    * rows-per-key-per-trigger, not by history (state itself is one
    * 4-field summary per key). Size triggers (maxFilesPerTrigger /
    * maxOffsetsPerTrigger) so the hottest key's batch slice fits an
    * executor; see [[ewmaStream]] for the capped variant of this
    * pattern. */
  def sessionize(events: DataFrame, gapNs: Long,
                 watermark: String = "30 minutes"): DataFrame = {
    import org.apache.spark.sql.{Encoders, Row}
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    implicit val stateEnc = Encoders.product[SessionState]
    implicit val outEnc = Encoders.product[SessionSummary]
    implicit val rowEnc = Encoders.row(events.schema)
    implicit val keyEnc = Encoders.scalaLong
    val withWm = events.withWatermark("event_time", watermark)
    withWm.groupByKey((r: Row) => r.getAs[Long]("user_id"))
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.EventTimeTimeout)(
        (userId: Long, rows: Iterator[Row], state: GroupState[SessionState]) => {
          if (state.hasTimedOut) {
            val s = state.get
            state.remove()
            Iterator(SessionSummary(userId, s.sN, s.sTotal, s.sFirst, s.sLast, closed = true))
          } else {
            val sorted = rows.toSeq.sortBy(_.getAs[Long]("ts"))
            var cur = state.getOption
            val out = Seq.newBuilder[SessionSummary]
            sorted.foreach { r =>
              val ts = r.getAs[Long]("ts")
              val v = r.getAs[Double]("value")
              cur match {
                case Some(s) if ts - s.sLast <= gapNs =>
                  cur = Some(SessionState(s.sN + 1, s.sTotal + v, s.sFirst, ts))
                case Some(s) =>
                  out += SessionSummary(userId, s.sN, s.sTotal, s.sFirst, s.sLast, closed = true)
                  cur = Some(SessionState(1, v, ts, ts))
                case None =>
                  cur = Some(SessionState(1, v, ts, ts))
              }
            }
            cur.foreach { s =>
              state.update(s)
              state.setTimeoutTimestamp(s.sLast / 1000000L + gapNs / 1000000L)
            }
            out.result().iterator
          }
        }).toDF()
  }

  /** One key's current snapshot row (streaming changelog compaction). */
  case class LatestEvent(userId: Long, eventId: Long, tsNs: Long,
                         eventType: String, value: Double)

  /** Streaming changelog → snapshot compaction: the ingest-time twin of
    * [[graft.operators.Dedup.latestByKey]]. Keyed state holds ONE row per
    * key — the current (ts, event_id)-max event — and a key emits only
    * when its latest row CHANGES, so the output is a minimal changelog of
    * snapshot updates (one row per key per touched micro-batch, not one
    * per input event). A single AvailableNow batch therefore emits
    * exactly the batch `latestByKey` result — the oracle.
    *
    * No watermark/timeout: state size IS the snapshot size (one row per
    * live key), which cannot be evicted without forgetting the
    * compaction's own answer — the same bound any upsert sink carries.
    * Late arrivals are handled by VALUE, not clock: an out-of-order
    * event older than the stored row is simply absorbed, never emitted. */
  def latestStream(events: DataFrame): DataFrame = {
    import org.apache.spark.sql.{Encoders, Row}
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    implicit val stateEnc = Encoders.product[LatestEvent]
    implicit val rowEnc = Encoders.row(events.schema)
    implicit val keyEnc = Encoders.scalaLong
    events.groupByKey((r: Row) => r.getAs[Long]("user_id"))
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(
        (userId: Long, rows: Iterator[Row], state: GroupState[LatestEvent]) => {
          val before = state.getOption
          var best = before
          rows.foreach { r =>
            val c = LatestEvent(userId, r.getAs[Long]("event_id"),
              r.getAs[Long]("ts"), r.getAs[String]("event_type"),
              r.getAs[Double]("value"))
            val wins = best.forall(b => c.tsNs > b.tsNs ||
              (c.tsNs == b.tsNs && c.eventId > b.eventId))
            if (wins) best = Some(c)
          }
          if (best != before) { state.update(best.get); Iterator(best.get) }
          else Iterator.empty
        }).toDF()
  }

  /** One member of a key's current bottom-k sample snapshot. `rev`
    * counts the snapshot revisions a key has emitted, so a multi-batch
    * reader selects each key's FINAL sample as `rev = max(rev) per
    * key`. */
  case class SampleMember(userId: Long, eventId: Long, h: String, rev: Long)
  case class SampleState(members: Seq[(String, Long)], rev: Long)

  /** Streaming per-key uniform sample via the BOTTOM-K sketch: keep the
    * k events whose md5(event_id-as-text) hashes are smallest — the
    * mergeable formulation of reservoir sampling (merging two bottom-k
    * sets IS the bottom-k of the union, so micro-batches fold
    * associatively and the result is independent of arrival order or
    * batching — a classic Vitter reservoir is arrival-order-dependent
    * and would never match a batch oracle). The sample convention is
    * EXACTLY [[graft.operators.Sampling.perKey]]'s (md5(id), id) order,
    * so stream ≡ batch: a single AvailableNow pass emits per key the
    * same rows `perKey(events, Seq("user_id"), "event_id", k)` selects.
    *
    * A key emits its FULL ≤ k-row snapshot in each micro-batch where
    * the sample CHANGED (tagged with a per-key revision counter);
    * untouched/unchanged keys emit nothing. State: ≤ k (hash, id)
    * pairs + one counter per key — bounded by construction, no TTL
    * needed (the sample IS the answer; evicting a key forgets it). */
  def bottomKSampleStream(events: DataFrame, k: Int): DataFrame = {
    import org.apache.spark.sql.{Encoders, Row}
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    require(k >= 1, s"k must be >= 1, got $k")
    implicit val stateEnc = Encoders.product[SampleState]
    implicit val outEnc = Encoders.product[SampleMember]
    implicit val rowEnc = Encoders.row(events.schema)
    implicit val keyEnc = Encoders.scalaLong
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8"))
        .map(b => f"$b%02x").mkString
    events.groupByKey((r: Row) => r.getAs[Long]("user_id"))
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(
        (userId: Long, rows: Iterator[Row], state: GroupState[SampleState]) => {
          val prev = state.getOption.getOrElse(SampleState(Seq.empty, 0L))
          val incoming = rows
            .map(r => r.getAs[Long]("event_id"))
            .map(id => (md5hex(id.toString), id))
          // bottom-k of (previous sample ∪ batch) — the sketch merge
          val merged = (prev.members ++ incoming).distinct.sorted.take(k)
          if (merged == prev.members) Iterator.empty
          else {
            val rev = prev.rev + 1
            state.update(SampleState(merged, rev))
            merged.iterator.map { case (h, id) =>
              SampleMember(userId, id, h, rev)
            }
          }
        }).toDF()
  }

  /** One CDC compaction emission: the key's new latest version, with
    * `deleted` true when that version is a tombstone. */
  case class CdcChange(key: Long, ver: Long, value: Double, deleted: Boolean)

  /** Streaming CDC compaction with DELETE tombstones — the ingest-time
    * twin of [[graft.operators.Dedup.applyChangelog]] the way
    * [[latestStream]] twins `latestByKey`: input rows are changelog
    * entries (key, ver, value, op), state is each key's latest version
    * INCLUDING tombstones (a delete must be remembered, or a stale
    * pre-delete update arriving late would resurrect the key), and an
    * emission happens only when a key's latest version CHANGES — the
    * minimal update stream an upsert-capable sink (Delta/Hudi-style
    * MERGE, a KV store) applies directly, with `deleted` telling it
    * DELETE vs UPSERT.
    *
    * `ver` must be strictly increasing per key across its changes (the
    * CDC source's log sequence number; ties have no defined winner and
    * are absorbed arrival-order). Late events older than the stored
    * version are absorbed silently, exactly latestStream's posture, so
    * a re-insert after a delete resurrects the key iff its ver is
    * newer. State: ONE small row per live key — the snapshot-size bound
    * every upsert sink carries anyway; no watermark to mis-tune.
    *
    * Single AvailableNow batch ≡ batch applyChangelog after compacting
    * the emission stream to each key's max-ver row and dropping
    * `deleted` (parity spec-pinned; q_stream_cdc's oracle IS q_cdc's). */
  def cdcStream(changes: DataFrame, deleteOps: Set[String] = Set("D")): DataFrame = {
    import org.apache.spark.sql.{Encoders, Row}
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    require(deleteOps.nonEmpty, "cdcStream needs at least one delete op")
    implicit val stateEnc = Encoders.product[CdcChange]
    implicit val rowEnc = Encoders.row(changes.schema)
    implicit val keyEnc = Encoders.scalaLong
    changes.groupByKey((r: Row) => r.getAs[Long]("key"))
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(
        (key: Long, rows: Iterator[Row], state: GroupState[CdcChange]) => {
          val before = state.getOption
          var best = before
          rows.foreach { r =>
            val c = CdcChange(key, r.getAs[Long]("ver"),
              r.getAs[Double]("value"),
              deleteOps.contains(r.getAs[String]("op")))
            if (best.forall(b => c.ver > b.ver)) best = Some(c)
          }
          if (best != before) { state.update(best.get); Iterator(best.get) }
          else Iterator.empty
        }).toDF()
  }

  /** documents.parquet schema (for file-streamed document corpora). */
  val documentsSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType), StructField("text", StringType),
    StructField("lang", StringType), StructField("source", StringType),
    StructField("n_chars", LongType)))

  /** Stream the documents table out of a directory of parquet drops;
    * event time synthesized from doc_id (ingest order stand-in) unless
    * the caller overwrites it. Shifted one day off epoch zero: a row AT
    * the initial watermark (0) sits exactly on the stateful operators'
    * late-row boundary and is silently dropped. */
  def readDocumentsGlob(spark: SparkSession, dir: String, glob: String): DataFrame =
    spark.readStream.schema(documentsSchema)
      .option("pathGlobFilter", glob).parquet(dir)
      .withColumn("event_time", timestamp_seconds(col("doc_id") + 86400L))

  /** embeddings.parquet schema (for file-streamed probe vectors). */
  val embeddingsSchema: StructType = StructType(Seq(
    StructField("vec_id", LongType),
    StructField("embedding", ArrayType(FloatType)),
    StructField("label", IntegerType)))

  /** Stream the embeddings table out of a directory of parquet drops —
    * the probe-vector feed for [[probeEachBatch]] ANN serving. */
  def readEmbeddingsGlob(spark: SparkSession, dir: String, glob: String): DataFrame =
    spark.readStream.schema(embeddingsSchema)
      .option("pathGlobFilter", glob).parquet(dir)

  /** The SERVING loop over a persisted index: per micro-batch of probe
    * rows, apply `probe` (a batch score-against-stored-index call —
    * [[graft.operators.TextAnalysis.bm25AgainstIndex]],
    * [[graft.operators.Similarity.ivfTopKIndexed]], …) and APPEND the
    * result to `outPath` parquet. This is the runtime face of the
    * build-once indexes: the stream holds ZERO Spark state — the
    * persisted index IS the state, scanned where the executors are —
    * and each arriving query batch pays only its own broadcast-probe
    * joins (the index side stays exchange-free exactly as in batch).
    * With probe ids disjoint across micro-batches the drained output ≡
    * one batch probe of the union (each id is scored exactly once, by
    * the batch it arrived in), which is what lets a single-shot oracle
    * gate the stream bit-for-bit.
    *
    * EXACTLY-ONCE: each micro-batch OVERWRITES its own
    * `batch=<batchId>/` partition directory (a bare parquet `append`
    * would be at-least-once — a retried batch double-appends its
    * results); a replayed batch id lands on the same directory and
    * replaces itself. Readers see the inferred `batch` partition
    * column; the probe queries project it away. */
  def probeEachBatch(stream: DataFrame, outPath: String)
                    (probe: DataFrame => DataFrame): StreamingQuery =
    stream.writeStream
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        // always write (even an empty batch) so outPath exists with the
        // probe's schema for the post-drain read
        probe(batch).write.mode("overwrite")
          .parquet(s"$outPath/batch=$batchId")
      }
      .start()

  /** One emitted near-duplicate pair (id_l < id_r, exact Jaccard). */
  case class NearDupHit(id_l: Long, id_r: Long, jaccard: Double)

  /** One stored bucket member (public: codegen'd serializers live in
    * another package and need access). */
  case class BucketDoc(id: Long, sh: Seq[Long])

  /** Per-(band, bucket) state: members seen within the horizon. */
  case class BucketState(members: Seq[BucketDoc])

  /** STREAMING MinHash near-dup: flag each arriving document against the
    * corpus seen so far — the ingest-time face of
    * [[graft.operators.Dedup.nearDuplicates]] (batch backfill dedups the
    * corpus once; this keeps it deduped as crawls land).
    *
    * Same banded-LSH candidate generation re-expressed over Spark's
    * keyed state store: the per-row MinHash signature and hashed shingle
    * set are pure projections (the [[graft.functions.MinHashSig]]
    * kernel — no shuffle), each doc fans out to its `bands` (band,
    * bucket-key) rows, and `flatMapGroupsWithState` keyed by the bucket
    * compares the arrival against the bucket's stored members — exact
    * Jaccard on the 64-bit hashed shingle sets (bit-equal to the string
    * sets absent ~2⁻⁶⁴ collisions), emitted when ≥ `threshold`. A pair
    * colliding in several bands is emitted once per band; collapse
    * downstream with groupBy(id_l, id_r).max(jaccard).
    *
    * State is bounded two ways: `maxBucketOccupancy` hard-caps stored
    * members per bucket (a degenerate mega-bucket stops absorbing new
    * members — arrivals still match against the stored prefix; the
    * streaming twin of the batch occupancy cap), and the event-time
    * timeout drops a bucket's state once the watermark passes its last
    * arrival + `horizonNs` (docs farther apart than the horizon are
    * never compared — pick it per ingest SLA; the test harness passes an
    * effectively-unbounded watermark so nothing evicts mid-run).
    * Processing order within a batch is pinned by (event_time, id) so
    * emission is deterministic. */
  def nearDupStream(docs: DataFrame, idCol: String, textCol: String,
                    threshold: Double = 0.8, numHashes: Int = 64,
                    bands: Int = 16, shingleN: Int = 3, seed: Long = 42L,
                    maxBucketOccupancy: Int = 10000,
                    horizonNs: Long = 3600L * 1000000000L,
                    watermark: String = "1 hour"): DataFrame = {
    import org.apache.spark.sql.{Encoders, Row}
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    require(numHashes % bands == 0, "bands must divide numHashes")
    val r = numHashes / bands
    val sig = docs.select(col(idCol).cast("long").as("__id"),
      org.apache.spark.sql.GraftSqlBridge.column(
        graft.functions.MinHashSig(
          org.apache.spark.sql.GraftSqlBridge.expression(col(textCol)),
          numHashes, shingleN, seed)).as("__sig"),
      transform(graft.operators.Dedup.shingles(col(textCol), shingleN),
        t => xxhash64(t)).as("__sh"),
      col("event_time"))
    val banded = sig.select(col("__id"), col("__sh"), col("event_time"),
      explode(transform(sequence(lit(0), lit(bands - 1)),
        b => struct(b.as("band"),
          hash(slice(col("__sig"), b * r + 1, lit(r))).as("key")))).as("bk"))
      .select(col("__id"), col("__sh"), col("event_time"),
        ((col("bk.band").cast("long") * 4294967296L) +
          (col("bk.key").cast("long") + 2147483648L)).as("__bucket"))
      .withWatermark("event_time", watermark)
    implicit val stateEnc = Encoders.product[BucketState]
    implicit val outEnc = Encoders.product[NearDupHit]
    implicit val rowEnc = Encoders.row(banded.schema)
    implicit val keyEnc = Encoders.scalaLong
    banded.groupByKey((row: Row) => row.getAs[Long]("__bucket"))
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.EventTimeTimeout)(
        (_: Long, rows: Iterator[Row], state: GroupState[BucketState]) => {
          if (state.hasTimedOut) {
            state.remove()
            Iterator.empty
          } else {
            val sorted = rows.toSeq.sortBy(r =>
              (r.getAs[java.sql.Timestamp]("event_time").getTime,
                r.getAs[Long]("__id")))
            var members = state.getOption.map(_.members).getOrElse(Seq.empty)
            val out = Seq.newBuilder[NearDupHit]
            var lastMs = 0L
            sorted.foreach { row =>
              val id = row.getAs[Long]("__id")
              val sh = row.getSeq[Long](row.fieldIndex("__sh")).toSet
              lastMs = math.max(lastMs,
                row.getAs[java.sql.Timestamp]("event_time").getTime)
              members.foreach { m =>
                if (m.id != id) {
                  val mset = m.sh.toSet
                  val inter = (sh & mset).size
                  val union = sh.size + mset.size - inter
                  val jac = if (union == 0) 0.0 else inter.toDouble / union
                  if (jac >= threshold)
                    out += NearDupHit(math.min(id, m.id), math.max(id, m.id), jac)
                }
              }
              if (members.size < maxBucketOccupancy)
                members = members :+ BucketDoc(id, sh.toSeq.sorted)
            }
            state.update(BucketState(members))
            state.setTimeoutTimestamp(lastMs + horizonNs / 1000000L)
            out.result().iterator
          }
        }).toDF()
  }

  /** Watermarked stream-stream inner join: match each left event with
    * the right-stream events of the same key within `horizon` AFTER it.
    * Both sides carry watermarks and the join condition bounds event time
    * in both directions — that pair is what lets Spark evict join state
    * (left rows age out once the right watermark passes ts + horizon).
    * Inner-join output is exactly the batch join result, so the oracle is
    * the equivalent batch range join. */
  /** One admitted document (streaming quota admission output). */
  case class Admitted(key: String, doc_id: Long, n_tokens: Long)

  /** Streaming token-quota admission — the ingest-time half of
    * [[graft.operators.Sampling.budgetSample]]: per key (language,
    * source, …), documents are ADMITTED until the key's token budget is
    * reached (the document crossing the budget is admitted, matching the
    * batch rule) and rejected afterwards. State per key is ONE long —
    * tokens admitted so far — in the checkpointed store: bounded by the
    * key cardinality regardless of stream length, and a quota never
    * expires, so there is no timeout to mis-tune.
    *
    * Within each micro-batch a key's arrivals are processed in the same
    * stable (md5(id), id) order every batch sampler uses, so a
    * single-batch run is EXACTLY batch [[graft.operators.Sampling
    * .budgetSample]] (the q_stream_budget oracle IS the batch oracle);
    * across micro-batches admission is arrival-order — the real quota
    * semantic at ingest. */
  def budgetAdmitStream(docs: DataFrame, keyCol: String, idCol: String,
                        tokenCol: String, budget: Long): DataFrame = {
    import org.apache.spark.sql.{Encoders, Row}
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    require(budget > 0, "token budget must be positive")
    val base = docs.select(col(keyCol).cast("string").as("__k"),
      col(idCol).cast("long").as("__id"),
      col(tokenCol).cast("long").as("__n"))
    implicit val stateEnc = Encoders.scalaLong
    implicit val outEnc = Encoders.product[Admitted]
    implicit val rowEnc = Encoders.row(base.schema)
    implicit val keyEnc = Encoders.STRING
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
    base.groupByKey((r: Row) => r.getAs[String]("__k"))
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(
        (key: String, rows: Iterator[Row], state: GroupState[Long]) => {
          // same stable pseudo-random order as the batch samplers
          val sorted = rows.toSeq.sortBy(r =>
            (md5hex(r.getAs[Long]("__id").toString), r.getAs[Long]("__id")))
          var used = state.getOption.getOrElse(0L)
          val out = Seq.newBuilder[Admitted]
          sorted.foreach { r =>
            if (used < budget) {
              out += Admitted(key, r.getAs[Long]("__id"), r.getAs[Long]("__n"))
              used += r.getAs[Long]("__n")
            }
          }
          state.update(used)
          out.result().iterator
        }).toDF()
  }

  /** One fingerprint's current canonical winner (streaming exact-dedup
    * canonicalization emission). */
  case class CanonWinner(fp: String, doc_id: Long)

  /** Streaming exact-dedup canonicalization — the ingest-time face of
    * [[graft.operators.Dedup.exactText]]'s min-id-per-fingerprint
    * rule. State is ONE long per normalized-text fingerprint (the
    * smallest id seen so far); each micro-batch a fingerprint's
    * arrivals resolve to their min id, and a row is EMITTED only when
    * it improves on (is smaller than) the stored winner — the
    * emit-on-change discipline of [[latestStream]], so output volume
    * tracks winner churn, not ingest volume.
    *
    * Exactness under ANY batch split: min over batches of per-batch
    * mins is the global min, and every improvement is emitted, so the
    * post-drain `min(doc_id) per fp` is EXACTLY batch exactText's
    * canonical set regardless of how the files split into triggers
    * (no single-batch assumption — unlike a first-arrival dedup,
    * which depends on delivery order). A single AvailableNow batch
    * emits the batch answer directly. */
  def canonicalStream(docs: DataFrame, idCol: String,
                      textCol: String): DataFrame = {
    import org.apache.spark.sql.{Encoders, Row}
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    // NULL ids (null or uncastable after the long cast) are excluded
    // HERE, exactly as SQL min() excludes them — getAs[Long] would
    // unbox a NULL to 0L and crown a fabricated id-0 winner, breaking
    // the drained-min ≡ batch-exactText identity
    val base = docs.select(
      graft.operators.TextAnalysis.fingerprint(col(textCol)).as("__fp"),
      col(idCol).cast("long").as("__id"))
      .where(col("__id").isNotNull)
    implicit val stateEnc = Encoders.scalaLong
    implicit val outEnc = Encoders.product[CanonWinner]
    implicit val rowEnc = Encoders.row(base.schema)
    implicit val keyEnc = Encoders.STRING
    base.groupByKey((r: Row) => r.getAs[String]("__fp"))
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(
        (fp: String, rows: Iterator[Row], state: GroupState[Long]) => {
          var batchMin = Long.MaxValue
          var any = false
          rows.foreach { r =>
            any = true
            val id = r.getAs[Long]("__id")
            if (id < batchMin) batchMin = id
          }
          if (any && state.getOption.forall(batchMin < _)) {
            state.update(batchMin)
            Iterator(CanonWinner(fp, batchMin))
          } else Iterator.empty
        }).toDF()
  }

  /** One key's current smoothed value (streaming EWMA output). `nObs`
    * counts the events folded so far — strictly increasing per key, so
    * a multi-micro-batch run (one snapshot per key per batch) dedups to
    * its final state with max-by-nObs; without a counter there is no
    * deterministic "last" among non-monotone ewma values. */
  case class EwmaSnapshot(userId: Long, ewma: Double, nObs: Long)

  /** One key's current Holt level/trend state (streaming output). */
  case class HoltSnapshot(userId: Long, nObs: Long, level: Double,
                          trend: Double)

  /** Streaming Holt double exponential smoothing — the EXACT unbounded
    * form of [[graft.operators.WindowOps.holtSmooth]]'s recursion
    * (level + linear trend per key), which is NATURAL in streaming:
    * three numbers of keyed state (level, trend, n) carry the whole
    * history across micro-batches, where a batch engine must bound the
    * replay window. Initialization matches the batch op exactly
    * (l₁ = v₁, t₂ = v₂ − v₁), so a single AvailableNow pass over a
    * bounded history is bit-identical to [[WindowOps.holtSmooth]] with
    * a covering maxHistory — the batch≡stream parity gate.
    * Within a micro-batch, rows fold in (ts, event_id) order; state is
    * O(1) per key. Output: latest (userId, nObs, level, trend) per key
    * per batch. `maxRowsPerKeyPerBatch` is the hot-key relief valve
    * (see [[ewmaStream]]): only the first N rows of a key's batch
    * slice fold, the overflow counted on [[streamDropCounter]] —
    * never silent, never OOM. */
  def holtStream(events: DataFrame, alpha: Double, beta: Double,
                 maxRowsPerKeyPerBatch: Int = Int.MaxValue): DataFrame = {
    import org.apache.spark.sql.{Encoders, Row}
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    require(alpha > 0 && alpha <= 1, "alpha must be in (0, 1]")
    require(beta >= 0 && beta <= 1, "beta must be in [0, 1]")
    require(maxRowsPerKeyPerBatch > 0, "maxRowsPerKeyPerBatch must be positive")
    val dropAcc = streamDropCounter(events.sparkSession)
    implicit val stateEnc = Encoders.product[(Double, Double, Long)]
    implicit val outEnc = Encoders.product[HoltSnapshot]
    implicit val rowEnc = Encoders.row(events.schema)
    implicit val keyEnc = Encoders.scalaLong
    events.groupByKey((r: Row) => r.getAs[Long]("user_id"))
      .flatMapGroupsWithState(OutputMode.Append,
        GroupStateTimeout.NoTimeout)(
        (userId: Long, rows: Iterator[Row],
         state: GroupState[(Double, Double, Long)]) => {
          val all = rows.toSeq.sortBy(r =>
            (r.getAs[Long]("ts"), r.getAs[Long]("event_id")))
          if (all.isEmpty) Iterator.empty
          else {
            val (sorted, overflow) = all.splitAt(maxRowsPerKeyPerBatch)
            if (overflow.nonEmpty) dropAcc.add(overflow.size.toLong)
            var st = state.getOption
            sorted.foreach { r =>
              val v = r.getAs[Double]("value")
              st = Some(st match {
                case None => (v, 0.0, 1L)
                case Some((l, _, 1L)) => (l, v - l, 2L)
                case Some((l, t, n)) =>
                  val lp = alpha * v + (1 - alpha) * (l + t)
                  (lp, beta * (lp - l) + (1 - beta) * t, n + 1)
              })
            }
            val (l, t, n) = st.get
            state.update(st.get)
            Iterator(HoltSnapshot(userId, n, l, t))
          }
        }).toDF()
  }

  /** Streaming two-sample drift monitor by Welch's t — the parametric
    * sibling of [[psiDriftStream]]/[[ksDriftStream]]: each event-time
    * window's value moments (nano-quantized, decimal(38,0)-exact — the
    * [[graft.operators.Profile.welchTTest]] recipe) test against a
    * STATIC reference sample whose quantized moments the caller
    * collected batch-side (three integers — they broadcast as literals,
    * so there is no float-printing seam between engines). Emits the t
    * statistic and Welch df per window; state per window is two
    * decimals and a count.
    *
    * @param refN/refSvQ/refSv2Q reference count, Σ⌊v·1e9⌋, Σ⌊v·1e9⌋²
    *        (refN ≥ 2; the sums are decimals — Σq² overflows a long
    *        beyond ~10⁷ rows of percent-scale values). */
  def ttestDriftStream(events: DataFrame, valueCol: String,
                       refN: Long, refSvQ: java.math.BigDecimal,
                       refSv2Q: java.math.BigDecimal,
                       watermark: String = "1 hour",
                       window_ : String = "1 hour"): DataFrame = {
    require(refN >= 2, "reference needs n >= 2")
    val d38 = (c: Column) => c.cast("decimal(38,0)")
    val q = floor(col(valueCol).cast("double") * lit(1e9)).cast("long")
    val agg = events
      .withWatermark("event_time", watermark)
      .select(col("event_time"), q.as("__q"))
      .groupBy(window(col("event_time"), window_))
      .agg(count(lit(1)).as("n"), sum(d38(col("__q"))).as("__sv"),
        sum(d38(col("__q")) * d38(col("__q"))).as("__sv2"))
      .where(col("n") >= 2)
    val mean = col("__sv").cast("double") /
      (col("n").cast("double") * lit(1e9))
    val s2 = (d38(col("n")) * col("__sv2") - col("__sv") * col("__sv"))
      .cast("double") /
      ((col("n").cast("double") * (col("n") - 1).cast("double")) * lit(1e18))
    // reference moments enter as INTEGER literals; all float derivation
    // happens in-engine with the same ops the oracle SQL spells out
    val refMean = lit(refSvQ).cast("double") /
      (lit(refN).cast("double") * lit(1e9))
    val refS2 = (lit(refN).cast("decimal(38,0)") *
      lit(refSv2Q).cast("decimal(38,0)") -
      lit(refSvQ).cast("decimal(38,0)") * lit(refSvQ).cast("decimal(38,0)"))
      .cast("double") /
      ((lit(refN).cast("double") * lit(refN - 1).cast("double")) * lit(1e18))
    val seW = s2 / col("n").cast("double")
    val seR = refS2 / lit(refN).cast("double")
    agg.select(col("window"), col("n"), mean.as("mean"),
      ((mean - refMean) / sqrt(seW + seR)).as("t_stat"),
      ((seW + seR) * (seW + seR) /
        (seW * seW / (col("n") - 1).cast("double") +
          seR * seR / lit(refN - 1).cast("double"))).as("welch_df"))
  }

  /** [[ttestDriftStream]]'s DuckDB twin: emits a `scored` CTE with
    * (win, n, mean, t_stat, welch_df) over hour-truncated windows —
    * identical quantized moments and IEEE sequences. The reference
    * moments recompute in SQL from the same `refWhere` rows the caller
    * collected batch-side: both routes land on the same exact integers,
    * so the literal-vs-CTE difference cannot diverge. */
  def ttestDriftOracleSelect(valueCol: String, refWhere: String): String =
    s"""wq AS (SELECT date_trunc('hour', ts) AS win,
       |    CAST(floor(CAST($valueCol AS DOUBLE) * 1e9) AS BIGINT) AS q
       |  FROM events),
       |wm AS (SELECT win, CAST(count(*) AS BIGINT) AS n,
       |    sum(CAST(q AS HUGEINT)) AS sv,
       |    sum(CAST(q AS HUGEINT) * CAST(q AS HUGEINT)) AS sv2
       |  FROM wq GROUP BY win HAVING count(*) >= 2),
       |wstat AS (SELECT win, n,
       |    CAST(sv AS DOUBLE) / (CAST(n AS DOUBLE) * 1e9) AS mean,
       |    CAST(CAST(n AS HUGEINT) * sv2 - sv * sv AS DOUBLE)
       |      / ((CAST(n AS DOUBLE) * CAST(n - 1 AS DOUBLE)) * 1e18) AS s2
       |  FROM wm),
       |rq AS (SELECT CAST(floor(CAST($valueCol AS DOUBLE) * 1e9)
       |    AS BIGINT) AS q
       |  FROM events WHERE $refWhere),
       |rm AS (SELECT CAST(count(*) AS BIGINT) AS rn,
       |    sum(CAST(q AS HUGEINT)) AS rsv,
       |    sum(CAST(q AS HUGEINT) * CAST(q AS HUGEINT)) AS rsv2
       |  FROM rq),
       |rstat AS (SELECT rn,
       |    CAST(rsv AS DOUBLE) / (CAST(rn AS DOUBLE) * 1e9) AS rmean,
       |    CAST(CAST(rn AS HUGEINT) * rsv2 - rsv * rsv AS DOUBLE)
       |      / ((CAST(rn AS DOUBLE) * CAST(rn - 1 AS DOUBLE)) * 1e18)
       |      AS rs2
       |  FROM rm),
       |scored AS (SELECT win, n, mean,
       |    (mean - rmean) / sqrt(s2 / CAST(n AS DOUBLE)
       |      + rs2 / CAST(rn AS DOUBLE)) AS t_stat,
       |    (s2 / CAST(n AS DOUBLE) + rs2 / CAST(rn AS DOUBLE))
       |      * (s2 / CAST(n AS DOUBLE) + rs2 / CAST(rn AS DOUBLE))
       |      / (s2 / CAST(n AS DOUBLE) * (s2 / CAST(n AS DOUBLE))
       |          / CAST(n - 1 AS DOUBLE)
       |        + rs2 / CAST(rn AS DOUBLE)
       |          * (rs2 / CAST(rn AS DOUBLE))
       |          / CAST(rn - 1 AS DOUBLE)) AS welch_df
       |  FROM wstat, rstat)""".stripMargin

  case class FunnelHit(userId: Long, step: Int, stepType: String, tsUs: Long)
  case class FunnelState(reached: Seq[Long])

  /** Streaming strict-order funnel: each key's progress through `steps`
    * is tracked live — the moment an event advances a key to step k
    * (its time strictly after the key's step-(k−1) reach time, and
    * within `horizon` of it when set), ONE (key, step) hit is emitted —
    * the ingest-time face of [[graft.operators.WindowOps.funnel]],
    * whose per-step counts are exactly the distinct keys per emitted
    * step (parity-spec'd).
    *
    * The event-time-order fold is EXACT for this recursion: processing
    * in (µs ts, id) order, a step's reach time is the first eligible
    * event's time, which IS the batch min — and once set it can never
    * improve, so state is the monotone prefix of reached times
    * (≤ |steps| longs per key; stream-length-independent — progress is
    * the ANSWER, not decay residue, so no TTL: evicting would silently
    * un-complete funnels). µs base for the same oracle-visibility
    * reason as [[lastTouchStream]]. Ordering contract across
    * micro-batches is [[ewmaStream]]'s, as is the hot-key relief valve:
    * `maxRowsPerKeyPerBatch` bounds the per-key micro-batch sort, with
    * overflow counted on [[streamDropCounter]] — never silent.
    *
    * Repeated step TYPES are supported (a re-engagement funnel like
    * view → click → view): only the NEXT unreached step can advance a
    * key, so advancement tests the event type against `steps(reached
    * .size)` directly rather than a type→index map (which would keep
    * one index per duplicate name). */
  def funnelStream(events: DataFrame, steps: Seq[String],
                   horizon: Option[Long] = None,
                   maxRowsPerKeyPerBatch: Int = Int.MaxValue): DataFrame = {
    import org.apache.spark.sql.{Encoders, Row}
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    require(steps.nonEmpty, "funnel needs at least one step")
    require(maxRowsPerKeyPerBatch > 0, "maxRowsPerKeyPerBatch must be positive")
    val dropAcc = streamDropCounter(events.sparkSession)
    implicit val stateEnc = Encoders.product[FunnelState]
    implicit val outEnc = Encoders.product[FunnelHit]
    implicit val rowEnc = Encoders.row(events.schema)
    implicit val keyEnc = Encoders.scalaLong
    events.groupByKey((r: Row) => r.getAs[Long]("user_id"))
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(
        (userId: Long, rows: Iterator[Row], state: GroupState[FunnelState]) => {
          val all = rows.toSeq.sortBy(r =>
            (Math.floorDiv(r.getAs[Long]("ts"), 1000L),
              r.getAs[Long]("event_id")))
          val (sorted, overflow) = all.splitAt(maxRowsPerKeyPerBatch)
          if (overflow.nonEmpty) dropAcc.add(overflow.size.toLong)
          val out = Seq.newBuilder[FunnelHit]
          var reached = state.getOption.map(_.reached.toVector)
            .getOrElse(Vector.empty[Long])
          sorted.foreach { r =>
            val k = reached.size
            if (k < steps.size && r.getAs[String]("event_type") == steps(k)) {
              val ts = Math.floorDiv(r.getAs[Long]("ts"), 1000L)
              val eligible = k == 0 || (ts > reached(k - 1) &&
                horizon.forall(h => ts <= reached(k - 1) + h))
              if (eligible) {
                reached = reached :+ ts
                out += FunnelHit(userId, k + 1, steps(k), ts)
              }
            }
          }
          if (reached.nonEmpty) state.update(FunnelState(reached))
          out.result().iterator
        }).toDF()
  }

  case class TouchCredit(convId: Long, userId: Long, touchType: String,
                         touchTs: Long)
  case class TouchState(typ: String, tsUs: Long, eventId: Long)

  /** Streaming LAST-TOUCH attribution: each arriving `convType` event is
    * credited, at ingest, to the key's most recent other-type event
    * since the previous conversion — the real-time face of
    * [[graft.operators.WindowOps.attribution]]'s "last" model, emitting
    * one (conversion, credited touch) row the moment the conversion
    * lands instead of via a nightly batch walk.
    *
    * State is ONE (type, ts, event_id) triple per key — the pending
    * touch — cleared on every conversion, so state size is the live key
    * count regardless of stream length. Conversions with no touch since
    * the previous conversion emit nothing (matching the batch model,
    * which only credits journeys with touches). Ordering contract is
    * [[ewmaStream]]'s: rows fold (µs ts, event_id)-sorted within a
    * micro-batch (µs base — the oracle engine can't see sub-µs, so a
    * ns-order tiebreak could pick a different same-µs touch),
    * arrival-ordered across batches; `maxRowsPerKeyPerBatch` is the
    * same hot-key relief valve, counted on [[streamDropCounter]]. No
    * TTL: the pending touch IS the answer for the key's next
    * conversion — evicting it would silently drop a true credit, so
    * the state bound is the live key count (latestStream's documented
    * posture). `touchTs` is epoch-µs. */
  def lastTouchStream(events: DataFrame, convType: String,
                      maxRowsPerKeyPerBatch: Int = Int.MaxValue): DataFrame = {
    import org.apache.spark.sql.{Encoders, Row}
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    require(maxRowsPerKeyPerBatch > 0, "maxRowsPerKeyPerBatch must be positive")
    val dropAcc = streamDropCounter(events.sparkSession)
    implicit val stateEnc = Encoders.product[TouchState]
    implicit val outEnc = Encoders.product[TouchCredit]
    implicit val rowEnc = Encoders.row(events.schema)
    implicit val keyEnc = Encoders.scalaLong
    events.groupByKey((r: Row) => r.getAs[Long]("user_id"))
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(
        (userId: Long, rows: Iterator[Row], state: GroupState[TouchState]) => {
          val all = rows.toSeq.sortBy(r =>
            (Math.floorDiv(r.getAs[Long]("ts"), 1000L),
              r.getAs[Long]("event_id")))
          val (sorted, overflow) = all.splitAt(maxRowsPerKeyPerBatch)
          if (overflow.nonEmpty) dropAcc.add(overflow.size.toLong)
          val out = Seq.newBuilder[TouchCredit]
          var pending = state.getOption
          sorted.foreach { r =>
            val typ = r.getAs[String]("event_type")
            if (typ == convType) {
              pending.foreach(t => out += TouchCredit(
                r.getAs[Long]("event_id"), userId, t.typ, t.tsUs))
              pending = None
            } else {
              pending = Some(TouchState(typ,
                Math.floorDiv(r.getAs[Long]("ts"), 1000L),
                r.getAs[Long]("event_id")))
            }
          }
          pending match {
            case Some(t) => state.update(t)
            case None => state.remove()
          }
          out.result().iterator
        }).toDF()
  }

  /** Per-session counter of EWMA rows dropped by the hot-key relief
    * valve (see [[ewmaStream]]'s `maxRowsPerKeyPerBatch`) — the
    * BoundedCollect philosophy for keyed state: a cap never fails the
    * job, and what it dropped is observable, never silent. One named
    * LongAccumulator per session (visible in the Spark UI as
    * "graft.ewma.dropped_rows"). */
  def ewmaDropCounter(spark: SparkSession): org.apache.spark.util.LongAccumulator =
    ewmaDropCounters.synchronized {
      ewmaDropCounters.getOrElseUpdate(spark.sparkContext.applicationId, {
        val acc = spark.sparkContext.longAccumulator("graft.ewma.dropped_rows")
        acc
      })
    }
  private val ewmaDropCounters =
    scala.collection.mutable.Map.empty[String, org.apache.spark.util.LongAccumulator]

  /** Per-session counter of rows dropped by the hot-key relief valves of
    * the OTHER stateful folds ([[funnelStream]], [[lastTouchStream]]) —
    * [[ewmaDropCounter]]'s shape, one accumulator per application. */
  def streamDropCounter(spark: SparkSession): org.apache.spark.util.LongAccumulator =
    streamDropCounters.synchronized {
      streamDropCounters.getOrElseUpdate(spark.sparkContext.applicationId,
        spark.sparkContext.longAccumulator("graft.stream.dropped_rows"))
    }

  private val streamDropCounters =
    scala.collection.mutable.Map.empty[String, org.apache.spark.util.LongAccumulator]

  /** One streaming CUSUM alarm/score emission (ts is epoch-µs). */
  case class CusumHit(userId: Long, eventId: Long, ts: Long,
                      sHi: Double, sLo: Double, alarm: Boolean)

  /** Per-key CUSUM state: both one-sided scores in exact nano units. */
  case class CusumState(hi: Long, lo: Long)

  /** Streaming two-sided CUSUM change-point detection — the stateful
    * twin of [[graft.operators.WindowOps.cusum]] the way [[ewmaStream]]
    * twins ewmaBounded: the batch operator needs the reflection
    * identity to avoid a sequential fold, but streaming IS a sequential
    * fold, so the recursion S⁺ = max(0, S⁺ + (v − target − slack)) runs
    * directly on TWO longs of keyed state in the same exact nano units
    * (bit-identical to the batch DECIMAL path while the accumulated
    * positive drift stays < 2⁶³ nano units — a key would need ~28M
    * consecutive max-deviation events to overflow; `resetOnAlarm`
    * restarts the recursion after each alarm, the standard monitoring
    * posture, which also re-bounds the state).
    *
    * Emits per processed event with `alarmsOnly = false` (the parity
    * face), or only threshold crossings with `alarmsOnly = true` (the
    * monitoring face — output volume tracks incidents, not traffic).
    * NULL values pass through silently (no emission, recursion
    * resumes — the batch operator's posture), and so do values outside
    * the shared quantization domain |v| ≤
    * [[graft.operators.WindowOps.QuantizeDomain]] (incl. NaN/Inf) —
    * the same guard the batch twin applies, so neither side saturates. State: 2 longs/key, no
    * TTL (the score IS the answer; a cold key's score is legitimate
    * accumulated drift). Ordering contract and hot-key relief valve are
    * [[ewmaStream]]'s; µs fold base for the same oracle-visibility
    * reason. Quantization nit: JVM Math.round rounds exact .5 toward
    * +∞ where the batch SQL round() goes away from zero — they agree
    * for the non-negative values this fold expects. */
  def cusumStream(events: DataFrame, target: Double, slack: Double,
                  threshold: Double, alarmsOnly: Boolean = true,
                  resetOnAlarm: Boolean = false,
                  maxRowsPerKeyPerBatch: Int = Int.MaxValue): DataFrame = {
    import org.apache.spark.sql.{Encoders, Row}
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    require(slack >= 0, s"slack must be >= 0, got $slack")
    require(threshold > 0, s"threshold must be positive, got $threshold")
    require(maxRowsPerKeyPerBatch > 0, "maxRowsPerKeyPerBatch must be positive")
    val up = math.round(target * 1e9) + math.round(slack * 1e9)
    val dn = math.round(target * 1e9) - math.round(slack * 1e9)
    val h9 = math.round(threshold * 1e9)
    val dropAcc = streamDropCounter(events.sparkSession)
    implicit val stateEnc = Encoders.product[CusumState]
    implicit val outEnc = Encoders.product[CusumHit]
    implicit val rowEnc = Encoders.row(events.schema)
    implicit val keyEnc = Encoders.scalaLong
    events.groupByKey((r: Row) => r.getAs[Long]("user_id"))
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(
        (userId: Long, rows: Iterator[Row], state: GroupState[CusumState]) => {
          val all = rows.toSeq.sortBy(r =>
            (Math.floorDiv(r.getAs[Long]("ts"), 1000L),
              r.getAs[Long]("event_id")))
          val (sorted, overflow) = all.splitAt(maxRowsPerKeyPerBatch)
          if (overflow.nonEmpty) dropAcc.add(overflow.size.toLong)
          val out = Seq.newBuilder[CusumHit]
          var s = state.getOption.getOrElse(CusumState(0L, 0L))
          sorted.foreach { r =>
            // same domain guard as the batch twin: NULL, NaN/Inf, or
            // |v| beyond the long-safe nano range skip without alarm or
            // state advance (math.round would otherwise saturate at
            // Long.MaxValue and permanently poison the drift state)
            if (!r.isNullAt(r.fieldIndex("value")) &&
                math.abs(r.getAs[Double]("value")) <=
                  graft.operators.WindowOps.QuantizeDomain) {
              val v9 = math.round(r.getAs[Double]("value") * 1e9)
              val hi = math.max(0L, s.hi + (v9 - up))
              val lo = math.max(0L, s.lo + (dn - v9))
              val alarm = hi > h9 || lo > h9
              if (!alarmsOnly || alarm)
                out += CusumHit(userId, r.getAs[Long]("event_id"),
                  Math.floorDiv(r.getAs[Long]("ts"), 1000L),
                  hi.toDouble / 1e9, lo.toDouble / 1e9, alarm)
              s = if (alarm && resetOnAlarm) CusumState(0L, 0L)
                else CusumState(hi, lo)
            }
          }
          state.update(s)
          out.result().iterator
        }).toDF()
  }

  /** Streaming EXACT EWMA per key — the stateful-recursion twin of the
    * batch [[graft.operators.WindowOps.ewmaBounded]] (which truncates to
    * a window-friendly horizon): y = α·v + (1−α)·y, seeded with the
    * key's first value, folded in (ts, event_id) order. Streaming is
    * where the exact recursion is NATURAL: one double of keyed state
    * carries y across micro-batches forever (a batch engine would need
    * an unbounded-lookback sequential scan per refresh). Emits one
    * snapshot row per key per touched micro-batch; a single AvailableNow
    * batch therefore emits exactly the full-history fold — the oracle
    * (DuckDB `list_reduce` over the same ordered list with the same
    * double literals; the fold is sequential, so agreement is
    * bit-exact, no quantization).
    *
    * ORDERING CONTRACT (multi-batch): rows are (ts, event_id)-sorted
    * only WITHIN a micro-batch; across micro-batches the fold is in
    * ARRIVAL order. An event landing in a later micro-batch with an
    * earlier `ts` folds after its successors — the exact-recursion
    * guarantee therefore assumes the source delivers batches in
    * non-decreasing event time (true for the AvailableNow single-batch
    * replay the oracle uses, and for any log-ordered ingest). Sources
    * that can regress event time across batches need an upstream
    * reorder buffer; this operator does not resequence history, because
    * an EWMA cannot be rewound without replaying the key's tail.
    *
    * MEMORY (hot keys): flatMapGroupsWithState materializes one key's
    * micro-batch rows to sort them (standard practice), so per-key
    * memory is bounded by that key's rows PER MICRO-BATCH — size
    * triggers so a hot key's batch slice fits an executor (e.g.
    * maxFilesPerTrigger / maxOffsetsPerTrigger). As a relief valve,
    * `maxRowsPerKeyPerBatch` folds only the first N rows of a key's
    * batch slice (in (ts, event_id) order) and counts the overflow on
    * [[ewmaDropCounter]] — never silent, never OOM.
    *
    * STATE LIFETIME: by default (`stateTimeout = None`) state is one
    * double per key, forever — the snapshot IS the answer. For
    * 100 TB-scale key churn, `stateTimeout = Some("7 days")` arms an
    * event-time TTL: a key whose last event is older than the TTL (as
    * measured by the watermark, so `events` must carry a watermark on
    * `event_time` — set `watermarkDelay` here if it doesn't already)
    * is EVICTED, and its next event re-seeds the recursion from that
    * value, exactly as a first-ever event would. Eviction is the
    * documented trade: a cold key's state is pure decay residue, and
    * re-seeding is the standard cold-start answer. */
  def ewmaStream(events: DataFrame, alpha: Double,
                 stateTimeout: Option[String] = None,
                 watermarkDelay: Option[String] = None,
                 maxRowsPerKeyPerBatch: Int = Int.MaxValue): DataFrame = {
    import org.apache.spark.sql.{Encoders, Row}
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    require(alpha > 0 && alpha <= 1, "alpha must be in (0, 1]")
    require(maxRowsPerKeyPerBatch > 0, "maxRowsPerKeyPerBatch must be positive")
    val beta = 1 - alpha
    val ttl = stateTimeout
    val dropAcc = ewmaDropCounter(events.sparkSession)
    val src = (ttl, watermarkDelay) match {
      case (Some(_), d) => events.withWatermark("event_time", d.getOrElse("0 seconds"))
      case (None, Some(d)) => events.withWatermark("event_time", d)
      case _ => events
    }
    val timeoutConf =
      if (ttl.isDefined) GroupStateTimeout.EventTimeTimeout
      else GroupStateTimeout.NoTimeout
    implicit val stateEnc = Encoders.product[(Double, Long)]
    implicit val outEnc = Encoders.product[EwmaSnapshot]
    implicit val rowEnc = Encoders.row(src.schema)
    implicit val keyEnc = Encoders.scalaLong
    src.groupByKey((r: Row) => r.getAs[Long]("user_id"))
      .flatMapGroupsWithState(OutputMode.Append, timeoutConf)(
        (userId: Long, rows: Iterator[Row],
         state: GroupState[(Double, Long)]) => {
          if (state.hasTimedOut) {
            // cold-key eviction: the next event re-seeds from its value
            state.remove()
            Iterator.empty
          } else {
            val all = rows.toSeq.sortBy(r =>
              (r.getAs[Long]("ts"), r.getAs[Long]("event_id")))
            if (all.isEmpty) Iterator.empty
            else {
              val (sorted, overflow) = all.splitAt(maxRowsPerKeyPerBatch)
              if (overflow.nonEmpty) dropAcc.add(overflow.size.toLong)
              var y = state.getOption.map(_._1)
              var n = state.getOption.map(_._2).getOrElse(0L)
              var lastEventMs = Long.MinValue
              sorted.foreach { r =>
                val v = r.getAs[Double]("value")
                y = Some(y.fold(v)(p => alpha * v + beta * p))
                n += 1
                ttl.foreach { _ =>
                  val t = r.getAs[java.sql.Timestamp]("event_time")
                  if (t != null) lastEventMs = math.max(lastEventMs, t.getTime)
                }
              }
              state.update((y.get, n))
              ttl.foreach { d =>
                // evict once the watermark passes last-event + TTL
                if (lastEventMs != Long.MinValue)
                  state.setTimeoutTimestamp(lastEventMs, d)
              }
              Iterator(EwmaSnapshot(userId, y.get, n))
            }
          }
        }).toDF()
  }

  /** Streaming benchmark decontamination — the ingest-time face of
    * [[graft.operators.Dedup.decontaminationReport]]: every arriving
    * document's distinct word n-grams are checked against the STATIC
    * evaluation set via a broadcast join, per micro-batch, with ZERO
    * streaming state (the benchmark is the state, and it broadcasts).
    * Emits one row per (train doc, eval doc, shared shingle); the
    * drained output batch-aggregates to exactly the batch report's
    * (train_id, eval_id, n_hits) — both sides' shingles are distinct
    * per doc, so the count of raw rows IS the distinct-overlap size.
    *
    * SIZE CONTRACT: the eval side must fit a broadcast (it is a
    * benchmark; see [[graft.operators.Dedup.decontaminationReport]]'s
    * bound — the batch twin auto-falls-back to a shuffle join above a
    * shingle threshold, but a stream-side shuffle join would need
    * per-batch re-shuffling of the static side, so here the broadcast
    * contract is explicit instead). */
  def decontaminateStream(docs: DataFrame, idCol: String, textCol: String,
                          evalSet: DataFrame, evalIdCol: String,
                          evalTextCol: String, n: Int = 8): DataFrame = {
    import graft.operators.Dedup
    docs.select(col(idCol).as("train_id"),
        explode(Dedup.shingles(col(textCol), n)).as("__sh"))
      .join(broadcast(evalSet.select(col(evalIdCol).as("eval_id"),
        explode(Dedup.shingles(col(evalTextCol), n)).as("__sh"))), Seq("__sh"))
      .select("train_id", "eval_id")
  }

  def streamStreamJoin(left: DataFrame, right: DataFrame, keyCol: String,
                       horizon: String = "1 hour",
                       watermark: String = "1 hour"): DataFrame = {
    val l = left.withWatermark("event_time", watermark).as("l")
    val r = right.withWatermark("event_time", watermark).as("r")
    l.join(r,
      col(s"l.$keyCol") === col(s"r.$keyCol") &&
        col("r.event_time") >= col("l.event_time") &&
        col("r.event_time") <= col("l.event_time") + expr(s"INTERVAL $horizon"))
  }

  /** Drive a stream to completion against a memory sink (test/local
    * harness): returns the materialized table name.
    *
    * `statePartitions` caps the stateful-operator partition count for
    * THIS query (stateful streaming snapshots the shuffle-partition
    * setting at first start): every state partition pays per-batch
    * store-commit and checkpoint-file I/O, so a batch-replay harness
    * over one file wants far fewer than a throughput deployment —
    * sizing state partitions per stream is the standard knob, and it
    * lives in the query's own checkpoint, not the session. The session
    * setting is restored before returning.
    *
    * Conf-mutation window, made explicit: the session's
    * shuffle-partitions value IS temporarily changed between set and
    * restore (the stream clones the session conf inside `start()`;
    * Spark exposes no per-start conf override). The `synchronized`
    * below serializes concurrent `runToMemory` calls so set/restore
    * cannot interleave, but an UNRELATED batch query planned on another
    * thread during this window would still observe `statePartitions` —
    * callers driving concurrent mixed batch/stream workloads on one
    * session should pass `statePartitions` equal to the session setting
    * (making the window a no-op) or use a separate session. */
  /** Streaming heavy hitters: the Misra–Gries aggregate
    * ([[graft.functions.FrequentItems]]) as a complete-mode global
    * aggregate — "top items over the whole stream so far" with ONE
    * sketch row of state, updated incrementally per micro-batch
    * (Spark persists the serialized ≤ capacity-entry buffer in the
    * state store; memory is O(capacity) forever, no watermark needed
    * because the state cannot grow). Same exactness contract as batch:
    * exact while capacity ≥ distinct items, lower bounds within
    * N/(capacity+1) beyond that. */
  def heavyHittersStream(items: DataFrame, itemCol: Column,
                         capacity: Int, k: Int): DataFrame =
    items.select(itemCol.cast("string").as("__item"))
      .groupBy()
      .agg(graft.functions.FrequentItems(col("__item"), capacity, k).as("__hh"))

  /** Streaming distribution-drift monitor: per event-time tumbling
    * window, the PSI of the window's `valueCol` histogram against a
    * FIXED reference histogram (e.g. the last validated snapshot's) —
    * the at-ingest tripwire companion to the batch
    * [[graft.operators.Drift.psiFixedBins]], same Laplace smoothing,
    * same fixed-width integer binning (values pass through `floor`
    * first so double columns bin identically across engines).
    *
    * ONE stateful operator: the per-bin counts are `bins` conditional
    * sums inside a single windowed aggregate, and the PSI folds over
    * those count columns against reference probabilities baked in as
    * double literals — no second stateful aggregate, no custom keyed
    * state. State per window = `bins` longs; with a watermark the store
    * holds only the un-finalized horizon. Reference probabilities are
    * `(ref_i + 1)/(N_ref + bins)` computed HERE and inlined, so an
    * oracle can replay bit-exactly via [[psiDriftOracleSelect]] (the
    * [[graft.operators.WindowOps.ewmaWeights]] shared-literal trick).
    *
    * @param refCounts per-bin reference histogram (size = bins ≥ 2)
    * @return per window: (window, n, psi) — append-capable under the
    *         watermark, or run complete for an AvailableNow drain.
    */
  /** Shared scaffold for the per-window drift monitors: one stateful
    * windowed aggregate producing `bins` conditional-count columns
    * `__c0..__c{bins-1}` (state per window = bins longs). */
  private def binnedWindowCounts(events: DataFrame, valueCol: String,
                                 lo: Long, hi: Long, bins: Int,
                                 watermark: String,
                                 window_ : String): DataFrame = {
    val binCol = expr(
      s"least(greatest((floor($valueCol) - ${lo}L) * $bins DIV ${hi - lo}L, 0L), ${bins - 1}L)")
    val cnts = Seq.tabulate(bins)(i =>
      sum(when(col("__bin") === i, 1L).otherwise(0L)).as(s"__c$i"))
    events
      .withWatermark("event_time", watermark)
      .select(col("event_time"), binCol.as("__bin"))
      .groupBy(window(col("event_time"), window_))
      .agg(cnts.head, cnts.tail: _*)
  }

  def psiDriftStream(events: DataFrame, valueCol: String,
                     refCounts: Seq[Long], lo: Long, hi: Long,
                     watermark: String = "1 hour",
                     window_ : String = "1 hour"): DataFrame = {
    val bins = refCounts.size
    require(bins >= 2, "refCounts must have >= 2 bins")
    require(hi > lo, "hi must be > lo")
    val refTotal = refCounts.sum
    val byWin = binnedWindowCounts(events, valueCol, lo, hi, bins,
      watermark, window_)
    val n = Seq.tabulate(bins)(i => col(s"__c$i")).reduce(_ + _)
    def term(i: Int): Column = {
      val pref = (refCounts(i) + 1).toDouble / (refTotal + bins).toDouble
      val pa = (col(s"__c$i") + 1).cast("double") /
        (col("__n").cast("double") + lit(bins.toDouble))
      floor((pa - lit(pref)) * log(pa / lit(pref)) * lit(1e9)).cast("long")
    }
    byWin.withColumn("__n", n)
      .select(col("window"), col("__n").as("n"),
        round(Seq.tabulate(bins)(term).reduce(_ + _).cast("double") / 1e9, 6)
          .as("psi"))
  }

  /** Streaming per-window constraint validation — the at-ingest face of
    * [[graft.operators.Validate]]: every SCALAR rule (null / range /
    * set / regex) becomes one conditional sum inside a single stateful
    * windowed aggregate (state per window = |rules| longs + a count),
    * then stacks to one row per (window, rule). Uniqueness rules are
    * deliberately unsupported here — they need per-value state, which
    * is a different (and unbounded) state-store contract; run them on
    * the landed batch instead.
    *
    * @return (window, rule, col_name, violations, n_rows).
    */
  def validateStream(events: DataFrame, rules: Seq[graft.operators.Validate.Rule],
                     watermark: String = "1 hour",
                     window_ : String = "1 hour"): DataFrame = {
    import graft.operators.Validate
    require(rules.nonEmpty, "at least one rule")
    require(!rules.exists(_.isInstanceOf[Validate.Unique]),
      "unique rules need per-value state — validate them batch-side")
    val aggs = rules.zipWithIndex.map { case (r, i) =>
      sum(when(Validate.violatedCond(events, r), 1L).otherwise(0L)).as(s"__v$i")
    } :+ count(lit(1)).as("__n")
    val byWin = events
      .withWatermark("event_time", watermark)
      .groupBy(window(col("event_time"), window_))
      .agg(aggs.head, aggs.tail: _*)
    val stackArgs = rules.zipWithIndex.map { case (r, i) =>
      s"'${r.name}', '${r.column}', coalesce(__v$i, 0L)"
    }.mkString(", ")
    byWin.select(col("window"),
      expr(s"stack(${rules.size}, $stackArgs) AS (rule, col_name, violations)"),
      col("__n").as("n_rows"))
  }

  /** Streaming one-sample KS drift monitor: per event-time window, the
    * worst-case gap between the window's empirical CDF and a FIXED
    * reference CDF over the same binning — [[psiDriftStream]]'s
    * integer-exact companion (PSI weights every bin; KS catches the
    * localized shift). Same single stateful aggregate, same bins-longs
    * state; the fold is `max_i |cum_i·RN − R_i·N|` over the count
    * columns with reference CUMULATIVE counts `R_i` baked in as long
    * literals — exact int64 (window-count × reference-count < 2^63),
    * the only double being the final mirrored division.
    *
    * @param refCounts per-bin reference histogram (NOT cumulative)
    * @return per window: (window, n, ks).
    */
  def ksDriftStream(events: DataFrame, valueCol: String,
                    refCounts: Seq[Long], lo: Long, hi: Long,
                    watermark: String = "1 hour",
                    window_ : String = "1 hour"): DataFrame = {
    val bins = refCounts.size
    require(bins >= 2, "refCounts must have >= 2 bins")
    require(hi > lo, "hi must be > lo")
    val refCum = refCounts.scanLeft(0L)(_ + _).tail
    val refTotal = refCounts.sum
    require(refTotal > 0, "reference histogram must be non-empty")
    val byWin = binnedWindowCounts(events, valueCol, lo, hi, bins,
      watermark, window_)
    val n = Seq.tabulate(bins)(i => col(s"__c$i")).reduce(_ + _)
    def dNum(i: Int): Column = {
      val cum = (0 to i).map(j => col(s"__c$j")).reduce(_ + _)
      abs(cum * lit(refTotal) - lit(refCum(i)) * col("__n"))
    }
    byWin.withColumn("__n", n)
      .select(col("window"), col("__n").as("n"),
        round(
          Seq.tabulate(bins)(dNum).reduce((a, b) => greatest(a, b))
            .cast("double") /
            (col("__n").cast("double") * lit(refTotal.toDouble)), 6)
          .as("ks"))
  }

  /** Streaming per-window binned ROC-AUC monitor — the
    * classifier-drift readout at ingest ([[psiDriftStream]] watches the
    * feature distribution; this watches the classifier's ranking power
    * against an online label). Per event-time window: the exact
    * Mann-Whitney AUC of `scoreCol` vs boolean `labelCol` over `bins`
    * fixed-width score bins — [[graft.operators.Eval.aucRoc]]'s
    * integer pair-count formulation applied to binned scores (exact
    * over bins; binning is what bounds the state, and is the standard
    * reported AUC at scale).
    *
    * ONE stateful windowed aggregate; state per window = 2·bins longs
    * (per-bin positive/negative counts). The AUC folds STATICALLY over
    * the count columns — num2 = Σ_i pos_i·(2·negBelow_i + neg_i), all
    * int64, one final double division — so the result is slicing- and
    * partition-invariant and the oracle replays it bit-exactly. Rows
    * with a NULL score or label are excluded (no trial); AUC is NULL
    * when a window sees only one class.
    *
    * @return per window: (window, n_pos, n_neg, auc).
    */
  def aucStream(events: DataFrame, scoreCol: String, labelCol: String,
                lo: Long, hi: Long, bins: Int,
                watermark: String = "1 hour",
                window_ : String = "1 hour"): DataFrame = {
    require(bins >= 2, "bins must be >= 2")
    require(hi > lo, "hi must be > lo")
    val binCol = expr(
      s"least(greatest((floor($scoreCol) - ${lo}L) * $bins DIV ${hi - lo}L, 0L), ${bins - 1}L)")
    val lab = col(labelCol).cast("boolean")
    val aggs = Seq.tabulate(bins)(i =>
      sum(when(col("__bin") === i && col("__lab"), 1L).otherwise(0L))
        .as(s"__p$i")) ++
      Seq.tabulate(bins)(i =>
        sum(when(col("__bin") === i && !col("__lab"), 1L).otherwise(0L))
          .as(s"__n$i"))
    val byWin = events
      .withWatermark("event_time", watermark)
      .where(expr(s"$scoreCol IS NOT NULL") && lab.isNotNull)
      .select(col("event_time"), binCol.as("__bin"), lab.as("__lab"))
      .groupBy(window(col("event_time"), window_))
      .agg(aggs.head, aggs.tail: _*)
    def p(i: Int): Column = coalesce(col(s"__p$i"), lit(0L))
    def ng(i: Int): Column = coalesce(col(s"__n$i"), lit(0L))
    val pTot = Seq.tabulate(bins)(p).reduce(_ + _)
    val nTot = Seq.tabulate(bins)(ng).reduce(_ + _)
    val num2 = Seq.tabulate(bins) { i =>
      val below = if (i == 0) lit(0L) else Seq.tabulate(i)(ng).reduce(_ + _)
      p(i) * (lit(2L) * below + ng(i))
    }.reduce(_ + _)
    byWin.select(col("window"), pTot.as("n_pos"), nTot.as("n_neg"),
      when(pTot > 0 && nTot > 0,
        num2.cast("double") / (lit(2.0) * pTot * nTot)).as("auc"))
  }

  /** Streaming per-window classifier quality monitor — the live face
    * of [[graft.operators.Eval.classificationReport]]: per event-time
    * window, exact confusion counts (tp/fp/fn/tn) of a boolean
    * prediction against an online boolean label, plus the same
    * mirrored precision/recall/F1 (2tp/(2tp+fp+fn))/accuracy readout —
    * "is the quality filter still behaving" at ingest, next to
    * [[aucStream]]'s ranking view.
    *
    * ONE stateful windowed aggregate; state per window = five longs,
    * watermark-pruned in append/update output modes — the
    * q_stream_confusion drain runs UPDATE mode with a per-window
    * [[compactUpdateDrain]] over the sink changelog, so the documented
    * bound is the one exercised (complete mode never evicts aggregate
    * state). Rows with a NULL label or
    * prediction are
    * excluded (no trial); degenerate margins yield NULL metrics, never
    * NaN/Inf. The metric algebra is byte-identical to the batch
    * operator, so the oracle replays it per window.
    *
    * @return per window: (window, n, tp, fp, fn, tn, prec, rec, f1,
    *         acc). */
  def confusionStream(events: DataFrame, labelCol: String,
                      predCol: String, watermark: String = "1 hour",
                      window_ : String = "1 hour"): DataFrame = {
    val lab = col(labelCol).cast("boolean")
    val prd = col(predCol).cast("boolean")
    def cnt(c: Column) =
      coalesce(sum(when(c, 1L).otherwise(0L)), lit(0L))
    val byWin = events
      .withWatermark("event_time", watermark)
      .where(lab.isNotNull && prd.isNotNull)
      .select(col("event_time"), lab.as("__y"), prd.as("__p"))
      .groupBy(window(col("event_time"), window_))
      .agg(count(lit(1)).as("n"),
        cnt(col("__y") && col("__p")).as("tp"),
        cnt(!col("__y") && col("__p")).as("fp"),
        cnt(col("__y") && !col("__p")).as("fn"),
        cnt(!col("__y") && !col("__p")).as("tn"))
    val (tp, fp, fn_, tn) = (col("tp"), col("fp"), col("fn"), col("tn"))
    // the metric algebra is the batch operator's, by reference — not a
    // copy kept in sync by hand
    byWin.select(Seq(col("window"), col("n"), tp, fp, fn_, tn) ++
      graft.operators.Eval.confusionMetricCols(tp, fp, fn_, tn,
        col("n")): _*)
  }

  /** Streaming ε-DP count release — the ingest-time twin of
    * [[graft.operators.Privacy.dpGroupRelease]]'s count leg: per
    * event-time window, the event count published with deterministic
    * Laplace noise (count sensitivity 1 → scale 1/ε) keyed on
    * (seed, window start); the seed is the release secret
    * (computational DP — see [[graft.operators.Privacy.laplaceNoise]]).
    *
    * DP CONTRACT — exactly ONE release per window may be published.
    * Because the noise is a PRF of (seed, window) only, two emissions
    * of the SAME window with DIFFERENT true counts carry the identical
    * draw, so their difference is the exact count delta with ZERO
    * noise — publishing an emitted series of a still-changing window
    * voids the ε guarantee. Safe drain shapes: `append` output mode
    * (each window emits once, after the watermark closes it — the
    * continuous-run shape), or a single terminal `complete`-mode
    * snapshot of a bounded replay (the q_stream_dp drain) —
    * q_stream_dp2 exercises the append shape end-to-end: only
    * watermark-closed windows publish, oracle-pinned to the closed
    * set. Update-mode
    * or repeated complete-mode publications of live windows are NOT
    * ε-DP under this keying; to publish refinements, draw per-emission
    * noise and account the composed budget caller-side. Re-emitting a
    * window whose true count did NOT change is harmless (same release
    * verbatim) — which is why the deterministic keying is kept: the
    * batch oracle replays the final series term for term.
    *
    * ONE stateful windowed aggregate (one long of state per live
    * window, watermark-pruned in append/update output modes) + a
    * map-only noise attach on emission. */
  def dpCountStream(events: DataFrame, eps: Double, seed: String,
                    watermark: String = "1 hour",
                    window_ : String = "1 hour"): DataFrame = {
    require(eps > 0, s"eps must be > 0, got $eps")
    events.withWatermark("event_time", watermark)
      .groupBy(window(col("event_time"), window_))
      .agg(count(lit(1)).as("n"))
      .select(col("window"),
        (col("n").cast("double") + graft.operators.Privacy.laplaceNoise(
          concat_ws("|", lit(seed), lit("n"),
            col("window.start").cast("long").cast("string")),
          1.0 / eps)).as("n_dp"))
  }

  /** DuckDB oracle twin of [[confusionStream]] for a 1-hour tumbling
    * window over `events`: identical counts, identical single
    * divisions. Emits WITH bodies through `scored`
    * (win, n, tp, fp, fn, tn, prec, rec, f1, acc). */
  def confusionOracleSelect(labelExpr: String, predExpr: String): String =
    s"""b AS (SELECT date_trunc('hour', ts) AS win,
       |    CASE WHEN $labelExpr THEN 1 ELSE 0 END AS y,
       |    CASE WHEN $predExpr THEN 1 ELSE 0 END AS p
       |  FROM events
       |  WHERE ($labelExpr) IS NOT NULL AND ($predExpr) IS NOT NULL),
       |g AS (SELECT win, CAST(count(*) AS BIGINT) AS n,
       |    CAST(COALESCE(sum(CASE WHEN y = 1 AND p = 1 THEN 1 ELSE 0 END), 0) AS BIGINT) AS tp,
       |    CAST(COALESCE(sum(CASE WHEN y = 0 AND p = 1 THEN 1 ELSE 0 END), 0) AS BIGINT) AS fp,
       |    CAST(COALESCE(sum(CASE WHEN y = 1 AND p = 0 THEN 1 ELSE 0 END), 0) AS BIGINT) AS fn,
       |    CAST(COALESCE(sum(CASE WHEN y = 0 AND p = 0 THEN 1 ELSE 0 END), 0) AS BIGINT) AS tn
       |  FROM b GROUP BY win),
       |scored AS (SELECT win, n, tp, fp, fn, tn,
       |    ${graft.operators.Eval.confusionMetricsSqlItems}
       |  FROM g)""".stripMargin

  /** DuckDB oracle twin of [[aucStream]] for a 1-hour tumbling window
    * over `events`: identical binning, identical integer pair counts
    * (the SQL side walks bins with a window-ordered cumulative — a
    * different association of the SAME exact integers), identical
    * final division. Emits WITH bodies through `scored`
    * (win, n_pos, n_neg, auc). */
  def aucStreamOracleSelect(scoreCol: String, labelExpr: String,
                            lo: Long, hi: Long, bins: Int): String = {
    val binOf =
      s"least(greatest((CAST(floor($scoreCol) AS BIGINT) - $lo) * $bins // ${hi - lo}, 0), ${bins - 1})"
    s"""b AS (SELECT date_trunc('hour', ts) AS win, $binOf AS bin,
       |    CASE WHEN $labelExpr THEN 1 ELSE 0 END AS lab
       |  FROM events
       |  WHERE ($scoreCol) IS NOT NULL AND ($labelExpr) IS NOT NULL),
       |g AS (SELECT win, bin, CAST(sum(lab) AS BIGINT) AS pos,
       |    CAST(sum(1 - lab) AS BIGINT) AS neg
       |  FROM b GROUP BY win, bin),
       |wk AS (SELECT win, pos, neg,
       |    CAST(COALESCE(sum(neg) OVER (PARTITION BY win ORDER BY bin
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
       |      AS negbelow
       |  FROM g),
       |scored AS (SELECT win, CAST(sum(pos) AS BIGINT) AS n_pos,
       |    CAST(sum(neg) AS BIGINT) AS n_neg,
       |    CASE WHEN sum(pos) > 0 AND sum(neg) > 0
       |      THEN CAST(sum(pos * (2 * negbelow + neg)) AS DOUBLE)
       |        / (2.0 * sum(pos) * sum(neg)) END AS auc
       |  FROM wk GROUP BY win)""".stripMargin
  }

  /** DuckDB oracle twin of [[ksDriftStream]]: same shape as
    * [[psiDriftOracleSelect]] — reference cumulative counts recomputed
    * in SQL (exact integers, so no literal-precision concern at all).
    * Emits WITH bodies through `scored` (win, n, ks). */
  def ksDriftOracleSelect(valueCol: String, refWhere: String,
                          lo: Long, hi: Long, bins: Int): String = {
    def binOf(src: String) =
      s"least(greatest((CAST(floor($src) AS BIGINT) - $lo) * $bins // ${hi - lo}, 0), ${bins - 1})"
    val rs = (0 until bins).map(i =>
      s"CAST(sum(CASE WHEN bin <= $i THEN 1 ELSE 0 END) AS BIGINT) AS r$i")
      .mkString(",\n       |    ")
    val cs = (0 until bins).map(i =>
      s"CAST(sum(CASE WHEN bin = $i THEN 1 ELSE 0 END) AS BIGINT) AS c$i")
      .mkString(",\n       |    ")
    val nSum = (0 until bins).map(i => s"c$i").mkString(" + ")
    val ds = (0 until bins).map { i =>
      val cum = (0 to i).map(j => s"c$j").mkString(" + ")
      s"abs(($cum) * rn - r$i * n)"
    }.mkString(",\n       |      ")
    s"""rb AS (SELECT ${binOf(valueCol)} AS bin FROM events WHERE $refWhere),
       |rc AS (SELECT
       |    $rs,
       |    CAST(count(*) AS BIGINT) AS rn
       |  FROM rb),
       |b AS (SELECT date_trunc('hour', ts) AS win,
       |    ${binOf(valueCol)} AS bin
       |  FROM events),
       |c AS (SELECT win,
       |    $cs
       |  FROM b GROUP BY win),
       |cn AS (SELECT *, $nSum AS n FROM c),
       |scored AS (SELECT win, CAST(n AS BIGINT) AS n,
       |    round(CAST(greatest(
       |      $ds
       |    ) AS DOUBLE) / (CAST(n AS DOUBLE) * CAST(rn AS DOUBLE)), 6) AS ks
       |  FROM cn CROSS JOIN rc)""".stripMargin
  }

  /** DuckDB oracle twin of [[psiDriftStream]] for a 1-hour tumbling
    * window over `events`: replays the identical binning, conditional
    * counts, and double expression tree. The reference histogram the
    * Spark side collected and baked in as literals is recomputed HERE in
    * SQL (`events WHERE refWhere`) with the identical integer→double
    * operations — `(r+1)::DOUBLE / (rn+bins)::DOUBLE` is the same
    * correctly-rounded division the driver's `.toDouble` arithmetic
    * performed, so the probabilities match bit-for-bit without
    * embedding data-derived literals in static SQL. Emits WITH bodies
    * through `scored` (win, n, psi). */
  def psiDriftOracleSelect(valueCol: String, refWhere: String,
                           lo: Long, hi: Long, bins: Int): String = {
    def binOf(src: String) =
      s"least(greatest((CAST(floor($src) AS BIGINT) - $lo) * $bins // ${hi - lo}, 0), ${bins - 1})"
    val rs = (0 until bins).map(i =>
      s"CAST(sum(CASE WHEN bin = $i THEN 1 ELSE 0 END) AS BIGINT) AS r$i")
      .mkString(",\n       |    ")
    val cs = (0 until bins).map(i =>
      s"CAST(sum(CASE WHEN bin = $i THEN 1 ELSE 0 END) AS BIGINT) AS c$i")
      .mkString(",\n       |    ")
    val rnSum = (0 until bins).map(i => s"r$i").mkString(" + ")
    val nSum = (0 until bins).map(i => s"c$i").mkString(" + ")
    val terms = (0 until bins).map { i =>
      val pa = s"(CAST(c$i + 1 AS DOUBLE) / (CAST(n AS DOUBLE) + CAST($bins AS DOUBLE)))"
      val pr = s"(CAST(r$i + 1 AS DOUBLE) / CAST(rn + $bins AS DOUBLE))"
      s"CAST(floor(($pa - $pr) * ln($pa / $pr) * 1e9) AS BIGINT)"
    }.mkString("\n       |      + ")
    s"""rb AS (SELECT ${binOf(valueCol)} AS bin FROM events WHERE $refWhere),
       |rc AS (SELECT
       |    $rs
       |  FROM rb),
       |rcn AS (SELECT *, $rnSum AS rn FROM rc),
       |b AS (SELECT date_trunc('hour', ts) AS win,
       |    ${binOf(valueCol)} AS bin
       |  FROM events),
       |c AS (SELECT win,
       |    $cs
       |  FROM b GROUP BY win),
       |cn AS (SELECT *, $nSum AS n FROM c),
       |scored AS (SELECT win, CAST(n AS BIGINT) AS n,
       |    round(CAST(
       |      $terms
       |    AS DOUBLE) / 1e9, 6) AS psi
       |  FROM cn CROSS JOIN rcn)""".stripMargin
  }

  def runToMemory(df: DataFrame, name: String,
                  outputMode: String = "append",
                  statePartitions: Int = 8): StreamingQuery = {
    val spark = df.sparkSession
    // session-conf override so invariance tests can run the SAME stream
    // query under different state partitionings (the stream analogue of
    // InvarianceSpec's shuffle-partitions sweep) without threading a
    // parameter through every call site
    val effectiveParts = spark.conf
      .getOption("graft.stream.statePartitions")
      .map(_.toInt).getOrElse(statePartitions)
    val key = "spark.sql.shuffle.partitions"
    // synchronized: start() snapshots the session conf (cloned into the
    // stream), but two concurrent runToMemory calls could otherwise
    // interleave set/restore and leave the session permanently at the
    // temporary value
    spark.synchronized {
      val prev = spark.conf.get(key)
      spark.conf.set(key, effectiveParts.toString)
      try df.writeStream.outputMode(outputMode)
        .format("memory").queryName(name)
        .trigger(Trigger.AvailableNow())
        .start()
      finally spark.conf.set(key, prev)
    }
  }
}
