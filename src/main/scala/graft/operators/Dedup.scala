package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deduplication operators for training-data pipelines, each designed for
  * the 100 TB shape of the problem:
  *
  *  - exact: one hash-shuffle groupBy on the dedup key (map-side partial
  *    aggregation applies).
  *  - MinHash+LSH: signatures are per-row expressions; candidate pairs come
  *    from an equi-join on (band, bandKey) so only same-bucket rows meet —
  *    never an O(n²) compare.
  *  - SimHash: 64-bit signature per row; near-dup candidates via the
  *    pigeonhole band join (hamming ≤ d → some 16-bit chunk equal for
  *    d ≤ 3), then exact hamming filter with bit_count.
  *  - n-gram Jaccard: explode distinct shingles, equi-join on shingle with
  *    a frequency cap to cut hub-shingle skew, then exact Jaccard from
  *    intersection counts.
  *
  * All deterministic: hash family parameters derive from a fixed seed.
  */
object Dedup {

  /** Connected components over a candidate-duplicate pair graph —
    * resolves pairwise dup hits into whole clusters (a chain a~b~c must
    * collapse to ONE canonical doc even if (a,c) was never a candidate).
    *
    * Iterative min-label propagation, the shuffle-only large-graph CC:
    * each round joins labels to edges and takes a per-node min — one hash
    * shuffle per round, converging in O(graph diameter) rounds (dup
    * clusters are near-cliques, so 2–3 in practice). Each iteration is
    * materialized to scratch parquet, which both truncates lineage (the
    * plan would otherwise double per round) and — unlike `localCheckpoint`
    * — holds NO block-manager memory after the call returns: an earlier
    * build leaked the checkpointed RDD blocks of every iteration into the
    * long-lived session. Scratch files live under java.io.tmpdir and are
    * removed on JVM exit; at cluster scale this is the standard
    * iterate-via-storage shape (each round's state is a small
    * (node, label) table, not the corpus).
    *
    * Returns (node, label) where label = min node id in the component.
    *
    * `scratchDir`: where iteration state materializes. The default is a
    * DRIVER-LOCAL managed temp dir — correct in local mode only, and
    * ENFORCED as such: on a non-local master executors commit `file:/...`
    * task output to their own local disks and the next round's read would
    * silently see partial state (wrong cluster labels), so a cluster run
    * without an explicit shared-filesystem scratchDir (HDFS/S3/NFS) fails
    * fast instead. Iteration i−1's parquet is deleted as soon as
    * iteration i is materialized and counted, so at most two iteration
    * snapshots (plus the edge list) exist at any moment and nothing but
    * the final labels outlives the call — a long-lived session running
    * many dedup passes would otherwise accumulate scratch until JVM
    * exit. */
  def duplicateClusters(pairs: DataFrame, aCol: String, bCol: String,
                        maxIter: Int = 20,
                        scratchDir: Option[String] = None): DataFrame = {
    val spark = pairs.sparkSession
    val scratch = new Scratch(spark, "duplicateClusters", "graft-cc",
      scratchDir)
    import scratch.{materialize, drop}
    val edges = materialize(
      pairs.select(col(aCol).as("src"), col(bCol).as("dst"))
        .union(pairs.select(col(bCol).as("src"), col(aCol).as("dst")))
        .distinct(), "edges")
    // seed labels with one propagation step folded in — min(self, direct
    // neighbors) is a plain groupBy over the (bidirectional) edge list,
    // no join; duplicate clusters are near-cliques (diameter 1), so the
    // loop then usually runs a single confirming iteration
    var labels = edges.groupBy("src").agg(min(col("dst")).as("__m"))
      .select(col("src").as("node"), least(col("src"), col("__m")).as("label"))
    var changed = 1L
    var i = 0
    while (changed > 0 && i < maxIter) {
      val nbrLabels = edges
        .join(labels.withColumnRenamed("node", "src"), "src")
        .select(col("dst").as("node"), col("label"))
      val next = labels.union(nbrLabels).groupBy("node")
        .agg(min("label").as("next_label"))
      val merged = materialize(labels.join(next, "node"), s"iter$i")
      changed = merged.where(col("next_label") < col("label")).count()
      // iteration i is on disk and counted — everything before it is
      // dead state (labels now reads iter i only)
      if (i > 0) drop(s"iter${i - 1}")
      labels = merged.select(col("node"), col("next_label").as("label"))
      i += 1
    }
    // the returned labels depend only on the LAST iteration's parquet;
    // the edge list was only ever a loop input (maxIter=0 returns the
    // seed labels, which still read it)
    if (i > 0) drop("edges")
    labels
  }

  /** Canonical-document selection per duplicate cluster: every doc joins
    * its cluster label ([[duplicateClusters]] output; unclustered docs are
    * their own singleton cluster via the left join + coalesce), then ONE
    * struct-max aggregate per cluster picks the representative — highest
    * `scoreCol` (e.g. n_chars or a quality score), id as the deterministic
    * tiebreak. No window over the corpus, just a hash-shuffle groupBy. */
  def canonicalize(docs: DataFrame, clusters: DataFrame, idCol: String,
                   scoreCol: String): DataFrame = {
    val labeled = docs
      .join(clusters.withColumnRenamed("node", idCol), Seq(idCol), "left")
      .withColumn("cluster", coalesce(col("label"), col(idCol)))
    labeled.groupBy("cluster")
      .agg(max(struct(col(scoreCol), col(idCol))).as("__best"),
        count(lit(1)).as("n_members"))
      .select(col("cluster"), col(s"__best.$idCol").as("canonical_id"),
        col(s"__best.$scoreCol").as("canonical_score"), col("n_members"))
  }

  /** Upsert compaction: keep the LATEST version of each key — the
    * changelog→snapshot step of an incremental ingest (CDC replay,
    * re-crawled documents). ONE struct-max groupBy per key: (version,
    * tiebreak...) ordering, map-side partial aggregation, no window over
    * the changelog. `orderCols` must make the choice total (append a
    * unique id last). */
  def latestByKey(df: DataFrame, keyCols: Seq[String],
                  orderCols: Seq[String]): DataFrame = {
    require(orderCols.nonEmpty, "latestByKey needs at least one order column")
    val payload = df.columns.filterNot(keyCols.contains)
    val packed = struct((orderCols ++ payload.filterNot(orderCols.contains))
      .map(col): _*)
    df.groupBy(keyCols.map(col): _*)
      .agg(max(packed).as("__latest"))
      .select(keyCols.map(col) ++
        payload.map(c => col(s"__latest.$c").as(c)): _*)
  }

  /** Full CDC replay: [[latestByKey]] plus DELETE tombstones — a key
    * whose LATEST change is a delete op leaves the snapshot entirely
    * (upsert-only compaction would resurrect it with its last values).
    * The op column must participate in the version order the caller
    * passes if ops can share a version (append it to `orderCols`);
    * deletes only win by being latest, never by op precedence.
    *
    * Same scale shape as latestByKey — the tombstone filter is one
    * map-side predicate AFTER the single struct-max groupBy, so deleted
    * keys cost one aggregate row each, never a join. A NULL op is an
    * upsert (row kept): source connectors that only stamp deletes leave
    * op NULL on the insert path, and `null ∉ deleteOps` must not
    * null-propagate into the filter and silently drop those rows. */
  def applyChangelog(df: DataFrame, keyCols: Seq[String],
                     orderCols: Seq[String], opCol: String,
                     deleteOps: Set[String] = Set("D")): DataFrame = {
    require(deleteOps.nonEmpty, "applyChangelog needs at least one delete op")
    latestByKey(df, keyCols, orderCols)
      .where(!coalesce(col(opCol).isInCollection(deleteOps), lit(false)))
      .drop(opCol)
  }

  /** Compact a drained [[graft.streaming.GraftStreaming.cdcStream]]
    * emission set (key, ver, value, deleted) to the snapshot it
    * represents: each key's max-ver emission wins, tombstoned keys
    * leave. The batch half of replaying a CDC emission log into a
    * non-upsert sink; same single struct-max shape as
    * [[applyChangelog]]. */
  def applyChangelogEmissions(emissions: DataFrame): DataFrame =
    latestByKey(emissions, Seq("key"), Seq("ver"))
      .where(!col("deleted")).drop("deleted")

  /** Exact dedup: canonical (min id) representative + duplicate count per
    * distinct key value. */
  def exact(df: DataFrame, keyCols: Seq[String], idCol: String): DataFrame =
    df.groupBy(keyCols.map(col): _*)
      .agg(min(col(idCol)).as("canonical_id"), count(lit(1)).as("n_dupes"))

  /** Exact text dedup on the normalized md5 fingerprint. */
  def exactText(df: DataFrame, textCol: String, idCol: String): DataFrame =
    df.select(TextAnalysis.fingerprint(col(textCol)).as("fp"), col(idCol))
      .groupBy(col("fp"))
      .agg(min(col(idCol)).as("canonical_id"), count(lit(1)).as("n_dupes"))

  /** Intra-fingerprint duplicate STAR edges (min id ↔ every other
    * member; id_l < id_r) — the exact-dup edge list feeding
    * [[duplicateClusters]]/[[canonicalize]]. A star connects exactly the
    * same components as the full clique with LINEARLY many edges, which
    * matters precisely on the corpora exact dedup exists for: N copies
    * of one boilerplate page would make a per-bucket pair explosion
    * (or a fingerprint self-join) emit N²/2 rows — the star emits N-1.
    * One groupBy for the per-fingerprint min (plain partial aggregation,
    * nothing collected) + one join back on the fingerprint; the
    * normalize+md5 text scan runs twice (agg input + probe side), the
    * cheap trade for an unconditionally skew-proof edge list. */
  def exactTextPairs(df: DataFrame, textCol: String, idCol: String): DataFrame = {
    val fp = df.select(TextAnalysis.fingerprint(col(textCol)).as("__fp"),
      col(idCol).as("__id"))
    val minPerFp = fp.groupBy("__fp").agg(min(col("__id")).as("id_l"))
    fp.join(minPerFp, Seq("__fp"))
      .where(col("__id") > col("id_l"))
      .select(col("id_l"), col("__id").as("id_r"))
  }

  /** Incremental-ingest novelty: new-batch docs whose normalized text
    * fingerprint does NOT already exist in the corpus — LEFT ANTI join
    * on the fingerprint, the snapshot-vs-batch half of exact dedup (the
    * corpus side reduces to a distinct fingerprint set; at scale that
    * set is the thing you keep materialized between ingests). */
  def novelAgainst(newDocs: DataFrame, corpus: DataFrame,
                   textCol: String): DataFrame =
    newDocs.withColumn("__fp", TextAnalysis.fingerprint(col(textCol)))
      .join(corpus.select(TextAnalysis.fingerprint(col(textCol)).as("__fp"))
        .distinct(), Seq("__fp"), "left_anti")
      .drop("__fp")

  /** [[novelAgainst]] with SUBLINEAR memory: the corpus collapses to a
    * `numBits`-bit Bloom filter (one aggregate — Spark's native
    * TypedImperativeAggregate with map-side partials, the same sketch
    * the engine injects for runtime join filters) instead of a distinct
    * fingerprint set. At 100 TB the exact form's anti-join state is the
    * corpus's distinct-fingerprint set (~16 bytes × |corpus|); the Bloom
    * form is numBits/8 bytes TOTAL (e.g. 128 MiB for 2^30 bits) and
    * broadcasts to every executor, so the new batch is filtered map-side
    * with ZERO shuffle on either side.
    *
    * Bloom semantics: "novel" misses are impossible (a fingerprint in
    * the corpus is always flagged as seen — no false novelty... i.e. no
    * false negatives on membership), while a ~(k·n/m)^k sliver of truly
    * novel docs is wrongly dropped (false positives on membership).
    * That asymmetry is the SAFE direction for ingest dedup: you never
    * re-admit a duplicate, you only over-drop at the configured rate.
    * The filter is fully deterministic (seeded xxhash64 bit positions),
    * so a given (corpus, numBits) pair always yields the same keep set —
    * the differential spec pins novelBloom ⊆ novelExact and exact
    * equality at test scale, where the FP probability is ≪ 1/|batch|.
    *
    * The sketch transits the driver once as an aggregate scalar (the
    * same eager-scalar posture as [[Similarity.ivfTopKIndexed]]'s
    * probed-list collect — `might_contain` requires a constant filter)
    * and rides the batch-side plan as a numBits/8-byte literal: size
    * `numBits` to what you want shipped per stage, not to the corpus. */
  def novelAgainstBloom(newDocs: DataFrame, corpus: DataFrame,
                        textCol: String,
                        expectedItems: Long = 1000000L,
                        numBits: Long = 1L << 23): DataFrame = {
    import org.apache.spark.sql.GraftSqlBridge.{column, expression}
    import org.apache.spark.sql.catalyst.expressions.{Literal, BloomFilterMightContain}
    import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
    require(expectedItems > 0 && numBits > 0)
    val fpLong = TextAnalysis.xxFingerprint(col(textCol))
    val sketch = corpus.agg(column(
      new BloomFilterAggregate(expression(fpLong),
        Literal(expectedItems), Literal(numBits)).toAggregateExpression())
      .as("__bloom")).head().get(0)
    if (sketch == null) newDocs // empty corpus: everything is novel
    else newDocs.where(!column(BloomFilterMightContain(
      Literal(sketch, org.apache.spark.sql.types.BinaryType),
      expression(fpLong))))
  }

  /** Snapshot diff between two corpus versions — the daily-crawl delta:
    * classify every id as `added` (only in the new snapshot), `removed`
    * (only in the old), or `changed` (present in both with a different
    * normalized-text fingerprint). `unchanged` rows — the overwhelming
    * bulk of a 100 TB snapshot pair — are EXCLUDED by default so the
    * output is the delta, not the corpus; flip `includeUnchanged` for
    * audits. One full-outer join on the id (both sides reduce to
    * (id, 16-byte fingerprint) projections before the exchange, so the
    * shuffle carries fingerprints, never text), then downstream
    * incremental work keys off the delta alone: `added`+`changed` feed
    * re-ingest (e.g. [[novelAgainst]]/[[buildNearDupIndex]] probes),
    * `removed` feeds retention tombstones. */
  def corpusDiff(oldDocs: DataFrame, newDocs: DataFrame,
                 idCol: String, textCol: String,
                 includeUnchanged: Boolean = false): DataFrame = {
    val o = oldDocs.select(col(idCol).as("__id"),
      TextAnalysis.fingerprint(col(textCol)).as("__ofp"))
    val n = newDocs.select(col(idCol).as("__id"),
      TextAnalysis.fingerprint(col(textCol)).as("__nfp"))
    val tagged = o.join(n, Seq("__id"), "full_outer")
      .select(col("__id").as(idCol),
        when(col("__ofp").isNull, "added")
          .when(col("__nfp").isNull, "removed")
          .when(col("__ofp") === col("__nfp"), "unchanged")
          .otherwise("changed").as("status"))
    if (includeUnchanged) tagged
    else tagged.where(col("status") =!= "unchanged")
  }

  /** Word n-gram shingles (distinct). Short texts (< n tokens) yield the
    * whole text as one shingle so they still participate. Native
    * codegen'd kernel — see [[graft.functions.WordShingles]]. */
  def shingles(text: Column, n: Int): Column =
    org.apache.spark.sql.GraftSqlBridge.column(
      graft.functions.WordShingles(
        org.apache.spark.sql.GraftSqlBridge.expression(text), n,
        distinct = true))

  /** Word n-gram shingles WITH multiplicity (repetition statistics need
    * the raw occurrence stream, not the set). */
  def shinglesAll(text: Column, n: Int): Column =
    org.apache.spark.sql.GraftSqlBridge.column(
      graft.functions.WordShingles(
        org.apache.spark.sql.GraftSqlBridge.expression(text), n,
        distinct = false))

  /** [[shingles]] rendered as DuckDB SQL over a text column reference:
    * identical tokenization (\s+ split, empties dropped), identical
    * n-gram windows, identical short-text fallback, distinct. */
  def shinglesOracleSqlExpr(textRef: String, n: Int): String =
    s"list_distinct(${shinglesAllOracleSqlExpr(textRef, n)})"

  /** [[shinglesAll]] (multiplicity-preserving) as DuckDB SQL. */
  def shinglesAllOracleSqlExpr(textRef: String, n: Int): String = {
    val toks = s"list_filter(string_split_regex(trim($textRef), '\\s+'), w -> len(w) > 0)"
    s"(CASE WHEN len($toks) >= $n THEN " +
      s"list_transform(generate_series(1, len($toks) - ${n - 1}), " +
      s"i -> array_to_string(list_slice($toks, i, i + ${n - 1}), ' ')) " +
      s"ELSE [array_to_string($toks, ' ')] END)"
  }

  /** All-pairs exact n-gram Jaccard as DuckDB SQL — the oracle for both
    * the exact shingle-join operator and (recall permitting) the
    * LSH-generate → exact-verify pipeline, whose output must equal the
    * exhaustive computation whenever the banding catches every pair at
    * the threshold. Integer set sizes and a single double division mirror
    * the Spark arithmetic bit-for-bit. */
  def jaccardPairsOracleSql(n: Int, threshold: Double): String = {
    val sh = shinglesOracleSqlExpr("text", n)
    s"""WITH sh AS (SELECT doc_id, $sh AS s FROM documents),
       |j AS (SELECT a.doc_id AS id_l, b.doc_id AS id_r,
       |   CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) /
       |   (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))) AS jaccard
       | FROM sh a JOIN sh b ON a.doc_id < b.doc_id)
       |SELECT id_l, id_r, round(jaccard, 6) AS jaccard
       |FROM j WHERE jaccard >= $threshold ORDER BY id_l, id_r""".stripMargin
  }

  /** The k-member hash family over a base (already-hashed) long:
    * per-member seeded xxhash64 of the fixed 8-byte base (the seed is an
    * extra hashed column). Deliberately NOT an affine h1 + i·h2 family —
    * wrapping Long arithmetic THROWS under ANSI mode (the Spark 4
    * default outside GraftSession), and profiling showed the k long
    * hashes are not the MinHash bottleneck (the shingle builder was). */
  private def hashFamily(base: Column, numHashes: Int, seed: Long): Seq[Column] =
    (0 until numHashes).map(i => xxhash64(base, lit(seed + i)))

  /** MinHash signature over an already-built shingle array column.
    * Implemented as a SINGLE aggregate pass over the shingle array that
    * folds a k-wide min vector — the shingle array expression appears once
    * in the plan (an array(transform…) per function would be recomputed k
    * times after Catalyst collapses projections). Same hash family as
    * [[minhashSignatures]] (the whole-table form), so the two agree. */
  def minhashSignatureOf(shingleArr: Column, numHashes: Int = 64,
                         seed: Long = 42L): Column =
    aggregate(shingleArr,
      typedlit(Seq.fill(numHashes)(Long.MaxValue)),
      (acc, s) => zip_with(acc,
        array(hashFamily(xxhash64(s), numHashes, seed): _*),
        (a, b) => least(a, b)))

  /** MinHash signature straight from a text column. Prefer materializing
    * the shingle array once (withColumn) when computing many signatures —
    * see minhashLshPairs. */
  def minhashSignature(text: Column, numHashes: Int = 64, shingleN: Int = 3,
                       seed: Long = 42L): Column =
    minhashSignatureOf(shingles(text, shingleN), numHashes, seed)

  /** Whole-table MinHash signatures: (id, sig array<long>) — ONE
    * compiled projection over the scan via the native
    * [[graft.functions.MinHashSig]] kernel: no explode, no aggregation,
    * NO SHUFFLE (a signature is a pure function of one document's
    * shingle set). Bit-identical hash family to [[minhashSignaturesAgg]]
    * (the previous explode + groupBy-min formulation, kept as the
    * differential reference) and to [[minhashSignatureOf]]. */
  def minhashSignatures(df: DataFrame, idCol: String, textCol: String,
                        numHashes: Int = 64, shingleN: Int = 3,
                        seed: Long = 42L): DataFrame =
    df.select(col(idCol).as("__id"),
      org.apache.spark.sql.GraftSqlBridge.column(
        graft.functions.MinHashSig(
          org.apache.spark.sql.GraftSqlBridge.expression(col(textCol)),
          numHashes, shingleN, seed)).as("__sig"))

  /** The pre-kernel formulation — explode(shingles) → k codegen'd
    * xxhash64 columns → groupBy(id).min(...) with map-side partials
    * (shuffle = k longs/doc). Itself the fix for the ~20× slower
    * interpreted HOF fold; retained for the differential spec that pins
    * the kernel to it bit-for-bit. */
  private[graft] def minhashSignaturesAgg(df: DataFrame, idCol: String, textCol: String,
                        numHashes: Int = 64, shingleN: Int = 3,
                        seed: Long = 42L): DataFrame = {
    val ex = df.select(col(idCol).as("__id"),
      explode(shingles(col(textCol), shingleN)).as("__s"))
    // hash the variable-length shingle bytes ONCE, then derive the k
    // family members by re-hashing the fixed 8-byte base ([[hashFamily]])
    // — the per-shingle cost is 1 string hash + k long hashes, not k
    // string hashes
    val based = ex.select(col("__id"), xxhash64(col("__s")).as("__hb"))
    val hashed = based.select(col("__id") +:
      hashFamily(col("__hb"), numHashes, seed).zipWithIndex
        .map { case (h, i) => h.as(s"__h$i") }: _*)
    val aggd = hashed.groupBy("__id")
      .agg(min(col("__h0")).as("__h0"),
        (1 until numHashes).map(i => min(col(s"__h$i")).as(s"__h$i")): _*)
    aggd.select(col("__id"),
      array((0 until numHashes).map(i => col(s"__h$i")): _*).as("__sig"))
  }

  /** Within-bucket ordered pairs from a bucketed relation.
    *
    * `buckets` must have shape (bucket key columns..., `payloadCol`:
    * struct with an `__id` field). ONE hash-shuffle groups each bucket's
    * members into an array; singleton buckets (the overwhelming majority
    * under a well-dialed LSH) are pruned BEFORE any pair is generated,
    * and the within-bucket cross product comes from two chained explodes
    * of the collected array — plain attribute forwarding, no self-join.
    *
    * This is the load-bearing shape choice of the whole dedup family:
    * a bucket SELF-JOIN consumes the expensive upstream pipeline (scan →
    * shingle → k hashes → aggregate) twice, and whether that subtree is
    * computed once or twice then hinges on exchange-reuse firing — which
    * is fragile under AQE and config-dependent (the round-2 driver bench
    * measured the recompute at 140× on exactly this path). Collecting the
    * bucket makes the pipeline a literal single consumer: the plan cannot
    * recompute it, under any planner. Per-bucket memory is bounded by the
    * LSH occupancy dial (n/2^planes per band) — EXPECTED occupancy; the
    * `maxBucketSize` cap below is the hard guard for the degenerate
    * bucket the dial can't predict. */
  private val dropMetricId = new java.util.concurrent.atomic.AtomicLong()

  /** Total buckets dropped by the occupancy cap during the LAST action on
    * `df` (sums every `graft_dropped_buckets_*` observe metric in its
    * plan). 0 means the cap never fired — the healthy state; a positive
    * count on a production corpus is the boilerplate-spam signal worth
    * alerting on. Call AFTER an action has executed the frame. */
  def observedDroppedBuckets(df: DataFrame): Long =
    df.queryExecution.observedMetrics.collect {
      case (name, row) if name.startsWith("graft_dropped_buckets") =>
        if (row.isNullAt(0)) 0L else row.getLong(0)
    }.sum

  /** `maxBucketSize`: hard occupancy cap. Buckets with more members are
    * DROPPED (their pairs are boilerplate noise, not near-dup signal —
    * the standard posture, mirroring `maxShingleFreq`), and the collect
    * buffer itself is bounded at cap+1 elements ([[graft.functions
    * .BoundedCollect]]), so a degenerate mega-bucket — template spam
    * surviving exact dedup by a byte of noise — cannot OOM the one
    * aggregation task that owns it: without the bound it is an m-element
    * collect + m²/2 generated pairs on a single task. The dropped-bucket
    * count is surfaced as an `observe` metric named
    * `graft_dropped_buckets_*` (read it from `observedMetrics` /
    * QueryExecutionListener), costing nothing over the existing pass. */
  private def bucketPairs(buckets: DataFrame, bucketCols: Seq[String],
                          payloadCol: String,
                          maxBucketSize: Option[Int] = None): DataFrame = {
    // sort_array orders members by __id (first struct field; ids are
    // distinct within a bucket by construction — one row per (doc,
    // band)), so the triangular explode below emits each pair exactly
    // once with __l.__id < __r.__id already true: generating the full
    // m² cross product and filtering half away would double the
    // Generate volume for nothing.
    val collected = maxBucketSize match {
      case Some(cap) =>
        require(cap >= 2, s"maxBucketSize must be >= 2, got $cap")
        // cap+1 elements distinguish "exactly cap" (kept, complete)
        // from "overflowed" (size > cap, dropped by the filter below)
        graft.functions.BoundedCollect(col(payloadCol), cap + 1)
      case None => collect_list(col(payloadCol))
    }
    val grouped = buckets.groupBy(bucketCols.map(col): _*)
      .agg(sort_array(collected).as("__ms"))
      .where(size(col("__ms")) > 1)
    val members = maxBucketSize match {
      case Some(cap) =>
        grouped
          .observe(s"graft_dropped_buckets_${dropMetricId.incrementAndGet()}",
            sum(when(size(col("__ms")) > cap, 1L).otherwise(0L))
              .as("dropped_buckets"))
          .where(size(col("__ms")) <= cap)
      case None => grouped
    }
    // Explicit-width exchange before the explode: AQE sizes post-shuffle
    // partitions by the COLLECTED relation's bytes (tiny — multi-member
    // buckets only) and coalesces the whole pair-generation stage onto a
    // handful of tasks, blind to the quadratic explode amplification
    // downstream (measured 14× on the 10×-sf0.1 sweep: 66 s → 4.6 s).
    // A user-specified repartition is never coalesced, so the explode
    // runs at full configured width; the extra exchange moves only the
    // bucket arrays. A single near-cap bucket is still one task's work —
    // that bound is maxBucketSize's job, not the partitioner's.
    val width = buckets.sparkSession.sessionState.conf.numShufflePartitions
    members
      .repartition(width)
      .select(col("__ms"), posexplode(col("__ms")).as(Seq("__i", "__l")))
      .select(col("__l"),
        explode(slice(col("__ms"), col("__i") + 2, size(col("__ms")))).as("__r"))
  }

  /** A banded-MinHash parameter plan and its S-curve guarantees.
    * `collisionProb(s)` is the standard banded-LSH curve
    * 1 − (1 − s^r)^b — the probability a pair with TRUE Jaccard `s`
    * shares at least one band bucket (i.e. becomes a candidate). */
  final case class LshPlan(bands: Int, rowsPerBand: Int,
                           recallAtThreshold: Double) {
    def numHashes: Int = bands * rowsPerBand
    def collisionProb(s: Double): Double =
      1.0 - math.pow(1.0 - math.pow(s, rowsPerBand), bands)
  }

  /** Solve the banded-LSH S-curve for (bands, rowsPerBand): the
    * CHEAPEST signature (fewest total hashes) whose candidate recall at
    * Jaccard = `threshold` is ≥ `minRecall` AND whose collision
    * probability at the NOISE similarity `threshold/2` is ≤
    * `maxNoiseCollision`, tie-broken toward more rows per band (a
    * steeper curve). The noise constraint is load-bearing, not
    * cosmetic: recall alone is cheapest at degenerate `rowsPerBand = 1`
    * plans ("share ONE MinHash value" buckets), which on a real corpus
    * are mega-buckets that blow past `maxBucketSize`, get dropped, and
    * silently void the advertised recall — a plan must ALSO keep the
    * sub-threshold candidate flood bounded for its recall number to
    * mean anything at scale. Exhaustive over r ∈ [1, 32],
    * b·r ≤ `maxHashes` — ~10⁴ closed-form evaluations, driver-side.
    *
    * Callers of [[minhashLshPairs]] / [[nearDuplicates]] should derive
    * (numHashes, bands) from here rather than hand-picking: pass
    * `plan.numHashes` and `plan.bands`. */
  def tuneLsh(threshold: Double, minRecall: Double = 0.95,
              maxHashes: Int = 512,
              maxNoiseCollision: Double = 0.2): LshPlan = {
    require(threshold > 0 && threshold < 1,
      s"threshold must be in (0, 1), got $threshold")
    require(minRecall > 0 && minRecall < 1,
      s"minRecall must be in (0, 1), got $minRecall")
    require(maxHashes >= 1, s"maxHashes must be >= 1, got $maxHashes")
    require(maxNoiseCollision > 0 && maxNoiseCollision <= 1,
      s"maxNoiseCollision must be in (0, 1], got $maxNoiseCollision")
    val noiseSim = threshold / 2
    val plans = for {
      r <- 1 to math.min(32, maxHashes)
      b <- 1 to maxHashes / r
      p = 1.0 - math.pow(1.0 - math.pow(threshold, r), b)
      if p >= minRecall
      pn = 1.0 - math.pow(1.0 - math.pow(noiseSim, r), b)
      if pn <= maxNoiseCollision
    } yield LshPlan(b, r, p)
    require(plans.nonEmpty,
      s"no (bands, rows) plan within $maxHashes hashes reaches recall " +
        s"$minRecall at threshold $threshold with noise collision ≤ " +
        s"$maxNoiseCollision at $noiseSim — raise maxHashes, lower " +
        s"minRecall, or relax maxNoiseCollision")
    plans.minBy(pl => (pl.numHashes, -pl.rowsPerBand))
  }

  /** Measured expected colliding-pair mass per band, for each candidate
    * rowsPerBand, on THIS corpus: for an r-row band, a document pair
    * colliding has probability J^r, so Σ_pairs J^r — the quantity that
    * decides whether a plan's candidate volume is linear or quadratic —
    * is directly observable as the average over probe bands of
    * Σ_bucket C(m, 2). ONE explode + ONE aggregate over the signature
    * relation, output MODEL-SIZED (|rCandidates| rows): (collidingPairs
    * perBand, docs) per r. Bands are exchangeable, so a `probeHashes`-
    * hash signature estimates any plan's per-band mass regardless of
    * the plan's own hash count. */
  private[graft] def lshCollisionMass(sig: DataFrame, probeHashes: Int,
                                      rCandidates: Seq[Int]): Map[Int, (Double, Double)] = {
    val slices = rCandidates.flatMap { r =>
      val bands = probeHashes / r
      (0 until bands).map(b => struct(lit(r).as("r"),
        hash(lit(r), lit(b), slice(col("__sig"), b * r + 1, r))
          .as("key")))
    }
    sig.select(explode(array(slices: _*)).as("p"))
      .groupBy(col("p.r").as("__r"), col("p.key").as("__key"))
      .agg(count(lit(1)).as("__m"))
      .groupBy("__r")
      // Σ m(m−1) as exact longs; halve at the end (always even)
      .agg(sum(col("__m") * (col("__m") - 1)).as("__pairs2"),
        sum(col("__m")).as("__rows"))
      .collect().map { row =>
        val r = row.getInt(0)
        val bands = (probeHashes / r).toDouble
        r -> (row.getLong(1) / 2.0 / bands, row.getLong(2) / bands)
      }.toMap
  }

  /** [[tuneLsh]] with the noise constraint replaced by MEASUREMENT —
    * density-adaptive banding. The static solver bounds sub-threshold
    * collisions via a closed-form guess at the noise similarity; on a
    * corpus that DENSIFIES (ever more almost-alike documents at the
    * same scale factor — the round-10 50× sweep's steepening), a fixed
    * (bands, rows) floods quadratically while still honoring its
    * closed-form contract. Here one probe pass measures the actual
    * colliding-pair mass per band at each candidate rowsPerBand
    * ([[lshCollisionMass]] — O(probeHashes) work per doc, one
    * model-sized aggregate), and the solver picks the FEWEST-hash plan
    * whose recall at `threshold` is ≥ `minRecall` AND whose expected
    * candidate volume (bands · measured per-band mass) stays within
    * `candidateBudgetPerDoc · n`. If no plan fits the budget, the
    * feasible plan with the smallest expected volume is returned —
    * bounded degradation, never failure. Mass at an unmeasured r is
    * upper-bounded by the nearest measured r' ≤ r (J^r is
    * non-increasing in r), so the budget check stays conservative.
    *
    * Deterministic: fixed seed, exact integer bucket counts. Scale: the
    * probe is one map-side explode + aggregate over signatures the
    * caller was about to compute anyway — at 100 TB, tuning on a
    * deterministic document sample and scaling (`sampleRate` < 1;
    * pair mass scales by rate², docs by rate) keeps the probe
    * corpus-independent. */
  def tuneLshAdaptive(df: DataFrame, idCol: String, textCol: String,
                      threshold: Double, minRecall: Double = 0.95,
                      maxHashes: Int = 512,
                      candidateBudgetPerDoc: Double = 2.0,
                      shingleN: Int = 3, seed: Long = 42L,
                      probeHashes: Int = 64,
                      sampleRate: Double = 1.0): LshPlan = {
    require(threshold > 0 && threshold < 1,
      s"threshold must be in (0, 1), got $threshold")
    require(minRecall > 0 && minRecall < 1,
      s"minRecall must be in (0, 1), got $minRecall")
    require(candidateBudgetPerDoc > 0, "candidateBudgetPerDoc must be > 0")
    require(probeHashes >= 2 && probeHashes <= 512,
      s"probeHashes must be in [2, 512], got $probeHashes")
    require(sampleRate > 0 && sampleRate <= 1,
      s"sampleRate must be in (0, 1], got $sampleRate")
    val base = if (sampleRate >= 1.0) df
      else df.where(pmod(DetRandom.md5Long48(col(idCol).cast("string")),
        lit(math.round(1.0 / sampleRate))) === 0)
    val sig = minhashSignatures(
      Spread.ifSmall(base.select(col(idCol), col(textCol))),
      idCol, textCol, probeHashes, shingleN, seed)
    val rCands = (1 to 32).filter(r => probeHashes % r == 0 && probeHashes / r >= 1)
    val mass = lshCollisionMass(sig, probeHashes, rCands)
    // empty corpus (or empty sample): nothing to measure — fall back to
    // the static closed-form solver rather than failing
    if (mass.isEmpty)
      return tuneLsh(threshold, minRecall, maxHashes)
    val n = mass(rCands.head)._2 / sampleRate
    def massUB(r: Int): Double = {
      val rr = rCands.filter(_ <= r).max
      mass(rr)._1 / (sampleRate * sampleRate)
    }
    val feasible = for {
      r <- 1 to math.min(32, maxHashes)
      b <- 1 to maxHashes / r
      p = 1.0 - math.pow(1.0 - math.pow(threshold, r), b)
      if p >= minRecall
    } yield (LshPlan(b, r, p), b * massUB(r))
    require(feasible.nonEmpty,
      s"no (bands, rows) plan within $maxHashes hashes reaches recall " +
        s"$minRecall at threshold $threshold — raise maxHashes or lower " +
        s"minRecall")
    val budget = candidateBudgetPerDoc * n
    val inBudget = feasible.filter(_._2 <= budget)
    if (inBudget.nonEmpty)
      inBudget.map(_._1).minBy(pl => (pl.numHashes, -pl.rowsPerBand))
    else feasible.minBy(pe => (pe._2, pe._1.numHashes))._1
  }

  /** Candidate near-duplicate pairs via banded LSH over MinHash signatures.
    * Returns (id_l, id_r, est_jaccard) with id_l < id_r; est_jaccard is the
    * fraction of matching signature positions. rowsPerBand = numHashes /
    * bands; similarity threshold ≈ (1/bands)^(1/rowsPerBand). Prefer
    * deriving (numHashes, bands) from [[tuneLsh]] — it solves the
    * S-curve for a target (threshold, recall) instead of guessing.
    *
    * The signature relation has exactly ONE consumer (the band explode):
    * signatures ride along into the bucket collect (64 longs per member —
    * bounded), so est_jaccard is computed in place per colliding bucket
    * and the duplicate collisions collapse in one pair-keyed aggregate.
    * No join-back, no recompute, nothing cached.
    *
    * `maxBucketSize` is the degenerate-skew guard (see [[bucketPairs]]):
    * buckets over the cap are dropped with a surfaced count instead of
    * OOMing one task / emitting m²/2 junk pairs. */
  def minhashLshPairs(df: DataFrame, idCol: String, textCol: String,
                      numHashes: Int = 64, bands: Int = 16,
                      shingleN: Int = 3, seed: Long = 42L,
                      scope: Option[CacheScope] = None,
                      maxBucketSize: Option[Int] = Some(10000)): DataFrame = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    val r = numHashes / bands
    val sig = CacheScope.maybe(scope,
      minhashSignatures(Spread.ifSmall(df.select(col(idCol), col(textCol))),
        idCol, textCol, numHashes, shingleN, seed))
    val banded = bandedBuckets(sig, bands, r,
      struct(col("__id"), col("__sig")))
    bucketPairs(banded, Seq("__band", "__key"), "__p", maxBucketSize)
      .select(col("__l.__id").as("id_l"), col("__r.__id").as("id_r"),
        (size(filter(zip_with(col("__l.__sig"), col("__r.__sig"),
          (x, y) => x === y), b => b)).cast("double") / numHashes)
          .as("__est"))
      .groupBy("id_l", "id_r")
      .agg(max(col("__est")).as("est_jaccard"))
  }

  /** Banded bucket rows (band, key, payload) from a signature relation
    * (__id, __sig, ...): one row per (document, band), keyed by the hash
    * of that band's signature slice. The payload struct is evaluated once
    * per document (array built pre-Generate); only (band, key, payload)
    * flows into the bucket shuffle. */
  private def bandedBuckets(sig: DataFrame, bands: Int, r: Int,
                            payload: Column): DataFrame =
    sig.select(payload.as("__p"),
      explode(transform(sequence(lit(0), lit(bands - 1)),
        b => struct(b.as("band"),
          hash(slice(col("__sig"), b * r + 1, lit(r))).as("key")))).as("bk"))
      .select(col("__p"), col("bk.band").as("__band"), col("bk.key").as("__key"))

  private val pow2: Column = typedlit((0 until 64).map(i => 1L << i))

  /** Whole-table 64-bit SimHash: ONE compiled projection over the scan
    * via the native [[graft.functions.SimHash64]] kernel — no explode,
    * no vote aggregation, NO SHUFFLE (per-bit votes are a pure function
    * of one document's token stream). Bit-identical to
    * [[simhashTableAgg]] (the previous explode + 64-vote-aggregate
    * formulation, kept as the differential reference) and to the HOF
    * [[simhash]]. */
  def simhashTable(df: DataFrame, idCol: String, textCol: String): DataFrame =
    Spread.ifSmall(df.select(col(idCol), col(textCol)))
      .select(col(idCol).as("__id"),
      org.apache.spark.sql.GraftSqlBridge.column(
        graft.functions.SimHash64(
          org.apache.spark.sql.GraftSqlBridge.expression(col(textCol))))
        .as("__sh"))

  /** The pre-kernel formulation — explode tokens → one xxhash64 per
    * token → 64 codegen'd ±1 vote sums with map-side partials → sign
    * bits (shuffle = 64 ints/doc; zero-token docs re-joined as sig 0).
    * Retained for the differential spec pinning the kernel to it. */
  private[graft] def simhashTableAgg(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val ex = df.select(col(idCol).as("__id"),
      explode(TextAnalysis.tokens(col(textCol))).as("__t"))
    val based = ex.select(col("__id"), xxhash64(col("__t")).as("__h"))
    val votes = based.groupBy("__id").agg(
      sum(when(col("__h").bitwiseAND(lit(1L)) =!= 0, 1L).otherwise(-1L)).as("__b0"),
      (1 until 64).map(i =>
        sum(when(col("__h").bitwiseAND(lit(1L << i)) =!= 0, 1L).otherwise(-1L))
          .as(s"__b$i")): _*)
    val sig = (0 until 64).map(i =>
      when(col(s"__b$i") > 0, lit(1L << i)).otherwise(lit(0L)))
      .reduce((a, b) => a.bitwiseOR(b))
    // docs with zero tokens never exploded: re-join to keep them (sig 0)
    df.select(col(idCol).as("__id"))
      .join(votes.select(col("__id"), sig.as("__sh")), Seq("__id"), "left_outer")
      .select(col("__id"), coalesce(col("__sh"), lit(0L)).as("__sh"))
  }

  /** Column-level native SimHash64 (the kernel behind [[simhashTable]])
    * for callers composing it into wider rows (e.g. the
    * similarity-clustered write). */
  def simhash64(text: Column): Column =
    org.apache.spark.sql.GraftSqlBridge.column(
      graft.functions.SimHash64(
        org.apache.spark.sql.GraftSqlBridge.expression(text)))

  /** 64-bit SimHash over whitespace tokens: per-bit vote sum of token
    * xxhash64 bits, sign → bit. One nested higher-order expression per row
    * (prefer [[simhashTable]] for whole-table scans — HOF lambdas are
    * interpreted). */
  def simhash(text: Column): Column = {
    val hs = transform(TextAnalysis.tokens(text), t => xxhash64(t))
    val votes = aggregate(hs,
      typedlit(Seq.fill(64)(0L)),
      (acc, h) => zip_with(acc, pow2,
        (a, p) => a + when(h.bitwiseAND(p) =!= 0, 1L).otherwise(-1L)))
    aggregate(zip_with(votes, pow2,
      (v, p) => when(v > 0, p).otherwise(0L)), lit(0L), (a, x) => a.bitwiseOR(x))
  }

  /** Near-duplicate candidates by SimHash: band the 64-bit signature into
    * four 16-bit chunks (pigeonhole: hamming ≤ 3 ⇒ at least one chunk is
    * equal), bucket per chunk, then exact hamming filter via bit_count.
    * Returns (id_l, id_r, hamming) with id_l < id_r.
    *
    * The signature table has ONE consumer — the 8-byte signature rides
    * into the chunk buckets, hamming is computed within the bucket, and
    * the cross-chunk duplicate collisions collapse in one pair-keyed
    * aggregate (see [[bucketPairs]] for why this beats a bucket
    * self-join). */
  def simhashNearDup(df: DataFrame, idCol: String, textCol: String,
                     maxHamming: Int = 3,
                     maxBucketSize: Option[Int] = Some(10000)): DataFrame =
    hammingNearDupFromSig(simhashTable(df, idCol, textCol),
      maxHamming, maxBucketSize)

  /** Hamming-ball pairing over ANY 64-bit signature table `(__id, __sh)`
    * — the pigeonhole band join factored out of [[simhashNearDup]] so
    * other 64-bit fingerprints (e.g. the image perceptual dHash,
    * [[Multimodal.imageNearDup]]) reuse the same scale shape: hamming ≤ 3
    * ⇒ at least one 16-bit chunk equal, so candidates come from four
    * chunk-keyed buckets (occupancy-capped), then exact XOR popcount
    * verifies. For maxHamming > 3 the pigeonhole bound needs coarser
    * chunks — callers at larger radii accept recall loss (documented at
    * the call sites). Output: (id_l, id_r, hamming ≤ maxHamming). */
  /** The 4×16-bit pigeonhole chunking of a 64-bit signature column —
    * shared by the in-corpus pairing, the persisted index build, and
    * the index probe (all three MUST chunk identically or candidates
    * are silently lost). */
  private def shChunks(sh: Column): Column =
    array((0 until 4).map(c =>
      struct(lit(c).as("chunk"),
        shiftright(sh, c * 16).bitwiseAND(lit(0xFFFFL)).as("key"))): _*)

  private[graft] def hammingNearDupFromSig(sig: DataFrame, maxHamming: Int,
      maxBucketSize: Option[Int]): DataFrame = {
    // chunk shift amounts are compile-time literals (shiftright needs Int)
    val chunks = sig.select(struct(col("__id"), col("__sh")).as("__p"),
      explode(shChunks(col("__sh"))).as("ck"))
      .select(col("__p"), col("ck.chunk").as("__chunk"), col("ck.key").as("__key"))
    bucketPairs(chunks, Seq("__chunk", "__key"), "__p", maxBucketSize)
      .select(col("__l.__id").as("id_l"), col("__r.__id").as("id_r"),
        bit_count(col("__l.__sh").bitwiseXOR(col("__r.__sh"))).as("__hd"))
      .groupBy("id_l", "id_r")
      .agg(max(col("__hd")).as("hamming"))
      .where(col("hamming") <= maxHamming)
  }

  /** Exact n-gram Jaccard similarity pairs above a threshold.
    * `maxShingleFreq` drops hub shingles (appearing in more rows than the
    * cap) before the join — the standard skew guard: a shingle shared by
    * f rows contributes f² join pairs. */
  def ngramJaccardPairs(df: DataFrame, idCol: String, textCol: String,
                        n: Int = 3, threshold: Double = 0.5,
                        maxShingleFreq: Long = 1000L,
                        scope: Option[CacheScope] = None): DataFrame = {
    // scan-parallelism repair for the shingle kernels below (identity
    // at scale — see [[Spread]])
    val d = Spread.ifSmall(df.select(col(idCol).as("__id"),
      col(textCol).as("__dtext")))
    // Set sizes come straight from the (distinct) shingle ARRAY — a pure
    // projection over the scan, no explode and no shuffle needed.
    val sizes = d.select(col("__id"),
      size(shingles(col("__dtext"), n)).cast("long").as("__sz"))
    // One consumer for the exploded (id, shingle) relation: group the doc
    // ids per shingle (= the inverted-posting list), prune unique shingles
    // and hub shingles (list length IS the shingle frequency, so the skew
    // cap needs no second aggregate or join), and emit within-posting
    // pairs via [[bucketPairs]]. The scan→shingle→explode pipeline runs
    // exactly once per action under any planner; `sizes` re-derives the
    // cheap array-size projection from the scan instead of joining back
    // into the heavy subtree.
    val sh = CacheScope.maybe(scope,
      d.select(col("__id"),
        explode(shingles(col("__dtext"), n)).as("__sh")))
    val postings = sh.select(col("__sh"), struct(col("__id")).as("__p"))
      .groupBy("__sh").agg(collect_list(col("__p")).as("__ms"))
      .where(size(col("__ms")) > 1 && size(col("__ms")) <= maxShingleFreq)
      // same AQE rule as [[bucketPairs]]: the posting relation is tiny
      // in bytes but the pair explode below is quadratic per posting —
      // hold the configured width through the explode
      .repartition(df.sparkSession.sessionState.conf.numShufflePartitions)
    val inter = postings
      .select(explode(col("__ms")).as("__l"), col("__ms"))
      .select(col("__l"), explode(col("__ms")).as("__r"))
      .where(col("__l.__id") < col("__r.__id"))
      .groupBy(col("__l.__id").as("id_l"), col("__r.__id").as("id_r"))
      .agg(count(lit(1)).as("__inter"))
    inter
      .join(sizes.withColumnRenamed("__id", "id_l").withColumnRenamed("__sz", "__sz_l"), Seq("id_l"))
      .join(sizes.withColumnRenamed("__id", "id_r").withColumnRenamed("__sz", "__sz_r"), Seq("id_r"))
      .select(col("id_l"), col("id_r"),
        (col("__inter").cast("double") /
          (col("__sz_l") + col("__sz_r") - col("__inter"))).as("jaccard"))
      .where(col("jaccard") >= threshold)
  }

  /** Exact n-gram CONTAINMENT pairs: |A∩B| / min(|A|, |B|) ≥ threshold.
    * The asymmetric-overlap complement to [[ngramJaccardPairs]]: a short
    * document quoted whole inside a longer page has containment ≈ 1 but
    * Jaccard ≈ |A|/|B| → symmetric dedup never sees it. Same posting-list
    * shape (ONE consumer for the exploded relation, hub-shingle cap
    * bounds the f² pair fan-out), so the 100 TB story is identical —
    * only the final score arithmetic differs. */
  def containmentPairs(df: DataFrame, idCol: String, textCol: String,
                       n: Int = 3, threshold: Double = 0.8,
                       maxShingleFreq: Long = 1000L,
                       scope: Option[CacheScope] = None): DataFrame = {
    require(threshold > 0.0 && threshold <= 1.0,
      s"threshold must be in (0,1], got $threshold")
    // scan-parallelism repair (identity at scale — see [[Spread]])
    val d = Spread.ifSmall(df.select(col(idCol).as("__id"),
      col(textCol).as("__dtext")))
    val sizes = d.select(col("__id"),
      size(shingles(col("__dtext"), n)).cast("long").as("__sz"))
    val sh = CacheScope.maybe(scope,
      d.select(col("__id"),
        explode(shingles(col("__dtext"), n)).as("__sh")))
    val inter = sh.select(col("__sh"), struct(col("__id")).as("__p"))
      .groupBy("__sh").agg(collect_list(col("__p")).as("__ms"))
      .where(size(col("__ms")) > 1 && size(col("__ms")) <= maxShingleFreq)
      // AQE explode-width rule (see [[bucketPairs]])
      .repartition(df.sparkSession.sessionState.conf.numShufflePartitions)
      .select(explode(col("__ms")).as("__l"), col("__ms"))
      .select(col("__l"), explode(col("__ms")).as("__r"))
      .where(col("__l.__id") < col("__r.__id"))
      .groupBy(col("__l.__id").as("id_l"), col("__r.__id").as("id_r"))
      .agg(count(lit(1)).as("__inter"))
    inter
      .join(sizes.withColumnRenamed("__id", "id_l").withColumnRenamed("__sz", "__sz_l"), Seq("id_l"))
      .join(sizes.withColumnRenamed("__id", "id_r").withColumnRenamed("__sz", "__sz_r"), Seq("id_r"))
      .select(col("id_l"), col("id_r"),
        (col("__inter").cast("double") /
          least(col("__sz_l"), col("__sz_r"))).as("containment"))
      .where(col("containment") >= threshold)
  }

  /** Benchmark decontamination report: which TRAINING documents share at
    * least `minHits` distinct word n-grams with which EVALUATION
    * documents — the train/test contamination sweep every LLM pipeline
    * runs before training (published recipes use n = 8..13). Returns one
    * row per contaminated (train, eval) pair with the distinct-overlap
    * count; dropping or masking is a downstream anti-join on train_id.
    *
    * Scale shape: the eval side is a benchmark — tiny next to a 100 TB
    * train corpus — so its exploded distinct-shingle relation
    * BROADCASTS; the train side streams through one explode + broadcast
    * hash join map-side, and the only shuffle is the (train, eval)-keyed
    * count, whose cardinality is bounded by actual contamination, not
    * the corpus. No train-side shingle aggregate, no posting lists, no
    * all-pairs.
    *
    * SIZE CONTRACT on the eval side: the broadcast hint is honored
    * unconditionally by Spark, so an eval relation above the driver /
    * executor broadcast limit would abort with an opaque broadcast
    * error. This function therefore counts the eval side's shingles
    * first (one scan of the tiny relation) and, above
    * `maxBroadcastShingles`, falls back to the plain shuffle hash join —
    * same answer, one extra exchange, no runtime abort. Tune the
    * threshold to the executor memory budget (a shingle row is a ~n-word
    * string + a long; the 10M default is comfortably inside Spark's 8 GB
    * broadcast ceiling). */
  def decontaminationReport(train: DataFrame, idCol: String, textCol: String,
                            evalSet: DataFrame, evalIdCol: String,
                            evalTextCol: String,
                            n: Int = 8, minHits: Long = 1L,
                            maxBroadcastShingles: Long = 10000000L,
                            evalShingleCountHint: Option[Long] = None): DataFrame = {
    require(n >= 1, s"n must be >= 1, got $n")
    require(minHits >= 1, s"minHits must be >= 1, got $minHits")
    val t = train.select(col(idCol).as("train_id"),
      explode(shingles(col(textCol), n)).as("__sh"))
    val e = evalSet.select(col(evalIdCol).as("eval_id"),
      explode(shingles(col(evalTextCol), n)).as("__sh"))
    // join-strategy decision: a caller-provided hint keeps plan
    // construction fully lazy (explain()/plan-digesting this DataFrame
    // runs no job); without one, ONE cheap aggregate over the
    // benchmark-sized side runs here, at build time — documented
    // eagerness, and the train corpus is never touched to decide
    val evalShingles = evalShingleCountHint.getOrElse(evalSet
      .select(size(shingles(col(evalTextCol), n)).cast("long").as("__n"))
      .agg(coalesce(sum(col("__n")), lit(0L))).head().getLong(0))
    val joined =
      if (evalShingles <= maxBroadcastShingles) t.join(broadcast(e), Seq("__sh"))
      else t.join(e, Seq("__sh"))
    joined
      .groupBy("train_id", "eval_id")
      .agg(count(lit(1)).as("n_hits"))
      .where(col("n_hits") >= minHits)
  }

  /** Edit-distance near-duplicate pairs: candidates from the shared-
    * shingle posting lists (with the hub cap), verified by EXACT
    * Levenshtein distance ≤ `maxDist` — the character-level notion of
    * "same doc, small patch" that set-based Jaccard can't express
    * (it is blind to WHERE the differences fall and to reorderings of
    * the same shingle multiset).
    *
    * Scale levers, in evaluation order per candidate pair: (1) the
    * posting-list join only pairs docs sharing ≥ `minSharedShingles`
    * n-grams — for docs of w words, distance ≤ d implies roughly
    * w − n·d shared shingles, so a floor > 1 prunes hard while staying
    * conservative for long docs; (2) `abs(len_l − len_r) ≤ maxDist` is a
    * free exact necessary condition; (3) Spark's threshold-limited
    * `levenshtein(l, r, maxDist)` abandons a pair the moment the DP row
    * minimum exceeds `maxDist` (O(maxDist·len), not O(len²)). Texts join
    * onto candidates only — the posting shuffle carries ids. */
  def editDistancePairs(df: DataFrame, idCol: String, textCol: String,
                        n: Int = 3, maxDist: Int = 50,
                        minSharedShingles: Long = 1L,
                        maxShingleFreq: Long = 1000L): DataFrame = {
    require(maxDist >= 0, s"maxDist must be >= 0, got $maxDist")
    // scan-parallelism repair (identity at scale — see [[Spread]])
    val d = Spread.ifSmall(df.select(col(idCol).as("__id"),
      col(textCol).as("__dtext")))
    val sh = d.select(col("__id"),
      explode(shingles(col("__dtext"), n)).as("__sh"))
    val candidates = sh.select(col("__sh"), struct(col("__id")).as("__p"))
      .groupBy("__sh").agg(collect_list(col("__p")).as("__ms"))
      .where(size(col("__ms")) > 1 && size(col("__ms")) <= maxShingleFreq)
      // AQE explode-width rule (see [[bucketPairs]])
      .repartition(df.sparkSession.sessionState.conf.numShufflePartitions)
      .select(explode(col("__ms")).as("__l"), col("__ms"))
      .select(col("__l"), explode(col("__ms")).as("__r"))
      .where(col("__l.__id") < col("__r.__id"))
      .groupBy(col("__l.__id").as("id_l"), col("__r.__id").as("id_r"))
      .agg(count(lit(1)).as("__shared"))
      .where(col("__shared") >= minSharedShingles)
    val txt = d.select(col("__id"), col("__dtext").as("__t"))
    candidates
      .join(txt.select(col("__id").as("id_l"), col("__t").as("__tl")), Seq("id_l"))
      .join(txt.select(col("__id").as("id_r"), col("__t").as("__tr")), Seq("id_r"))
      .where(abs(length(col("__tl")) - length(col("__tr"))) <= maxDist)
      .select(col("id_l"), col("id_r"),
        levenshtein(col("__tl"), col("__tr"), maxDist).as("dist"))
      .where(col("dist").between(0, maxDist))
  }

  /** Blocked fuzzy record linkage: Jaro-Winkler-scored candidate pairs
    * within caller-defined blocks — the classic entity-resolution shape
    * (Fellegi-Sunter blocking) for joining dirty catalogs at scale.
    *
    * Pairs are generated per block by the shared [[bucketPairs]]
    * machinery — ONE hash-shuffle groupBy on the blocking key, a
    * bounded collect (cap+1 elements), and a triangular explode — never
    * a self-join (which would shuffle the relation twice) and never an
    * unblocked O(n²) compare. Blocks larger than `maxBlockSize` are
    * dropped whole (a degenerate block — every record sharing one
    * blocking value — is a blocking-key bug, not linkage signal) with
    * the dropped count surfaced on the same `graft_dropped_buckets_*`
    * observe metric; null blocking keys never pair. Scoring runs the
    * codegen'd [[graft.functions.JaroWinkler]] kernel inside the
    * post-explode projection, so the comparator stays in the generated
    * loop. Output: (id_a, id_b, jw) with id_a < id_b, jw >= threshold.
    *
    * At 100 TB the plan is: scan → project(block key) → one keyed
    * exchange → bounded per-block pair generation. Memory per task is
    * capped by maxBlockSize; the blocking key chooses the
    * recall/cost point exactly as LSH band width does for MinHash. */
  def fuzzyLinkage(df: DataFrame, idCol: String, nameCol: String,
                   blockKey: Column, threshold: Double = 0.9,
                   maxBlockSize: Int = 10000): DataFrame = {
    require(threshold >= 0.0 && threshold <= 1.0,
      s"threshold must be in [0, 1], got $threshold")
    val blocked = df
      .select(blockKey.as("__blk"),
        struct(col(idCol).as("__id"), col(nameCol).as("__name")).as("__p"))
      .where(col("__blk").isNotNull)
    bucketPairs(blocked, Seq("__blk"), "__p", Some(maxBlockSize))
      .select(col("__l.__id").as("id_a"), col("__r.__id").as("id_b"),
        graft.functions.JaroWinkler
          .jaroWinkler(col("__l.__name"), col("__r.__name")).as("jw"))
      .where(col("jw") >= threshold)
  }

  /** EXACT Jaccard pairs via prefix filtering (the all-pairs
    * similarity-join optimization): under any global token order, two
    * sets with J >= t must share a token among each one's first
    * |A| - ceil(t·|A|) + 1 tokens — so only PREFIX tokens generate
    * candidates, and the exact verification runs on that reduced set.
    * Candidates come from hash equality (collisions only add candidates,
    * never lose them), so results equal [[ngramJaccardPairs]]. Effective
    * at high thresholds (prefix length shrinks with t); at t→0 it
    * degrades to the full join. Measured on the dense synthetic corpus
    * (sf0.1, 5000 docs, ~40-word vocabulary): wins at t=0.8 (8.2s vs
    * 11.5s all-pairs) but loses at t=0.5 (hub hashes land in most
    * prefixes) — pick per corpus density; real web corpora are far
    * sparser than this worst case. */
  def ngramJaccardPairsPrefix(df: DataFrame, idCol: String, textCol: String,
                              n: Int = 3, threshold: Double = 0.7,
                              scope: Option[CacheScope] = None,
                              maxBucketSize: Option[Int] = Some(10000)): DataFrame = {
    require(threshold > 0.0 && threshold <= 1.0)
    // Three consumers (prefix explode + two verification joins) over a
    // pure scan→shingle projection: recomputing it is one extra columnar
    // scan per consumer, strictly cheaper than a leaked persist in a
    // long-lived session. Multi-action callers pass a [[CacheScope]].
    val sh = CacheScope.maybe(scope,
      Spread.ifSmall(df.select(col(idCol).as("__id"), col(textCol).as("__t0")))
        .select(col("__id"), shingles(col("__t0"), n).as("__sh")))
    // global order = sorted shingle hashes; prefix = smallest hashes
    val hs = sh.select(col("__id"),
      array_sort(transform(col("__sh"), s => xxhash64(s))).as("__hs"))
    val plen = greatest(
      (size(col("__hs")) - ceil(size(col("__hs")) * threshold) + 1).cast("int"),
      lit(1))
    val prefix = hs.select(struct(col("__id")).as("__p"),
      explode(slice(col("__hs"), lit(1), plen)).as("__h"))
    val candidates = bucketPairs(prefix, Seq("__h"), "__p", maxBucketSize)
      .select(col("__l.__id").as("id_l"), col("__r.__id").as("id_r"))
      .distinct()
    candidates
      .join(sh.select(col("__id").as("id_l"), col("__sh").as("sh_l")), Seq("id_l"))
      .join(sh.select(col("__id").as("id_r"), col("__sh").as("sh_r")), Seq("id_r"))
      .select(col("id_l"), col("id_r"),
        (size(array_intersect(col("sh_l"), col("sh_r"))).cast("double") /
          size(array_union(col("sh_l"), col("sh_r")))).as("jaccard"))
      .where(col("jaccard") >= threshold)
  }

  /** The practical near-duplicate pipeline: MinHash-LSH candidate
    * generation (sub-quadratic) followed by EXACT n-gram Jaccard
    * verification computed only on the candidate pairs. At corpus scale
    * this replaces the all-pairs shingle join (O(pairs-sharing-a-shingle))
    * with O(LSH candidates) exact work — the standard
    * generate-then-verify dedup shape. Returns (id_l, id_r, jaccard)
    * with jaccard >= threshold. */
  def nearDuplicates(df: DataFrame, idCol: String, textCol: String,
                     threshold: Double = 0.8, numHashes: Int = 64,
                     bands: Int = 16, shingleN: Int = 3,
                     seed: Long = 42L,
                     maxBucketSize: Option[Int] = Some(10000)): DataFrame = {
    // candidates straight from the band buckets — NOT via minhashLshPairs,
    // whose est_jaccard would drag the signatures through the bucket
    // shuffle only for the exact verify below to discard them. The
    // signature pipeline has ONE consumer (the band explode); ids alone
    // ride into the buckets, and the exact verification joins the (cheap,
    // scan-projected) shingle arrays onto the deduplicated candidates.
    // the signature kernel and the shingle projections fuse into the
    // scan stage — spread a narrow/unsplittable input first so they
    // use the whole machine (identity at scale; Spread scaladoc)
    val d = Spread.ifSmall(df.select(col(idCol).as("__did"),
      col(textCol).as("__dtext")))
    val sig = minhashSignatures(d, "__did", "__dtext", numHashes, shingleN, seed)
    val banded = bandedBuckets(sig, bands, numHashes / bands,
      struct(col("__id")))
    val candidates = bucketPairs(banded, Seq("__band", "__key"), "__p", maxBucketSize)
      .select(col("__l.__id").as("id_l"), col("__r.__id").as("id_r"))
      .distinct()
    val sh = d.select(col("__did").as("__id"),
      shingles(col("__dtext"), shingleN).as("__sh"))
    val verified = candidates
      .join(sh.select(col("__id").as("id_l"), col("__sh").as("sh_l")), Seq("id_l"))
      .join(sh.select(col("__id").as("id_r"), col("__sh").as("sh_r")), Seq("id_r"))
      .select(col("id_l"), col("id_r"),
        (size(array_intersect(col("sh_l"), col("sh_r"))).cast("double") /
          size(array_union(col("sh_l"), col("sh_r")))).as("jaccard"))
    verified.where(col("jaccard") >= threshold)
  }

  /** Embedding near-duplicates: cosine ≥ threshold via BANDED hyperplane
    * LSH + exact cosine verification on the (distinct) candidate pairs.
    *
    * `bands` independent plane-sets are OR'd — a pair is a candidate if it
    * collides in ANY band — which decouples the recall/cost dials the way
    * MinHash banding does: per-band collision prob for angle θ is
    * (1-θ/π)^planes, recall = 1-(1-p)^bands, and expected bucket occupancy
    * is n/2^planes per band. At growing corpus size, scale `planes` with
    * log₂(n) to keep occupancy (and the per-bucket quadratic join) bounded,
    * and recover the lost recall with more `bands` — the single-probe
    * single-bucket form this replaces had a FIXED 2^planes bucket count,
    * so its within-bucket all-pairs join grew quadratically with n.
    *
    * Band rows carry (id, band, bucket) only; vectors join back onto the
    * candidates (same Generate pass-through rule as [[minhashLshPairs]]). */
  def embeddingNearDup(df: DataFrame, idCol: String, vecCol: String,
                       threshold: Double = 0.95, planes: Int = 8,
                       bands: Int = 4, seed: Long = 42L,
                       dim: Int = 64,
                       maxBucketSize: Option[Int] = Some(10000)): DataFrame = {
    val base = df.select(col(idCol).as("__id"), col(vecCol).as("__v"))
    // one bucket per band, independent planes via per-band seeds; built as
    // a single array expression so it is evaluated once per row. The
    // vector rides into the bucket collect (dim floats per member —
    // bounded by the occupancy dial), cosine is computed within the
    // bucket, and cross-band duplicate collisions collapse in one
    // pair-keyed aggregate — the scan has ONE consumer, no join-back.
    val bucketArr = array((0 until bands).map(b =>
      Similarity.lshBucket(col("__v"), planes, dim, seed + 1000003L * b)): _*)
    val banded = base.select(struct(col("__id"), col("__v")).as("__p"),
      posexplode(bucketArr).as(Seq("__band", "__bucket")))
    bucketPairs(banded, Seq("__band", "__bucket"), "__p", maxBucketSize)
      .select(col("__l.__id").as("id_l"), col("__r.__id").as("id_r"),
        Similarity.cosine(col("__l.__v"), col("__r.__v")).as("__c"))
      .groupBy("id_l", "id_r")
      .agg(max(col("__c")).as("cosine"))
      .where(col("cosine") >= threshold)
  }

  /** Semantic dedup (the SemDeDup recipe, Abbas et al. 2023,
    * arXiv:2303.09540): partition the corpus into k-means cells (nearest
    * centroid by cosine, centroids broadcast), then WITHIN each cell drop
    * every vector that has a same-cell neighbor with cosine >=
    * `threshold` and a SMALLER id — the deterministic min-id-survives
    * form of the paper's one-representative-per-neighborhood policy
    * (engine-exact, so a SQL oracle can replay it; the paper's keep
    * choice is arbitrary).
    *
    * Shape at 100 TB: assignment is a broadcast nested-loop over `cents`
    * (k rows by definition) folded map-side into one argmax aggregate —
    * one n-row shuffle. The argmax feeds ONE consumer, a groupBy(cell)
    * whose id-sorted member collect decides survival IN PLACE: member i
    * survives iff no earlier member is within the threshold (filter/
    * exists over the collected array — the per-pair cosine is the native
    * compiled kernel, so the HOF machinery only steers, it doesn't
    * compute). Two exchanges total, no self-join, no anti-join, no
    * recomputed subtrees. Σ_c m_c² comparisons with the centroid-count
    * dial bounding E[m_c] = n/k (SemDeDup runs k ≈ √n precisely so
    * cells stay small); `maxCellSize` is the degenerate-cell relief
    * valve — an over-cap cell SKIPS pruning (keeps all members: dedup
    * recall degrades, data is never lost) instead of running m² hot,
    * mirroring the LSH occupancy cap.
    *
    * Differs from [[embeddingNearDup]] (hyperplane-LSH bands → verified
    * PAIRS above a threshold) in both bucketing (data-adaptive k-means
    * cells vs data-oblivious random planes) and output: this returns the
    * SURVIVOR SET (idCol, centroid_id), the pruned corpus itself. */
  def semanticDedup(df: DataFrame, idCol: String, vecCol: String,
                    cents: DataFrame, cidCol: String, cvecCol: String,
                    threshold: Double = 0.95,
                    maxCellSize: Option[Int] = Some(100000)): DataFrame = {
    require(threshold > 0.0 && threshold <= 1.0,
      s"threshold must be in (0, 1], got $threshold")
    val c = cents.select(col(cidCol).as("__cent_id"), col(cvecCol).as("__cent_v"))
    val assigned = df.select(col(idCol).as("__id"), col(vecCol).as("__v"))
      .crossJoin(broadcast(c))
      .select(col("__id"), col("__v"), col("__cent_id"),
        Similarity.cosine(col("__v"), col("__cent_v")).as("__cos"))
      .groupBy("__id")
      .agg(max_by(col("__cent_id"), col("__cos")).as("__cell"),
        first(col("__v")).as("__v"))
    val cells = assigned
      .groupBy("__cell")
      .agg(array_sort(collect_list(struct(col("__id"), col("__v")))).as("__ms"))
    // member at index i survives iff no member before it (smaller id —
    // the array is id-sorted) is within the threshold; the paper's
    // one-representative rule, decided without leaving the row
    val pruned = filter(col("__ms"), (x, i) =>
      !exists(slice(col("__ms"), lit(1), i), y =>
        Similarity.cosine(x.getField("__v"), y.getField("__v")) >= threshold))
    val kept = maxCellSize.fold(pruned)(cap =>
      when(size(col("__ms")) <= cap, pruned).otherwise(col("__ms")))
    cells.select(col("__cell"), explode(kept).as("__m"))
      .select(col("__m.__id").as(idCol), col("__cell").as("centroid_id"))
  }

  /** Line-level boilerplate dedup (the CCNet/RefinedWeb preprocessing
    * step): drop every line whose normalized fingerprint appears in more
    * than `maxDocs` DISTINCT documents (navigation chrome, cookie
    * banners, "subscribe" calls — content that repeats across a site),
    * then reassemble each document from its surviving lines in original
    * order. Documents whose every line is boilerplate drop out entirely —
    * that is the filter semantic, not a loss.
    *
    * Shape at 100 TB: one Generate (posexplode of the line split — no
    * shuffle), ONE aggregate over the distinct (fingerprint, doc) pairs
    * to find hub lines, and one groupBy(doc) to reassemble. The hub
    * relation is the set of lines crossing the document-frequency cap —
    * small by construction (boilerplate is by definition few distinct
    * strings) — so it BROADCASTS and the corpus-side anti-join never
    * shuffles the exploded corpus; set `broadcastHub = false` only if a
    * pathological cap produces a hub set beyond broadcast size. The line
    * relation has two consumers (hub aggregate + anti-join input);
    * recomputing it is one extra columnar scan — pass a [[CacheScope]]
    * to pin it for multi-action callers instead of a leaked persist.
    *
    * Fingerprint = md5(trim(line)): leading/trailing whitespace doesn't
    * make a line "different", but interior spacing does (mirrors the
    * reference pipelines). Returns (idCol, n_lines, n_kept, n_removed,
    * clean_text). */
  def stripBoilerplateLines(df: DataFrame, idCol: String, textCol: String,
                            maxDocs: Long = 1000L,
                            broadcastHub: Boolean = true,
                            scope: Option[CacheScope] = None): DataFrame = {
    val lines = CacheScope.maybe(scope,
      df.select(col(idCol).as("__id"),
        size(split(col(textCol), "\n", -1)).cast("long").as("__n_lines"),
        posexplode(split(col(textCol), "\n", -1)).as(Seq("__pos", "__line")))
        .withColumn("__fp", md5(trim(col("__line")))))
    val hub0 = lines.select(col("__fp"), col("__id")).distinct()
      .groupBy("__fp").agg(count(lit(1)).as("__df"))
      .where(col("__df") > maxDocs)
      .select("__fp")
    val hub = if (broadcastHub) broadcast(hub0) else hub0
    lines.join(hub, Seq("__fp"), "left_anti")
      .groupBy(col("__id").as(idCol))
      .agg(first(col("__n_lines")).as("n_lines"),
        count(lit(1)).as("n_kept"),
        array_join(transform(
          array_sort(collect_list(struct(col("__pos"), col("__line")))),
          s => s.getField("__line")), "\n").as("clean_text"))
      .select(col(idCol), col("n_lines"), col("n_kept"),
        (col("n_lines") - col("n_kept")).as("n_removed"), col("clean_text"))
  }

  /** Cross-document repeated-substring spans — the distributed
    * re-expression of exact-substring training-data dedup (suffix-array
    * "ExactSubstr" in the single-node literature): every maximal token
    * span of at least `minTokens` tokens appearing verbatim in two
    * documents, with positions. Downstream callers strip the spans from
    * one side or use total shared length as a duplication score.
    *
    * Shape: positional token windows (pos, xxhash64 of the n-token
    * window) are a pure per-row expansion — no shuffle; one posting
    * aggregate groups window occurrences by hash ([[bucketPairs]], so
    * the occupancy cap bounds degenerate windows — a boilerplate 8-gram
    * shared by a million docs is dropped with a surfaced metric instead
    * of m²/2 junk matches); matched positions then merge into MAXIMAL
    * spans per (pair, diagonal) with one bounded window pass (consecutive
    * window starts on the same diagonal coalesce — the sessionize
    * gap-merge, gap = 1). Cost tracks total tokens + match volume, never
    * corpus²; matching is on 64-bit window hashes (a cross-doc collision
    * is ~2⁻⁶⁴ per window pair — at which rate it would add one spurious
    * span; verify-exact callers can join window strings back).
    *
    * Returns (id_l, id_r, start_l, start_r, len): token positions are
    * 1-based, `len` is in tokens, id_l < id_r, spans maximal per
    * diagonal. Documents shorter than `minTokens` tokens never match. */
  def repeatedSpans(df: DataFrame, idCol: String, textCol: String,
                    minTokens: Int = 8,
                    maxWindowFreq: Option[Int] = Some(1000)): DataFrame = {
    val toks = Spread.ifSmall(df.select(col(idCol), col(textCol)))
      .select(col(idCol).as("__id"),
        TextAnalysis.tokens(col(textCol)).as("__tk"))
      .where(size(col("__tk")) >= minTokens)
    val wins = toks.select(col("__id"),
      posexplode(transform(
        sequence(lit(1), size(col("__tk")) - (minTokens - 1)),
        i => xxhash64(array_join(slice(col("__tk"), i, lit(minTokens)), " "))))
        .as(Seq("__p0", "__h")))
      .select(struct(col("__id"), (col("__p0") + 1).as("__pos")).as("__p"),
        col("__h"))
    val matches = bucketPairs(wins, Seq("__h"), "__p", maxWindowFreq)
      .where(col("__l.__id") < col("__r.__id"))
      .select(col("__l.__id").as("id_l"), col("__r.__id").as("id_r"),
        col("__l.__pos").as("__pl"),
        (col("__l.__pos") - col("__r.__pos")).as("__diag"),
        col("__r.__pos").as("__pr"))
    mergeDiagonalSpans(matches, "id_l", "id_r", "__pl", minTokens,
      "start_l", "start_r")
  }

  /** The maximal-run merge shared by [[repeatedSpans]] and
    * [[crossSpans]] — the correctness core of both span operators, so
    * it lives ONCE: per (pair, `__diag`onal), consecutive left-side
    * window starts (gap = 1) coalesce into maximal spans via the
    * sessionize break/running-sum pattern; right-side start and token
    * length derive from the diagonal and `minTokens`. One window pass
    * plus the grouped min/max riding the same (pair, diag) exchange. */
  private def mergeDiagonalSpans(matches: DataFrame, idLCol: String,
                                 idRCol: String, posCol: String,
                                 minTokens: Int, startLOut: String,
                                 startROut: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col(idLCol), col(idRCol), col("__diag"))
      .orderBy(col(posCol))
    matches
      .withColumn("__brk",
        when(col(posCol) - lag(col(posCol), 1).over(w) === 1, 0).otherwise(1))
      .withColumn("__sid", sum(col("__brk")).over(w))
      .groupBy(col(idLCol), col(idRCol), col("__diag"), col("__sid"))
      .agg(min(col(posCol)).as("__start"), max(col(posCol)).as("__end"))
      .select(col(idLCol), col(idRCol),
        col("__start").cast("long").as(startLOut),
        (col("__start") - col("__diag")).cast("long").as(startROut),
        (col("__end") - col("__start") + minTokens).cast("long").as("len"))
  }

  /** Cross-corpus exact-substring decontamination — [[repeatedSpans]]
    * across a (train, eval) boundary instead of within one corpus: every
    * maximal token span of ≥ `minTokens` appearing VERBATIM in a train
    * document and an eval document, with positions and length. The
    * substring-level complement of [[decontaminationReport]]'s n-gram
    * counts: the report says HOW MUCH overlaps, this says WHERE, so the
    * contaminated span can be excised from the training doc instead of
    * dropping it whole.
    *
    * Shape: positional window hashes on both sides (per-row expansion,
    * no shuffle); the eval window relation is benchmark-sized and
    * BROADCASTS into the train-side join — train windows stream
    * map-side, the only shuffle is the match set feeding the diagonal
    * gap-merge (decontaminationReport's cost model). Blowup guard:
    * match volume is Σ_h freqTrain(h)·freqEval(h) — a phrase that hubs
    * on BOTH sides is the quadratic risk, so eval windows repeated more
    * than `maxEvalWindowFreq` times WITHIN the benchmark (boilerplate
    * prompts, shared headers) are dropped up front — counted on the
    * eval side where the filter costs a benchmark-sized aggregate. A
    * train-side hub matching a unique eval window is linear in its
    * train frequency: that is real contamination mass, kept.
    *
    * @return (train_id, eval_id, start_train, start_eval, len): 1-based
    *         token positions, len in tokens, spans maximal per
    *         diagonal. */
  def crossSpans(train: DataFrame, idCol: String, textCol: String,
                 evalSet: DataFrame, evalIdCol: String, evalTextCol: String,
                 minTokens: Int = 8,
                 maxEvalWindowFreq: Int = 1000): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(minTokens >= 2, s"minTokens must be >= 2, got $minTokens")
    require(maxEvalWindowFreq >= 1, "maxEvalWindowFreq must be >= 1")
    def wins(df: DataFrame, id: String, txt: String,
             outId: String, outPos: String): DataFrame =
      Spread.ifSmall(df.select(col(id), col(txt)))
        .select(col(id).as(outId), TextAnalysis.tokens(col(txt)).as("__tk"))
        .where(size(col("__tk")) >= minTokens)
        .select(col(outId), posexplode(transform(
          sequence(lit(1), size(col("__tk")) - (minTokens - 1)),
          i => xxhash64(array_join(slice(col("__tk"), i, lit(minTokens)), " "))))
          .as(Seq("__p0", "__h")))
        .select(col(outId), (col("__p0") + 1).as(outPos), col("__h"))
    val t = wins(train, idCol, textCol, "train_id", "__pt")
    val e = wins(evalSet, evalIdCol, evalTextCol, "eval_id", "__pe")
    val eCapped = e.withColumn("__f", count(lit(1)).over(
        Window.partitionBy(col("__h"))))
      .where(col("__f") <= maxEvalWindowFreq).drop("__f")
    val matches = t.join(broadcast(eCapped), Seq("__h"))
      .select(col("train_id"), col("eval_id"), col("__pt"),
        (col("__pt") - col("__pe")).as("__diag"))
    mergeDiagonalSpans(matches, "train_id", "eval_id", "__pt", minTokens,
      "start_train", "start_eval")
  }

  /** [[crossSpans]] as DuckDB SQL over `(train_id, text)` / `(eval_id,
    * text)` relations named `trainr` and `evalr` (provide via a WITH
    * prefix): identical tokenization, window positions, eval-side
    * frequency cap, and diagonal gap-merge — matching on window STRINGS
    * (no hash), which the 64-bit hashes reproduce absent collisions. */
  def crossSpansOracleSql(minTokens: Int, maxEvalWindowFreq: Int): String = {
    val n = minTokens
    s"""ttk AS (SELECT train_id,
       |    list_filter(string_split_regex(trim(text), '\\s+'),
       |                w -> len(w) > 0) AS tk FROM trainr),
       |twin AS (SELECT train_id,
       |    unnest(generate_series(1, len(tk) - ${n - 1})) AS pt,
       |    unnest(list_transform(generate_series(1, len(tk) - ${n - 1}),
       |      i -> array_to_string(list_slice(tk, i, i + ${n - 1}), ' '))) AS w
       |  FROM ttk WHERE len(tk) >= $n),
       |etk AS (SELECT eval_id,
       |    list_filter(string_split_regex(trim(text), '\\s+'),
       |                w -> len(w) > 0) AS tk FROM evalr),
       |ewin0 AS (SELECT eval_id,
       |    unnest(generate_series(1, len(tk) - ${n - 1})) AS pe,
       |    unnest(list_transform(generate_series(1, len(tk) - ${n - 1}),
       |      i -> array_to_string(list_slice(tk, i, i + ${n - 1}), ' '))) AS w
       |  FROM etk WHERE len(tk) >= $n),
       |ewin AS (SELECT eval_id, pe, w FROM (SELECT *,
       |    count(*) OVER (PARTITION BY w) AS f FROM ewin0)
       |  WHERE f <= $maxEvalWindowFreq),
       |xm AS (SELECT t.train_id, e.eval_id, t.pt, t.pt - e.pe AS diag
       |  FROM twin t JOIN ewin e ON t.w = e.w),
       |xs AS (SELECT *, CASE WHEN pt - lag(pt) OVER
       |    (PARTITION BY train_id, eval_id, diag ORDER BY pt) = 1
       |    THEN 0 ELSE 1 END AS brk FROM xm),
       |xg AS (SELECT *, sum(brk) OVER
       |    (PARTITION BY train_id, eval_id, diag ORDER BY pt) AS sid FROM xs)
       |SELECT train_id, eval_id, CAST(min(pt) AS BIGINT) AS start_train,
       |  CAST(min(pt) - diag AS BIGINT) AS start_eval,
       |  CAST(max(pt) - min(pt) + $n AS BIGINT) AS len
       |FROM xg GROUP BY train_id, eval_id, diag, sid""".stripMargin
  }

  /** [[repeatedSpans]] as DuckDB SQL over a `(doc_id, text)` relation
    * named `base` (provide it via a WITH prefix): identical tokenization,
    * window positions, and diagonal gap-merge — matching on the window
    * STRINGS (the oracle has no hash), which the 64-bit hash matching
    * reproduces absent collisions. */
  def repeatedSpansOracleSql(minTokens: Int): String = {
    val n = minTokens
    s"""toks AS (SELECT doc_id,
       |    list_filter(string_split_regex(trim(text), '\\s+'),
       |                w -> len(w) > 0) AS tk FROM base),
       |wins AS (SELECT doc_id,
       |    unnest(generate_series(1, len(tk) - ${n - 1})) AS pos,
       |    unnest(list_transform(generate_series(1, len(tk) - ${n - 1}),
       |      i -> array_to_string(list_slice(tk, i, i + ${n - 1}), ' '))) AS w
       |  FROM toks WHERE len(tk) >= $n),
       |m AS (SELECT a.doc_id AS id_l, b.doc_id AS id_r, a.pos AS pl,
       |    a.pos - b.pos AS diag
       |  FROM wins a JOIN wins b ON a.w = b.w AND a.doc_id < b.doc_id),
       |s AS (SELECT *, CASE WHEN pl - lag(pl) OVER
       |    (PARTITION BY id_l, id_r, diag ORDER BY pl) = 1
       |    THEN 0 ELSE 1 END AS brk FROM m),
       |g AS (SELECT *, sum(brk) OVER
       |    (PARTITION BY id_l, id_r, diag ORDER BY pl) AS sid FROM s)
       |SELECT id_l, id_r, CAST(min(pl) AS BIGINT) AS start_l,
       |  CAST(min(pl) - diag AS BIGINT) AS start_r,
       |  CAST(max(pl) - min(pl) + $n AS BIGINT) AS len
       |FROM g GROUP BY id_l, id_r, diag, sid""".stripMargin
  }

  /** [[stripBoilerplateLines]] as DuckDB SQL over a `(doc_id, text)`
    * relation named `base` (provide it via a WITH prefix): identical
    * line split (every '\n', trailing empties kept), identical
    * trim-then-md5 fingerprint, identical document-frequency cap and
    * ordered reassembly. */
  def lineDedupOracleSql(maxDocs: Long): String =
    s"""ln AS (SELECT doc_id, len(ls) AS n_lines,
       |         unnest(generate_series(1, len(ls))) AS pos,
       |         unnest(ls) AS line
       |       FROM (SELECT doc_id, string_split(text, chr(10)) AS ls FROM base)),
       |fp AS (SELECT doc_id, n_lines, pos, line, md5(trim(line)) AS f FROM ln),
       |hub AS (SELECT f FROM (SELECT f, count(DISTINCT doc_id) AS c
       |                       FROM fp GROUP BY f) WHERE c > $maxDocs),
       |kept AS (SELECT * FROM fp ANTI JOIN hub USING (f))
       |SELECT doc_id, CAST(any_value(n_lines) AS BIGINT) AS n_lines,
       |  count(*) AS n_kept,
       |  CAST(any_value(n_lines) - count(*) AS BIGINT) AS n_removed,
       |  string_agg(line, chr(10) ORDER BY pos) AS clean_text
       |FROM kept GROUP BY doc_id""".stripMargin

  /** The END-TO-END corpus dedup pipeline in one call — the composition
    * a production pipeline actually runs, in the production ORDER:
    * exact-duplicate star edges first (one groupBy; collapses the
    * identical-copy mass before any LSH sees it — the documented
    * mega-bucket mitigation), MinHash-LSH near-duplicate edges at
    * `threshold`, connected components over the union, canonical
    * selection by (`scoreCol` desc, id desc). Returns one row per input
    * doc: (idCol, cluster, is_canonical) — filter `is_canonical` to get
    * the deduped corpus, or join back for audit trails. Each stage is
    * the already-scale-shaped operator ([[exactTextPairs]],
    * [[nearDuplicates]], [[duplicateClusters]], [[canonicalize]]); see
    * each for its 100 TB posture and knobs. */
  def dedupCorpus(docs: DataFrame, idCol: String, textCol: String,
                  scoreCol: String, threshold: Double = 0.8,
                  numHashes: Int = 64, bands: Int = 16, shingleN: Int = 3,
                  seed: Long = 42L,
                  maxBucketSize: Option[Int] = Some(10000),
                  scratchDir: Option[String] = None): DataFrame = {
    val exactEdges = exactTextPairs(docs, textCol, idCol)
    val nearEdges = nearDuplicates(docs, idCol, textCol, threshold,
      numHashes, bands, shingleN, seed, maxBucketSize)
      .select("id_l", "id_r")
    val clusters = duplicateClusters(exactEdges.union(nearEdges),
      "id_l", "id_r", scratchDir = scratchDir)
    val canon = canonicalize(docs, clusters, idCol, scoreCol)
    docs.join(clusters.withColumnRenamed("node", idCol), Seq(idCol), "left")
      .withColumn("cluster", coalesce(col("label"), col(idCol)))
      .join(canon.select(col("cluster"), col("canonical_id")), Seq("cluster"))
      .select(col(idCol), col("cluster"),
        (col(idCol) === col("canonical_id")).as("is_canonical"))
  }

  /** Dedup PROVENANCE report — the data-governance artifact a 100 TB
    * pipeline must keep next to the deduped corpus: one row per DROPPED
    * document saying which cluster claimed it and HOW confident the drop
    * is. `dropped_by` classifies the dropped doc's relation to the
    * cluster's CANONICAL survivor:
    *
    *  - `exact`: normalized-text fingerprint equals the canonical's —
    *    the drop removed a byte-identical (mod whitespace/case) copy;
    *  - `lsh`: true shingle Jaccard to the canonical ≥ `threshold` —
    *    a direct near-duplicate of what was kept;
    *  - `canonical-loser`: in the cluster only TRANSITIVELY (its dup
    *    edges point at other dropped members, not the survivor) — the
    *    rows a governance review reads first, because transitive
    *    chaining is where over-merging hides.
    *
    * Scale shape: cluster membership comes from [[dedupCorpus]] (each
    * stage already 100 TB-shaped); the labels then cost ONE fingerprint+
    * shingle projection over the corpus and ONE join of dropped docs to
    * their cluster's canonical — exactly one compared pair per dropped
    * doc, never pairs within the cluster, never all-pairs. The Jaccard
    * here is exact (set intersect on the two docs' shingle arrays), so
    * the label is a deterministic function of the corpus, reproducible
    * by an independent engine — the q_dedup_provenance oracle recomputes
    * every label from scratch in DuckDB. */
  def dedupProvenance(docs: DataFrame, idCol: String, textCol: String,
                      scoreCol: String, threshold: Double = 0.8,
                      numHashes: Int = 64, bands: Int = 16, shingleN: Int = 3,
                      seed: Long = 42L,
                      maxBucketSize: Option[Int] = Some(10000),
                      scratchDir: Option[String] = None): DataFrame = {
    val membership = dedupCorpus(docs, idCol, textCol, scoreCol, threshold,
      numHashes, bands, shingleN, seed, maxBucketSize, scratchDir)
    val enriched = docs.select(col(idCol),
      TextAnalysis.fingerprint(col(textCol)).as("__fp"),
      shingles(col(textCol), shingleN).as("__sh"))
    val m = membership.join(enriched, Seq(idCol))
    val canon = m.where(col("is_canonical"))
      .select(col("cluster"), col("__fp").as("__cfp"), col("__sh").as("__csh"))
    val inter = size(array_intersect(col("__sh"), col("__csh")))
    m.where(!col("is_canonical"))
      .join(canon, Seq("cluster"))
      .withColumn("__jac", inter.cast("double") /
        (size(col("__sh")) + size(col("__csh")) - inter))
      .select(col(idCol), col("cluster").as("cluster_id"),
        when(col("__fp") === col("__cfp"), "exact")
          .when(col("__jac") >= threshold, "lsh")
          .otherwise("canonical-loser").as("dropped_by"))
  }

  /** One 64-bit bucket id per (band, band-key) pair — band in the high
    * 32 bits, the (int) key zero-shifted into the low 32 — so the banded
    * bucket space keys a SINGLE bucketed table column. */
  private def packedBucket(band: Column, key: Column): Column =
    (band.cast("long") * 4294967296L) + (key.cast("long") + 2147483648L)

  /** Build and PERSIST a MinHash near-dup index over a corpus — the
    * amortization step for INCREMENTAL ingest dedup: [[nearDuplicates]]
    * re-signatures and re-buckets the whole corpus on every call, which
    * is the right shape for one backfill but not for a daily crawl drop
    * against a 100 TB corpus. Built once here, each new batch pays only
    * its own signature cost plus joins against two bucketed tables
    * ([[nearDupAgainstIndex]]) — the corpus is never re-read as text,
    * never re-signatured, and never shuffled (both index tables are
    * bucketed on their join key, so the corpus side of each probe join
    * reads pre-partitioned bucket files).
    *
    * Two tables: `{table}_bands` — the exploded (packed band-bucket,
    * doc id) rows, bucketed by the packed bucket id; `{table}_sh` — one
    * row per doc with its sorted 64-bit hashed shingle set, bucketed by
    * id (the exact-verify side). Storage: bands·8 bytes + the hashed
    * shingle set per doc — no raw text retained. */
  def buildNearDupIndex(corpus: DataFrame, idCol: String, textCol: String,
                        table: String, numHashes: Int = 64, bands: Int = 16,
                        shingleN: Int = 3, seed: Long = 42L,
                        buckets: Int = 32): Unit = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    val spark = corpus.sparkSession
    Seq(s"${table}_bands", s"${table}_sh")
      .foreach(Bucketing.dropForRewrite(spark, _))
    val sig = minhashSignatures(corpus, idCol, textCol, numHashes, shingleN, seed)
    val bandRows = bandedBuckets(sig, bands, numHashes / bands,
      struct(col("__id")))
      .select(packedBucket(col("__band"), col("__key")).as("__bucket"),
        col("__p.__id").as("__id"))
    Bucketing.writeBucketed(bandRows, s"${table}_bands", "__bucket", buckets)
    val sh = corpus.select(col(idCol).as("__id"),
      array_sort(transform(shingles(col(textCol), shingleN),
        t => xxhash64(t))).as("__sh"))
    Bucketing.writeBucketed(sh, s"${table}_sh", "__id", buckets)
  }

  /** Build and PERSIST a hamming-ball (64-bit signature) index — the
    * SimHash/dHash twin of [[buildNearDupIndex]], and the ingest-time
    * home of perceptual IMAGE dedup ([[
    * graft.operators.Multimodal.buildImageDupIndex]] feeds it dHash
    * signatures): the corpus is signatured ONCE, each 64-bit signature
    * explodes into its four 16-bit pigeonhole chunks ([[shChunks]] —
    * identical to the in-corpus pairing, so the hamming ≤ 3 recall
    * guarantee carries over), and two bucketed tables persist:
    * `{table}_bands` — (packed chunk-bucket, id), bucketed by the
    * packed bucket; `{table}_sig` — (id, signature), bucketed by id
    * (the exact-verify side). A new batch then pays only its own
    * signature cost ([[hammingAgainstIndex]]); the corpus is never
    * re-decoded and never shuffled. Storage: 4 band rows + one 8-byte
    * signature per item — no payload bytes retained. */
  def buildHammingIndex(sig: DataFrame, table: String,
                        buckets: Int = 32): Unit = {
    val spark = sig.sparkSession
    Seq(s"${table}_bands", s"${table}_sig")
      .foreach(Bucketing.dropForRewrite(spark, _))
    val bands = sig.select(col("__id"),
        explode(shChunks(col("__sh"))).as("ck"))
      .select(packedBucket(col("ck.chunk"), col("ck.key")).as("__bucket"),
        col("__id"))
    Bucketing.writeBucketed(bands, s"${table}_bands", "__bucket", buckets)
    Bucketing.writeBucketed(sig.select(col("__id"), col("__sh")),
      s"${table}_sig", "__id", buckets)
  }

  /** Probe a [[buildHammingIndex]] index with a new batch's signatures:
    * candidates come from the equi-join of the batch's chunk buckets
    * against `{table}_bands` (bucketed: corpus side exchange-free),
    * exact XOR-popcount verification joins the deduplicated candidate
    * pairs against `{table}_sig` (bucketed by id: again exchange-free)
    * and the batch's own signatures. Same pigeonhole bound as
    * [[hammingNearDupFromSig]]: full recall for hamming ≤ 3. Returns
    * (corpus_id, batch_id, hamming ≤ maxHamming). */
  def hammingAgainstIndex(spark: org.apache.spark.sql.SparkSession,
                          table: String, batchSig: DataFrame,
                          maxHamming: Int = 3): DataFrame = {
    val bb = batchSig.select(col("__id").as("__bid"),
        col("__sh").as("__bsh"),
        explode(shChunks(col("__sh"))).as("ck"))
      .select(packedBucket(col("ck.chunk"), col("ck.key")).as("__bucket"),
        col("__bid"))
    val cand = spark.table(s"${table}_bands")
      .join(bb, Seq("__bucket"))
      .select(col("__id").as("corpus_id"), col("__bid").as("batch_id"))
      .distinct()
    val csig = spark.table(s"${table}_sig")
      .select(col("__id").as("corpus_id"), col("__sh").as("__csh"))
    val bsig = batchSig.select(col("__id").as("batch_id"),
      col("__sh").as("__bsh"))
    cand.join(csig, Seq("corpus_id"))
      .join(bsig, Seq("batch_id"))
      .select(col("corpus_id"), col("batch_id"),
        bit_count(col("__csh").bitwiseXOR(col("__bsh"))).as("hamming"))
      .where(col("hamming") <= maxHamming)
  }

  /** Grow a [[buildHammingIndex]] index with a new batch — O(batch)
    * band rows + signatures appended into the right hash buckets;
    * co-partitioning intact, per-doc facts only (nothing global to
    * merge). Caller contract: batch ids are new. */
  def appendToHammingIndex(batchSig: DataFrame, table: String): Unit = {
    val bands = batchSig.select(col("__id"),
        explode(shChunks(col("__sh"))).as("ck"))
      .select(packedBucket(col("ck.chunk"), col("ck.key")).as("__bucket"),
        col("__id"))
    Bucketing.appendBucketed(bands, s"${table}_bands", "__bucket")
    Bucketing.appendBucketed(batchSig.select(col("__id"), col("__sh")),
      s"${table}_sig", "__id")
  }

  /** Tombstone-apply for a [[buildHammingIndex]] index — the
    * [[deleteFromNearDupIndex]] recipe on the signature layout. */
  def deleteFromHammingIndex(spark: org.apache.spark.sql.SparkSession,
                             table: String, deleteIds: DataFrame,
                             idCol: String): Unit = {
    val del = deleteIds.select(col(idCol).cast("long").as("__id")).distinct()
    Bucketing.deleteFromBucketed(spark, s"${table}_bands", del, "__id")
    Bucketing.deleteFromBucketed(spark, s"${table}_sig", del, "__id")
  }

  /** Tombstone-apply for the near-dup index: rewrite BOTH index tables
    * without the deleted ids' rows ([[Bucketing.deleteFromBucketed]] —
    * layout preserved, rewrite doubles as compaction). The index holds
    * only per-doc facts (band rows, shingle sets — nothing corpus-
    * global), so unlike the BM25 delete there are no statistics to
    * decrement: dropping the rows IS the whole delete, and a
    * post-delete [[nearDupAgainstIndex]] probe equals a from-scratch
    * build over the survivors by construction. Ids absent from the
    * index are no-ops (replayable takedown lists). */
  def deleteFromNearDupIndex(spark: org.apache.spark.sql.SparkSession,
                             table: String, deleteIds: DataFrame,
                             idCol: String): Unit = {
    val del = deleteIds.select(col(idCol).as("__id")).distinct()
    Bucketing.deleteFromBucketed(spark, s"${table}_bands", del, "__id")
    Bucketing.deleteFromBucketed(spark, s"${table}_sh", del, "__id")
  }

  /** Probe a [[buildNearDupIndex]] index with a new batch: batch docs are
    * signatured and banded (their own cost only), candidate (corpus,
    * batch) pairs come from the equi-join on the packed band bucket —
    * the `{table}_bands` side reads bucketed files with NO exchange —
    * and exact Jaccard verification joins the deduplicated candidates
    * against `{table}_sh` (bucketed by id: corpus side again
    * exchange-free) and the batch's own shingle sets. Jaccard is
    * computed on the 64-bit hashed shingle sets (equal to the string-set
    * value absent ~2⁻⁶⁴ collisions — same contract as
    * [[repeatedSpans]]/the streaming near-dup). Returns (corpus_id,
    * batch_id, jaccard) with jaccard ≥ `threshold`. */
  def nearDupAgainstIndex(spark: org.apache.spark.sql.SparkSession,
                          table: String, batch: DataFrame, idCol: String,
                          textCol: String, threshold: Double = 0.8,
                          numHashes: Int = 64, bands: Int = 16,
                          shingleN: Int = 3, seed: Long = 42L): DataFrame = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    val bsig = minhashSignatures(batch, idCol, textCol, numHashes, shingleN, seed)
    val bb = bandedBuckets(bsig, bands, numHashes / bands,
      struct(col("__id")))
      .select(packedBucket(col("__band"), col("__key")).as("__bucket"),
        col("__p.__id").as("__bid"))
    val cand = spark.table(s"${table}_bands")
      .join(bb, Seq("__bucket"))
      .select(col("__id").as("corpus_id"), col("__bid").as("batch_id"))
      .distinct()
    val bsh = batch.select(col(idCol).as("batch_id"),
      array_sort(transform(shingles(col(textCol), shingleN),
        t => xxhash64(t))).as("__bsh"))
    val csh = spark.table(s"${table}_sh")
      .select(col("__id").as("corpus_id"), col("__sh").as("__csh"))
    cand.join(csh, Seq("corpus_id"))
      .join(bsh, Seq("batch_id"))
      .select(col("corpus_id"), col("batch_id"),
        (size(array_intersect(col("__csh"), col("__bsh"))).cast("double") /
          size(array_union(col("__csh"), col("__bsh")))).as("jaccard"))
      .where(col("jaccard") >= threshold)
  }

  /** Benchmark decontamination: flag corpus docs sharing at least
    * `minShared` distinct word n-grams with any probe (eval-set) doc.
    *
    * Shape: explode distinct shingles on both sides, equi-join on the
    * shingle, count distinct shared shingles per (doc, probe). The probe
    * side is an eval set — small by nature — so it broadcasts: the corpus
    * side streams map-side with NO shuffle of corpus shingles, which is
    * what makes this viable against 100 TB of documents. Only (id,
    * shingle) flows through the Generate (pass-through re-eval rule). */
  def contaminationPairs(docs: DataFrame, idCol: String, textCol: String,
                         probes: DataFrame, probeIdCol: String,
                         probeTextCol: String, n: Int = 3,
                         minShared: Long = 2L,
                         broadcastProbes: Boolean = true): DataFrame = {
    val d = docs.select(col(idCol).as("doc_id"),
      explode(shingles(col(textCol), n)).as("__s"))
    val p0 = probes.select(col(probeIdCol).as("probe_id"),
      explode(shingles(col(probeTextCol), n)).as("__s"))
    val p = if (broadcastProbes) broadcast(p0) else p0
    d.join(p, "__s")
      .groupBy(col("doc_id"), col("probe_id"))
      .agg(countDistinct(col("__s")).as("n_shared"))
      .where(col("n_shared") >= minShared)
  }
}
