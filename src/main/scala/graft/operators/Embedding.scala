package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** In-engine SGNS (skip-gram with negative sampling) embedding training
  * — word2vec's objective (Mikolov et al., NIPS'13) applied to the
  * [[GraphOps.deterministicWalks]] corpus, which makes it DeepWalk
  * (Perozzi et al., KDD'14): walks become sentences, co-visited nodes
  * get nearby vectors, and the whole graph-embedding pipeline
  * (walk → skip-gram pairs → trainer) runs inside the engine with no
  * export hop.
  *
  * Determinism contract (the [[LinearModel]] recipe, applied to a
  * model that is a RELATION rather than one broadcast row): nothing
  * float is ever summed raw — per-term products cast to
  * DECIMAL(38,18) before every cross-row sum (pair score, both
  * gradient aggregates), and both embedding matrices re-quantize to
  * the 1e-9 grid after every update, so the trajectory is
  * bit-replayable by the DuckDB oracle and invariant to partitioning.
  * Initialization is md5-derived on an exact binary grid
  * ((md5Long48(node|pos|side) mod 2049 − 1024)/2^14 ∈ [−1/16, 1/16])
  * — zero init would be a saddle (all scores σ(0), symmetric zero
  * gradients); md5 init is reproducible across engines with no RNG.
  * Negatives are md5-uniform draws over the [[DetRandom.denseIndex]]
  * node table keyed on (center|context|j) — the [[DetRandom
  * .negativeSample]] trick per PAIR; a draw colliding with the true
  * context is kept (standard SGNS, harmless bias at k·1/N).
  *
  * Scale shape: the pair and training relations materialize ONCE
  * ([[Scratch]]); each iteration is two hash joins of the TRAINING
  * relation against the two VOCAB-SIZED embedding matrices pivoted to
  * array form (broadcast when vocab fits — the common case; keyed
  * shuffle otherwise), the per-pair score folded IN-ROW over the dim
  * axis (exact decimal — no per-pair key, no join-back), and two
  * gradient aggregates, with both matrices snapshotting per round
  * ([[GraphOps.pageRankNano]]'s lineage discipline). Nothing is
  * driver-resident: a 10M-node vocabulary trains the same plan.
  */
object Embedding {

  private val dec = "decimal(38,18)"

  private def q9(c: Column): Column = floor(c * lit(1e9)) / lit(1e9)

  /** Skip-gram pairs from a long-form sequence corpus (id, pos, tok):
    * both directions of every co-occurrence within `window` positions
    * — (a, b) AND (b, a), the symmetric-context SGNS convention. One
    * self-join keyed on the sequence id, distance-bounded. */
  def skipGramPairs(seqs: DataFrame, idCol: String, posCol: String,
                    tokCol: String, window: Int = 1): DataFrame = {
    require(window >= 1, s"window must be >= 1, got $window")
    val l = seqs.select(col(idCol).as("__sid"), col(posCol).as("__p"),
      col(tokCol).as("__a"))
    val r = seqs.select(col(idCol).as("__sid"), col(posCol).as("__q"),
      col(tokCol).as("__b"))
    // one co-occurrence subtree, both directions off it — the same
    // shape as the oracle twin's co/pairs split
    val co = l.join(r, Seq("__sid"))
      .where(col("__q") > col("__p") && col("__q") - col("__p") <= window)
    co.select(col("__a"), col("__b"))
      .union(co.select(col("__b").as("__a"), col("__a").as("__b")))
      .toDF("a", "b")
  }

  /** DuckDB twin of [[skipGramPairs]] over a CTE `seqs(sid, p, tok)`:
    * emits bodies through `pairs(a, b)`. */
  def skipGramPairsOracleCtes(window: Int): String =
    s"""co AS (SELECT l.tok AS a, r.tok AS b
       |  FROM seqs l JOIN seqs r ON l.sid = r.sid
       |  WHERE r.p > l.p AND r.p - l.p <= $window),
       |pairs AS (SELECT a, b FROM co UNION ALL SELECT b, a FROM co)""".stripMargin

  /** word2vec frequent-word subsampling applied to the PAIR relation:
    * each pair survives with probability √(t/f(a))·√(t/f(b)) — both
    * endpoint occurrences must survive Mikolov's per-occurrence
    * discard P(drop w) = 1 − √(t/f(w)) — where f(w) is w's CENTER-side
    * share of the pair relation (symmetric skip-gram pairs carry every
    * occurrence on the center side once per window slot, so
    * center-share ∝ corpus unigram share). Hub words (f ≫ t) thin to
    * √(t/f); rare words (f ≤ t) keep probability 1.
    *
    * Determinism contract: keep thresholds quantize to integers —
    * kq(w) = min(2²⁴, ⌊√(t·total/cnt(w))·2²⁴⌋), √ IEEE-correctly
    * rounded (the [[weightTable]] trick) — and each pair draws
    * u = md5Long48(md5(a)|md5(b)|dup) ∈ [0, 2⁴⁸), kept iff
    * u < kq(a)·kq(b) (≤ 2⁴⁸ by construction): exact integer
    * comparison, partition-invariant, replayed term for term by
    * [[subsamplePairsOracleCtes]]. The dup rank distinguishes repeated
    * identical pairs (md5-escaped key, the [[sgnsFitMatrices]] pid
    * convention) so each repetition draws independently.
    *
    * Scale shape: one vocab-sized count aggregate + two vocab-sized
    * joins onto the pair stream (broadcast when vocab fits) + one
    * window over identical-pair groups (bounded by max pair
    * multiplicity). A token seen only as context (impossible for
    * symmetric pairs, possible for directed input) carries no center
    * count and keeps probability 1 — the LEFT-join coalesce mirrors
    * word2vec never discarding unseen words. */
  def subsamplePairs(pairs: DataFrame, aCol: String, bCol: String,
                     t: Double): DataFrame = {
    require(t > 0.0 && t < 1.0, s"subsample t must be in (0,1), got $t")
    val full = 1L << 24
    val p = pairs.select(col(aCol).as("__a"), col(bCol).as("__b"))
    val tot = p.count()
    require(tot > 0, "subsamplePairs: empty pair relation")
    val kq = p.groupBy(col("__a").as("__w"))
      .agg(count(lit(1)).as("__c"))
      .select(col("__w"),
        least(lit(full),
          floor(sqrt(lit(t) * lit(tot.toDouble) / col("__c")) *
            lit(full.toDouble)).cast("long")).as("__kq"))
    val W = org.apache.spark.sql.expressions.Window
      .partitionBy("__a", "__b").orderBy("__a")
    val keyed = p.withColumn("__dup", row_number().over(W).cast("string"))
    val u = DetRandom.md5Long48(concat_ws("|",
      md5(col("__a").cast("string")), md5(col("__b").cast("string")),
      col("__dup")))
    keyed
      .join(kq.select(col("__w").as("__a"), col("__kq").as("__ka")),
        Seq("__a"), "left")
      .join(kq.select(col("__w").as("__b"), col("__kq").as("__kb")),
        Seq("__b"), "left")
      .where(u < coalesce(col("__ka"), lit(full)) *
        coalesce(col("__kb"), lit(full)))
      .select(col("__a").as(aCol), col("__b").as(bCol))
  }

  /** [[subsamplePairs]] as DuckDB CTEs over `inRel(a, b)`, emitting
    * `outRel(a, b)` — same integer thresholds, same md5 draw, same
    * LEFT-join keep-1 default. */
  def subsamplePairsOracleCtes(t: Double, inRel: String = "pairs",
                               outRel: String = "spairs"): String = {
    val draw = DetRandom.md5Long48SqlExpr(
      "md5(CAST(d.a AS VARCHAR)) || '|' || md5(CAST(d.b AS VARCHAR)) " +
        "|| '|' || d.dup")
    s"""${outRel}_cnt AS (SELECT a AS w, CAST(count(*) AS BIGINT) AS c
       |  FROM $inRel GROUP BY a),
       |${outRel}_tot AS (SELECT CAST(count(*) AS BIGINT) AS tot
       |  FROM $inRel),
       |${outRel}_kq AS (SELECT w, least(CAST(16777216 AS BIGINT),
       |    CAST(floor(sqrt($t * CAST(tot AS DOUBLE) / c) * 16777216.0)
       |      AS BIGINT)) AS kq
       |  FROM ${outRel}_cnt, ${outRel}_tot),
       |${outRel}_d AS (SELECT a, b,
       |    CAST(row_number() OVER (PARTITION BY a, b) AS VARCHAR) AS dup
       |  FROM $inRel),
       |$outRel AS (SELECT d.a, d.b
       |  FROM ${outRel}_d d
       |  LEFT JOIN ${outRel}_kq ka ON ka.w = d.a
       |  LEFT JOIN ${outRel}_kq kb ON kb.w = d.b
       |  WHERE ($draw)
       |    < COALESCE(ka.kq, 16777216) * COALESCE(kb.kq, 16777216))"""
      .stripMargin
  }

  /** The md5-grid initial value for (node, pos) on `side` ∈ {in, out}:
    * exact binary fractions, identical in both engines. */
  private def initVal(node: Column, pos: Column, side: String): Column =
    (pmod(DetRandom.md5Long48(concat_ws("|", node.cast("string"),
      pos.cast("string"), lit(side))), lit(2049L)) - lit(1024L))
      .cast("double") / lit(16384.0)

  private def initValSql(nodeSql: String, posSql: String,
                         side: String): String = {
    val fold = DetRandom.md5Long48SqlExpr(
      s"CAST($nodeSql AS VARCHAR) || '|' || CAST($posSql AS VARCHAR) || '|$side'")
    s"(CAST((($fold) % 2049) - 1024 AS DOUBLE) / 16384.0)"
  }

  /** Context-frequency^0.75 weight table over the dense vocab index:
    * (__neg, __wq, __cum) with __wq = floor(√√(w³)·1e6) — √ is
    * IEEE-correctly-rounded, so the quantization is bit-identical
    * across engines — and __cum the exact prefix sum in idx order via
    * the two-level [[DetRandom.denseIndex]] trick (per-block partials
    * + a tiny block-offset window), never a single-task vocab scan.
    * Nodes never seen as context carry no row (word2vec's noise
    * distribution is over context unigrams). */
  private def weightTable(pos: DataFrame, indexed: DataFrame): DataFrame = {
    val W = org.apache.spark.sql.expressions.Window
    val ctx = pos.groupBy(col("__x").as("__neg"))
      .agg(count(lit(1)).as("__w"))
    val w = col("__w").cast("double")
    val wt = indexed.join(ctx, Seq("__neg"))
      .withColumn("__wq",
        floor(sqrt(sqrt(w * w * w)) * lit(1e6)).cast("long"))
      .withColumn("__blk", (col("idx") / lit(1024L)).cast("long"))
    val blocks = wt.groupBy("__blk")
      .agg(sum(col("__wq")).as("__bs"))
      .withColumn("__boff", coalesce(sum(col("__bs")).over(
        W.orderBy("__blk").rowsBetween(W.unboundedPreceding, -1)),
        lit(0L)))
      .select(col("__blk"), col("__boff"))
    wt.withColumn("__local", coalesce(sum(col("__wq")).over(
        W.partitionBy("__blk").orderBy("idx")
          .rowsBetween(W.unboundedPreceding, -1)), lit(0L)))
      .join(broadcast(blocks), Seq("__blk"))
      .select(col("__neg"), col("__wq"),
        (col("__boff") + col("__local")).as("__cum"))
  }

  /** `iters` full-batch SGNS steps over directed positive pairs
    * (aCol → center, bCol → context), `negs` md5-derived negatives per
    * positive, dims 1..`dim`, learning rate `lr`. Returns the CENTER
    * ("input") embedding relation (node, pos, v) — the vectors DeepWalk
    * consumers use; every value exactly on the 1e-9 grid.
    * [[sgnsFitMatrices]] returns BOTH matrices for warm-start chaining.
    *
    * `negDist`: `"uniform"` draws each negative uniformly over the
    * vocab; `"unigram75"` draws ∝ (context count)^0.75 — word2vec's
    * noise distribution — by exact integer inversion of the cumulative
    * weight table (weights floor(√√(w³)·1e6): √ is correctly rounded
    * in IEEE-754, so both engines quantize identically; a node never
    * seen as context is never drawn, the word2vec convention).
    *
    * `initIn`/`initOut` warm-start the matrices from stored (node,
    * pos, v) relations — the daily-re-embed analog of
    * [[Similarity.appendToIvfIndex]]: vocab cells present in the init
    * take its value, NEW nodes/dims fall back to the md5 grid. Because
    * every other term is a pure function of `pairs`, warm-starting
    * from a run's matrices EXACTLY continues it: fit(iters=a) then
    * fit(iters=b, init=those matrices) ≡ fit(iters=a+b) (spec-pinned,
    * and q_node2vec2's oracle replays the composed trajectory cold).
    *
    * Per iteration (all sums DECIMAL-cast):
    * {{{
    *   z(p)        = Σ_pos vin[c]·vout[x]          (per training pair)
    *   g(p)        = σ(z) − y                       (y = 1 pos, 0 neg)
    *   ∇in[c][d]   = Σ_p∋c  g·vout[x][d]
    *   ∇out[x][d]  = Σ_p∋x  g·vin[c][d]
    *   v ← q9(v − lr·∇/n)                           (n = training pairs)
    * }}} */
  def sgnsFit(pairs: DataFrame, aCol: String, bCol: String, dim: Int,
              iters: Int = 2, lr: Double = 0.5, negs: Int = 1,
              scratchDir: Option[String] = None,
              materializeEvery: Int = 1,
              negDist: String = "uniform",
              initIn: Option[DataFrame] = None,
              initOut: Option[DataFrame] = None): DataFrame =
    sgnsFitMatrices(pairs, aCol, bCol, dim, iters, lr, negs, scratchDir,
      materializeEvery, negDist, initIn, initOut)._1

  /** [[sgnsFit]] returning (center, context) matrices — the pair a
    * warm-start run feeds back in. */
  def sgnsFitMatrices(pairs: DataFrame, aCol: String, bCol: String,
                      dim: Int, iters: Int = 2, lr: Double = 0.5,
                      negs: Int = 1, scratchDir: Option[String] = None,
                      materializeEvery: Int = 1,
                      negDist: String = "uniform",
                      initIn: Option[DataFrame] = None,
                      initOut: Option[DataFrame] = None): (DataFrame, DataFrame) = {
    // before sgnsPrepare: a bad argument must fail before any Spark job
    checkFitArgs(dim, iters, materializeEvery)
    sgnsFitPrepared(sgnsPrepare(pairs, aCol, bCol, negs, negDist, scratchDir),
      dim, iters, lr, materializeEvery, initIn, initOut)
  }

  private def checkFitArgs(dim: Int, iters: Int, materializeEvery: Int): Unit = {
    require(dim >= 1 && dim <= 64, s"dim must be in [1,64], got $dim")
    require(iters >= 1 && iters <= 8, s"iters must be in [1,8], got $iters")
    require(materializeEvery >= 1, "materializeEvery must be >= 1")
  }

  /** The fixed (matrix-independent) training state of a SGNS fit: the
    * materialized positive+negative training relation, the vocab, and
    * their counts. A pure function of (pairs, negs, negDist) — the
    * matrices never feed back into the negative draws — so warm-start
    * CHAINED fits over the same corpus (q_node2vec2's fit(1) →
    * fit(1, init)) prepare ONCE and train twice, instead of paying the
    * pairs/nodes/negatives/weight-table materializations and counts per
    * fit (guide §5 — reuse beats recompute; at 100 TB each re-prepare
    * is an extra corpus pass plus its writes). `fitSeq` disambiguates
    * the matrix snapshot names of consecutive fits sharing this
    * scratch dir. */
  final class SgnsPrepared private[Embedding] (
    private[Embedding] val scratch: Scratch,
    private[Embedding] val train: DataFrame,
    private[Embedding] val nodes: DataFrame,
    private[Embedding] val n: Long) {
    private[Embedding] val fitSeq = new java.util.concurrent.atomic.AtomicInteger(0)
  }

  /** Materialize the matrix-independent half of [[sgnsFitMatrices]] —
    * pairs, vocab, negatives (uniform or unigram75), the unioned
    * training relation and its count — for one or more subsequent
    * [[sgnsFitPrepared]] calls. */
  def sgnsPrepare(pairs: DataFrame, aCol: String, bCol: String,
                  negs: Int = 1, negDist: String = "uniform",
                  scratchDir: Option[String] = None): SgnsPrepared = {
    require(negs >= 1 && negs <= 8, s"negs must be in [1,8], got $negs")
    require(negDist == "uniform" || negDist == "unigram75",
      s"negDist must be uniform or unigram75, got $negDist")
    val spark = pairs.sparkSession
    val scratch = new Scratch(spark, "sgnsFit", "graft-sgns", scratchDir)
    import scratch.materialize

    // the pair relation is consumed by FOUR independent actions (vocab,
    // training rows, negative draws, and — weighted mode — the weight
    // table): materialize it once so each consumer is a parquet scan,
    // not a replay of the caller's walk/skip-gram/subsample lineage
    // (guide §5 — reuse beats recompute; at 100 TB this is the
    // difference between one corpus pass and four)
    val pos = materialize(
      pairs.select(col(aCol).as("__c"), col(bCol).as("__x")), "pairs")
    val nodes = materialize(
      pos.select(col("__c").as("node"))
        .union(pos.select(col("__x").as("node"))).distinct(), "nodes")
    // vocab-sized dense index — the deterministic negative-draw table
    val indexed = DetRandom.denseIndex(nodes, "node")
      .select(col("node").as("__neg"), col("idx"))
    // lazy: only the uniform draw divides by vocab size — unigram75
    // prepares without paying this extra count action
    lazy val nvocab = nodes.count()
    val negKey = DetRandom.md5Long48(concat_ws("|",
      col("__c").cast("string"), col("__x").cast("string"),
      col("__j").cast("string")))
    val drawn = pos.select(col("__c"), col("__x"),
      explode(sequence(lit(1), lit(negs))).as("__j"))
    // negatives: per positive pair and j, one md5-keyed node — uniform
    // over the dense index, or weighted by integer inversion of the
    // context-count^0.75 cumulative table
    val negRows = (if (negDist == "uniform")
      drawn.withColumn("idx", pmod(negKey, lit(nvocab))).join(indexed, "idx")
    else {
      val cum = materialize(weightTable(pos, indexed), "negwt")
      val agg = cum.agg(
        sum(col("__wq").cast(org.apache.spark.sql.types.DecimalType(38, 0)))
          .as("w"), count(lit(1)).as("nv")).first()
      val total = Option(agg.getAs[java.math.BigDecimal](0))
        .fold(0L)(_.longValueExact())
      require(total > 0, "unigram75 weights are empty")
      // the draw is a 48-bit md5 fold mod total: past 2^48 the modulo
      // degenerates (high-cum nodes silently get probability 0) — fail
      // loud; to raise the ceiling, widen the fold, never the comment
      require(total < (1L << 48),
        s"unigram75 cumulative weight $total exceeds the 48-bit draw space")
      // cell-decomposed interval join: each node's [cum, cum+wq) range
      // explodes into ~wq/G coarse cells (G sized so the cell table is
      // ~5x vocab), draws equi-join their cell and filter to the exact
      // interval — the distributed inverted-CDF, no range join. All
      // operands < 2^48, so the long→double division quotients are exact
      val g = math.max(total / math.max(4L * agg.getLong(1), 1L), 1L)
      val cells = cum.select(col("__neg"), col("__cum"), col("__wq"),
        explode(sequence((col("__cum") / lit(g)).cast("long"),
          ((col("__cum") + col("__wq") - 1) / lit(g)).cast("long")))
          .as("__cell"))
      drawn.withColumn("__u", negKey % lit(total))
        .withColumn("__cell", (col("__u") / lit(g)).cast("long"))
        .join(cells, "__cell")
        .where(col("__u") >= col("__cum") &&
          col("__u") < col("__cum") + col("__wq"))
    }).select(col("__c"), col("__neg").as("__x"), lit(0.0).as("__y"))
    // no synthetic pair id: the per-pair score is computed IN-ROW (an
    // exact decimal fold over the dim axis — see the iteration), so a
    // training row never needs a join-back key, duplicate (c, x, y)
    // rows each carry their own gradient term through the aggregates,
    // and the old row_number window + md5 pid (a full shuffle + sort of
    // the training relation, plus ~80 bytes/row of shuffle key) are
    // gone (guide §2.3/§2.4 — the oracle's pid grouping computes the
    // same per-pair sums over the same exact decimals)
    val train = materialize(
      pos.select(col("__c"), col("__x"), lit(1.0).as("__y"))
        .unionByName(negRows), "train")
    val n = train.count()
    new SgnsPrepared(scratch, train, nodes, n)
  }

  /** The iteration half of [[sgnsFitMatrices]], over a shared
    * [[SgnsPrepared]] state. Because the prepared relations are pure
    * functions of the pair corpus, running this twice over ONE prepare
    * (second run warm-started from the first's matrices) is
    * value-identical to two full fits — EmbeddingSpec pins the
    * equivalence, and q_node2vec2's oracle hash-verifies the composed
    * trajectory cross-engine. */
  def sgnsFitPrepared(prep: SgnsPrepared, dim: Int, iters: Int = 2,
                      lr: Double = 0.5, materializeEvery: Int = 1,
                      initIn: Option[DataFrame] = None,
                      initOut: Option[DataFrame] = None): (DataFrame, DataFrame) = {
    checkFitArgs(dim, iters, materializeEvery)
    val scratch = prep.scratch
    import scratch.{materialize, drop}
    val train = prep.train
    val nodes = prep.nodes
    val n = prep.n
    val fid = prep.fitSeq.incrementAndGet()
    val dims = (1 to dim).map(lit(_))
    // inits are plain md5 projections over the (materialized) node
    // relation — no snapshot needed; consumers recompute a map, not a
    // shuffle
    def init(side: String): DataFrame =
      nodes.select(col("node"), explode(array(dims: _*)).as("pos"))
        .select(col("node"), col("pos"),
          q9(initVal(col("node"), col("pos"), side)).as("v"))
    // warm start: vocab cells present in the given matrix take its
    // value VERBATIM — re-applying q9 here would NOT be a no-op
    // (floor(v·1e9) can fall one grid step on a stored double whose
    // v·1e9 lands just under the integer), and exact continuation
    // requires iteration k+1 to read exactly what iteration k wrote —
    // while NEW nodes/dims fall back to the md5 grid (already q9'd
    // inside init)
    def withInit(side: String, given: Option[DataFrame]): DataFrame =
      given.fold(init(side)) { m =>
        // a duplicated (node, pos) cell would FAN OUT the left join and
        // double-count every downstream gradient sum with no error —
        // fail loud instead (one matrix-sized aggregate, cheap next to
        // the fit); stored snapshots are unique by construction, this
        // catches hand-unioned inputs
        val a = m.agg(count(lit(1)).as("n"),
          count_distinct(col("node"), col("pos")).as("d")).first()
        require(a.getLong(0) == a.getLong(1),
          s"init $side matrix has duplicate (node, pos) rows")
        init(side).join(m.select(col("node"), col("pos"),
            col("v").as("__iv")), Seq("node", "pos"), "left")
          .select(col("node"), col("pos"),
            coalesce(col("__iv"), col("v")).as("v"))
      }
    var vin = withInit("in", initIn)
    var vout = withInit("out", initOut)
    var lastSnap = Option.empty[Int]
    val pendingScopes =
      scala.collection.mutable.ArrayBuffer.empty[CacheScope]

    // pivot a long-form matrix to (node, array v ordered by pos) — a
    // vocab-sized aggregate (the [[Similarity]] centroidVectors trick)
    def toArr(m: DataFrame, key: String, out: String): DataFrame =
      m.groupBy(col("node").as(key))
        .agg(transform(array_sort(collect_list(struct(col("pos"), col("v")))),
          s => s.getField("v")).as(out))

    var k = 1
    while (k <= iters) {
      // per-pair score IN-ROW: both embedding vectors attach as arrays
      // (two vocab-sized joins), z folds over the dim axis as exact
      // DECIMAL(38,18) — the identical product/cast/sum terms the old
      // per-(pair, dim) groupBy computed, associated in pos order
      // (decimal addition is exact, so the value is bit-identical) —
      // and g = σ(z) − y rides the same row. This removes, per
      // iteration, the pair×dim shuffle of the pid groupBy AND the
      // pid join-back shuffle AND the cached pair×dim relation
      // (guide §2.4): the only corpus-sized exchanges left are the two
      // gradient aggregates themselves.
      val z = aggregate(
        zip_with(col("__va"), col("__vb"), (a, b) => (a * b).cast(dec)),
        lit(0).cast(dec), (acc, t) => (acc + t).cast(dec)).cast("double")
      val contrib = train
        .join(toArr(vin, "__c", "__va"), Seq("__c"))
        .join(toArr(vout, "__x", "__vb"), Seq("__x"))
        .select(col("__c"), col("__x"),
          (lit(1.0) / (lit(1.0) + exp(-z)) - col("__y")).as("__g"),
          posexplode(arrays_zip(col("__va"), col("__vb")))
            .as(Seq("__p0", "__vv")))
        .select(col("__c"), col("__x"), col("__g"),
          (col("__p0") + 1).as("pos"),
          col("__vv.__va").as("__vi"), col("__vv.__vb").as("__vo"))
      // BOTH gradients in ONE corpus pass: each contrib row explodes
      // into its center-side and context-side term rows, and one
      // (side, node, pos) aggregate replaces the separate gin/gout
      // aggregates — the vin and vout consumers each used to replay the
      // whole contrib subtree (train scan + two pivots + sigmoid), i.e.
      // two corpus passes per iteration where one suffices (guide §1.2
      // / §2.4). Terms cast to decimal BEFORE the explode, and decimal
      // addition is exact and commutative, so each side's sums are
      // bit-identical to the two-aggregate form. The aggregate result
      // is vocab×dim×2-sized — cached for the iteration so the corpus
      // pass runs once however many downstream actions read it.
      val sided = contrib.select(explode(array(
          struct(lit(0).as("__side"), col("__c").as("node"), col("pos"),
            (col("__g") * col("__vo")).cast(dec).as("__t")),
          struct(lit(1).as("__side"), col("__x").as("node"), col("pos"),
            (col("__g") * col("__vi")).cast(dec).as("__t")))).as("__e"))
        .select(col("__e.__side").as("__side"), col("__e.node").as("node"),
          col("__e.pos").as("pos"), col("__e.__t").as("__t"))
      val iterScope = new CacheScope()
      val grads = iterScope.cache(
        sided.groupBy("__side", "node", "pos")
          .agg(sum(col("__t")).cast("double").as("__gr")))
      def side(s: Int): DataFrame = grads.where(col("__side") === s)
        .select(col("node"), col("pos"), col("__gr"))
      val vinU = vin.join(side(0), Seq("node", "pos"), "left")
        .select(col("node"), col("pos"),
          q9(col("v") - lit(lr) * coalesce(col("__gr"), lit(0.0)) / n)
            .as("v"))
      val voutU = vout.join(side(1), Seq("node", "pos"), "left")
        .select(col("node"), col("pos"),
          q9(col("v") - lit(lr) * coalesce(col("__gr"), lit(0.0)) / n)
            .as("v"))
      pendingScopes += iterScope
      if (k % materializeEvery == 0 || k == iters) {
        vin = materialize(vinU, s"f${fid}_vin$k")
        vout = materialize(voutU, s"f${fid}_vout$k")
        lastSnap.foreach { p => drop(s"f${fid}_vin$p"); drop(s"f${fid}_vout$p") }
        lastSnap = Some(k)
        // the snapshot's writes were the actions all open scopes were
        // held for; the parquet re-read cuts the lineage, so every
        // cached subtree (this round's gradient cache and the lazy
        // rounds' since the last snapshot) is now dead weight
        pendingScopes.foreach(_.close())
        pendingScopes.clear()
      } else {
        // lazy round: vin/vout stay the cheap vocab-sized join over the
        // cached gradients — no matrix-level cache needed once the
        // corpus pass behind them is cached (the scope stays open in
        // pendingScopes until the next snapshot's writes land)
        vin = vinU
        vout = voutU
      }
      k += 1
    }
    pendingScopes.foreach(_.close())
    pendingScopes.clear()
    (vin.select(col("node"), col("pos"), col("v")),
      vout.select(col("node"), col("pos"), col("v")))
  }

  /** [[sgnsFit]] as DuckDB CTEs over a CTE `pairs(a, b)` (positives,
    * directed). Emits bodies ending in `vin<iters>(node, pos, v)`;
    * chain a final SELECT after it. Mirrors the Spark side term for
    * term: same dense index, same md5 negative draws, same md5-grid
    * init, DECIMAL(38,18) sums, q9 updates. */
  def sgnsOracleCtes(dim: Int, iters: Int, lr: Double,
                     negs: Int, negDist: String = "uniform",
                     pairsRel: String = "pairs"): String = {
    require(negDist == "uniform" || negDist == "unigram75",
      s"negDist must be uniform or unigram75, got $negDist")
    val di = DetRandom.denseIndexSql("node", "nodes")
    val negKey = DetRandom.md5Long48SqlExpr(
      "CAST(p.a AS VARCHAR) || '|' || CAST(p.b AS VARCHAR) || '|' || CAST(j.j AS VARCHAR)")
    // negative draw: uniform mod over the dense index, or the exact
    // integer inverted-CDF over context-count^0.75 weights (the range
    // join is the oracle's readable twin of the Spark side's
    // cell-decomposed equi-join — same integers, different plan)
    val negCtes = if (negDist == "uniform")
      s"""negd AS (SELECT p.a AS c,
         |    ($negKey) % (SELECT nv FROM nv) AS idx
         |  FROM $pairsRel p, generate_series(1, $negs) j(j)),
         |negr AS (SELECT negd.c, d.node AS x, 0.0 AS y
         |  FROM negd JOIN didx d USING (idx)),""".stripMargin
    else
      s"""ctxw AS (SELECT b AS node, CAST(count(*) AS BIGINT) AS w
         |  FROM $pairsRel GROUP BY b),
         |negwt AS (SELECT d.idx, d.node,
         |    CAST(floor(sqrt(sqrt(CAST(w AS DOUBLE) * w * w)) * 1e6)
         |      AS BIGINT) AS wq
         |  FROM didx d JOIN ctxw USING (node)),
         |negcum AS (SELECT idx, node, wq,
         |    COALESCE(sum(wq) OVER (ORDER BY idx
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS c
         |  FROM negwt),
         |negtot AS (SELECT CAST(sum(wq) AS BIGINT) AS w FROM negwt),
         |negd AS (SELECT p.a AS c,
         |    ($negKey) % (SELECT w FROM negtot) AS u
         |  FROM $pairsRel p, generate_series(1, $negs) j(j)),
         |negr AS (SELECT negd.c, m.node AS x, 0.0 AS y
         |  FROM negd JOIN negcum m
         |    ON negd.u >= m.c AND negd.u < m.c + m.wq),""".stripMargin
    val head =
      s"""nodes AS (SELECT DISTINCT a AS node FROM $pairsRel
         |  UNION SELECT DISTINCT b FROM $pairsRel),
         |didx AS MATERIALIZED ($di),
         |nv AS (SELECT CAST(count(*) AS BIGINT) AS nv FROM nodes),
         |$negCtes
         |train0 AS (SELECT a AS c, b AS x, 1.0 AS y FROM $pairsRel
         |  UNION ALL SELECT c, x, y FROM negr),
         |train AS MATERIALIZED (SELECT
         |    md5(CAST(c AS VARCHAR)) || '|' || md5(CAST(x AS VARCHAR)) || '|' ||
         |      CAST(y AS VARCHAR) || '|' ||
         |      CAST(row_number() OVER (PARTITION BY c, x, y) AS VARCHAR)
         |      AS pid, c, x, y
         |  FROM train0),
         |tn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM train),
         |vin0 AS MATERIALIZED (SELECT node, i AS pos,
         |    floor((${initValSql("node", "i", "in")}) * 1e9) / 1e9 AS v
         |  FROM nodes, generate_series(1, $dim) t(i)),
         |vout0 AS MATERIALIZED (SELECT node, i AS pos,
         |    floor((${initValSql("node", "i", "out")}) * 1e9) / 1e9 AS v
         |  FROM nodes, generate_series(1, $dim) t(i))""".stripMargin
    val steps = (1 to iters).map { k =>
      s"""ex$k AS MATERIALIZED (SELECT t.pid, t.c, t.x, t.y, vi.pos,
         |    vi.v AS vi, vo.v AS vo
         |  FROM train t
         |  JOIN vin${k - 1} vi ON vi.node = t.c
         |  JOIN vout${k - 1} vo ON vo.node = t.x AND vo.pos = vi.pos),
         |sc$k AS MATERIALIZED (SELECT pid,
         |    1.0 / (1.0 + exp(-(CAST(sum(CAST(vi * vo AS DECIMAL(38,18)))
         |      AS DOUBLE)))) - any_value(y) AS g
         |  FROM ex$k GROUP BY pid),
         |gin$k AS (SELECT e.c AS node, e.pos,
         |    CAST(sum(CAST(s.g * e.vo AS DECIMAL(38,18))) AS DOUBLE) AS gr
         |  FROM ex$k e JOIN sc$k s ON e.pid = s.pid GROUP BY e.c, e.pos),
         |gout$k AS (SELECT e.x AS node, e.pos,
         |    CAST(sum(CAST(s.g * e.vi AS DECIMAL(38,18))) AS DOUBLE) AS gr
         |  FROM ex$k e JOIN sc$k s ON e.pid = s.pid GROUP BY e.x, e.pos),
         |vin$k AS MATERIALIZED (SELECT p.node, p.pos,
         |    floor((p.v - $lr * COALESCE(g.gr, 0.0) / tn.n) * 1e9) / 1e9 AS v
         |  FROM vin${k - 1} p LEFT JOIN gin$k g
         |    ON p.node = g.node AND p.pos = g.pos, tn),
         |vout$k AS MATERIALIZED (SELECT p.node, p.pos,
         |    floor((p.v - $lr * COALESCE(g.gr, 0.0) / tn.n) * 1e9) / 1e9 AS v
         |  FROM vout${k - 1} p LEFT JOIN gout$k g
         |    ON p.node = g.node AND p.pos = g.pos, tn)""".stripMargin
    }
    (head +: steps).mkString(",\n")
  }
}
