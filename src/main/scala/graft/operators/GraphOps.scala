package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Link-graph analytics for corpus curation.
  *
  * Web-scale training-data pipelines weight and filter documents by the
  * standing of their source: a domain's rank in the crawl link graph is
  * one of the strongest cheap quality priors (the CommonCrawl-derived
  * corpora all ship host/domain rank tables). This module computes
  * PageRank over an aggregated (src, dst, weight) edge relation with the
  * join-per-iteration shape that scales to billion-node graphs — no
  * driver-resident adjacency, no GraphX dependency, every round is one
  * hash shuffle keyed on node id.
  *
  * Arithmetic is INTEGER nano-units end to end (rank 1.0 = 1e9), the same
  * order-exactness trick as the unigram-LM scorer: per-edge contributions
  * are `(r·w) DIV W` on longs and the damping step is
  * `(1−d)·SCALE + (d_num·inflow) DIV d_den`, so every value is a fixed
  * integer expression tree — bit-identical across engines, partitionings
  * and summation orders, which is what lets a DuckDB oracle replay the
  * iterations exactly. The trade is a deterministic floor at each
  * division (≤1 nano-unit per edge per round) — noise four orders of
  * magnitude below any ranking decision.
  */
object GraphOps {

  /** Nano-unit scale: rank 1.0 ≡ 1e9. */
  val Scale: Long = 1000000000L

  /** Weighted PageRank in exact integer nano-units.
    *
    * Semantics (per iteration, all integer ops):
    * {{{
    *   inflow(v) = Σ over in-edges (s,v,w):  (r(s) * w) DIV W(s)
    *   r'(v)     = (den−num)·Scale DIV den + (num · inflow(v)) DIV den
    * }}}
    * where `W(s)` is s's total out-weight and `num/den` is the damping
    * factor (default 85/100). Nodes = union of edge endpoints, seeded at
    * `Scale` (rank 1.0). Dangling nodes (no out-edges) redistribute
    * their rank mass uniformly over the TELEPORT SUPPORT each round —
    * all nodes for PageRank, the seed set for TrustRank — the standard
    * mass-conserving formulation. The dangling mass `D = Σ r over
    * nodes with no out-edges` falls out of the SAME per-round pass as
    * the inflow (a dangling rank row survives the left join to the
    * edge list with a NULL dst and lands in the NULL group of the one
    * inflow aggregate — the rank relation keeps exactly ONE consumer,
    * so unmaterialized mid-loop iterations never recompute), rides a
    * one-row broadcast back, and each supported node's inflow gains
    * `D DIV |support|` before damping. Total mass is conserved up to
    * the deterministic integer floors (≤1 nano per edge + 2 per node
    * per round — see the conservation spec). Self-loops are dropped
    * (they only slow convergence). Overflow bound:
    * `max_rank · max_edge_weight < 2^63`
    * (≈9.2e18) — with ranks bounded by `n_nodes·Scale` this holds up to
    * ~1e9 weighted edges into a single host; cap per-edge weights (e.g.
    * at 1e6) before calling if the crawl can exceed it.
    *
    * Scale shape: the edge relation aggregates once (one shuffle on
    * (src,dst)), out-weights once more (on src), and each iteration is
    * ONE join of the |nodes|-row rank relation to the edge list (hash
    * shuffle on src — or broadcast when ranks fit) plus a groupBy(dst).
    * Iteration state materializes to scratch parquet exactly like
    * [[Dedup.duplicateClusters]] — lineage stays one-round deep, no
    * block-manager residue, at most two snapshots live at once, and the
    * same non-local-master guard applies (driver-local scratch would
    * silently shear state across executors).
    *
    * `seeds` (one column, node ids) switches to TRUSTRANK (Gyöngyi,
    * Garcia-Molina, Pedersen, VLDB'04): teleport mass lands only on the
    * seed whitelist, so rank becomes trust flowing out of the seeds
    * along links — the "which domains does the trusted core endorse"
    * prior a crawl pipeline combines with raw PageRank. Nodes the seeds
    * cannot reach decay to EXACTLY 0 (integer arithmetic, no epsilon
    * tail); seeds absent from the graph are ignored.
    *
    * @return (node, rank_nano: Long) — rank 1.0 ≡ [[Scale]].
    */
  def pageRankNano(edges: DataFrame, srcCol: String, dstCol: String,
                   weightCol: Column, iters: Int,
                   dampNum: Long = 85L, dampDen: Long = 100L,
                   scratchDir: Option[String] = None,
                   seeds: Option[DataFrame] = None,
                   materializeEvery: Int = 1): DataFrame = {
    require(iters >= 1, "iters must be >= 1")
    require(materializeEvery >= 1, "materializeEvery must be >= 1")
    require(dampNum >= 0 && dampNum <= dampDen && dampDen > 0,
      s"damping $dampNum/$dampDen must be a fraction in [0, 1]")
    val spark = edges.sparkSession
    val scratch = new Scratch(spark, "pageRankNano", "graft-pr", scratchDir)
    import scratch.{materialize, snapshot}

    // one pass: collapse parallel edges, drop self-loops, attach total
    // out-weight — the loop input, so it is materialized once instead of
    // re-deriving two aggregates from the source every round
    val agg = edges
      .where(col(srcCol) =!= col(dstCol))
      .groupBy(col(srcCol).as("src"), col(dstCol).as("dst"))
      .agg(sum(weightCol).cast("long").as("w"))
    val ew = materialize(
      agg.join(agg.groupBy("src").agg(sum("w").as("ow")), "src"), "edges")
    val nodes = materialize(
      ew.select(col("src").as("node"))
        .union(ew.select(col("dst").as("node"))).distinct(), "nodes")

    val teleport = (dampDen - dampNum) * Scale / dampDen // exact when den | Scale
    // TrustRank mode (Gyöngyi, Garcia-Molina, Pedersen, VLDB'04): with a
    // seed set, the teleport mass lands ONLY on seeds — rank becomes
    // trust that flows out of the seed whitelist along links, and an
    // unreachable node's rank decays to exactly 0 (integer arithmetic,
    // no epsilon tail). Seeds not present in the graph are ignored (they
    // have no edges to flow through). The node spine gains one
    // vocabulary-sized left join; everything else is unchanged.
    // the spine carries an EXPLICIT seed flag: inferring seedness from
    // `tele > 0` breaks at dampNum == dampDen (teleport is legitimately
    // 0 and every rank would silently initialize to 0)
    val spine = seeds match {
      case Some(s0) =>
        val s = s0.select(col(s0.columns.head).as("node"), lit(1).as("__seed"))
          .distinct()
        materialize(nodes.join(s, Seq("node"), "left")
          .select(col("node"),
            when(col("__seed").isNotNull, lit(teleport)).otherwise(lit(0L))
              .as("tele"),
            when(col("__seed").isNotNull, lit(1)).otherwise(lit(0))
              .as("is_seed")), "spine")
      case None => nodes.select(col("node"), lit(teleport).as("tele"),
        lit(1).as("is_seed"))
    }
    // seed rank = the node's teleport-only fixed point at iteration 0:
    // Scale for uniform PageRank, Scale·[seed] for TrustRank
    var ranks = seeds match {
      case Some(_) => spine.select(col("node"),
        when(col("is_seed") === 1, lit(Scale)).otherwise(lit(0L)).as("r"))
      case None => nodes.select(col("node"), lit(Scale).as("r"))
    }
    // materializeEvery > 1 lets short runs keep mid-loop iterations in
    // lineage (each rank relation has ONE consumer — the next round's
    // join — so nothing recomputes); the last round always snapshots so
    // the returned relation reads cheap. A 1e9-node/50-iteration run
    // wants the default 1: bounded lineage, bounded replay on task
    // retry. Drops only ever remove a snapshot that a NEWER snapshot
    // has replaced — never one the live lineage still reads.
    // |teleport support| — the uniform-redistribution denominator; a
    // one-row relation so it broadcasts (never a driver-side literal)
    val nSupport = spine.where(col("is_seed") === 1)
      .agg(count(lit(1)).as("__ns"))
    var i = 0
    while (i < iters) {
      // ONE pass over the rank relation computes per-dst inflow AND the
      // dangling mass: a rank row with no out-edges survives the LEFT
      // join with dst NULL and contributes its whole rank to the NULL
      // group — so `ranks` keeps exactly one consumer (the loop
      // invariant materializeEvery > 1 depends on: a second consumer
      // would recompute the unmaterialized lineage once per level), and
      // the two readers of the aggregated relation share its exchange
      // (ReuseExchange) above the expensive subtree.
      val flows = ranks.withColumnRenamed("node", "src")
        .join(ew, Seq("src"), "left")
        .select(col("dst"),
          when(col("dst").isNull, col("r"))
            .otherwise(expr("r * w DIV ow")).as("c"))
        .groupBy("dst").agg(sum("c").as("inflow"))
      val inflow = flows.where(col("dst").isNotNull)
      val dangMass = flows.where(col("dst").isNull)
        .agg(coalesce(sum("inflow"), lit(0L)).as("__dang"))
      val next = spine
        .join(inflow.withColumnRenamed("dst", "node"), Seq("node"), "left")
        .crossJoin(broadcast(dangMass))
        .crossJoin(broadcast(nSupport))
        .select(col("node"),
          (col("tele") +
            expr(s"""$dampNum * (coalesce(inflow, 0L) +
              (CASE WHEN is_seed = 1 AND __ns > 0
                THEN __dang DIV __ns ELSE 0L END)) DIV $dampDen"""))
            .as("r"))
      ranks = snapshot(next, s"iter$i", i, iters, materializeEvery)
      i += 1
    }
    ranks.select(col("node"), col("r").as("rank_nano"))
  }

  /** DuckDB oracle twin of [[pageRankNano]]: the iterations unrolled as
    * CTEs over an edge CTE named `e` with columns (src, dst, w) — self-
    * loops must already be dropped and parallel edges collapsed by the
    * caller's `e`. Integer `//` floor-division matches Spark's `DIV` on
    * the non-negative values here. Emits the WITH-clause bodies from
    * `ew`/`n`/`r0` through `r{iters}`; the caller selects from
    * `r{iters}`. */
  def pageRankNanoOracleCtes(iters: Int, dampNum: Long = 85L,
                             dampDen: Long = 100L,
                             seeded: Boolean = false): String = {
    val teleport = (dampDen - dampNum) * Scale / dampDen
    val spine =
      if (seeded)
        s"""spine AS (SELECT n.node,
           |    CASE WHEN s.node IS NOT NULL THEN CAST($teleport AS BIGINT)
           |      ELSE CAST(0 AS BIGINT) END AS tele,
           |    CASE WHEN s.node IS NOT NULL THEN 1 ELSE 0 END AS is_seed
           |  FROM n LEFT JOIN (SELECT DISTINCT node FROM seeds) s
           |  ON n.node = s.node),
           |r0 AS (SELECT node,
           |    CASE WHEN is_seed = 1 THEN CAST($Scale AS BIGINT)
           |      ELSE CAST(0 AS BIGINT) END AS r FROM spine)""".stripMargin
      else
        s"""spine AS (SELECT node, CAST($teleport AS BIGINT) AS tele,
           |    1 AS is_seed FROM n),
           |r0 AS (SELECT node, CAST($Scale AS BIGINT) AS r FROM n)""".stripMargin
    val head =
      s"""ew AS (SELECT e.src, e.dst, e.w, ow.ow FROM e
         |  JOIN (SELECT src, CAST(sum(w) AS BIGINT) AS ow FROM e GROUP BY src) ow
         |  USING (src)),
         |n AS (SELECT DISTINCT node FROM
         |  (SELECT src AS node FROM e UNION ALL SELECT dst FROM e)),
         |dangn AS (SELECT n.node FROM n
         |  LEFT JOIN (SELECT DISTINCT src FROM e) s ON n.node = s.src
         |  WHERE s.src IS NULL),
         |$spine,
         |ns AS (SELECT CAST(count(*) AS BIGINT) AS ns FROM spine
         |  WHERE is_seed = 1)""".stripMargin
    val rounds = (1 to iters).map { i =>
      s"""i$i AS (SELECT dst, CAST(sum((r * w) // ow) AS BIGINT) AS f
         |  FROM ew JOIN r${i - 1} ON ew.src = r${i - 1}.node GROUP BY dst),
         |d$i AS (SELECT CAST(COALESCE(sum(r), 0) AS BIGINT) AS dang
         |  FROM r${i - 1} JOIN dangn USING (node)),
         |r$i AS (SELECT spine.node,
         |    CAST(spine.tele + ($dampNum * (COALESCE(f, 0) +
         |      CASE WHEN spine.is_seed = 1 AND ns.ns > 0
         |        THEN d$i.dang // ns.ns ELSE 0 END)) // $dampDen AS BIGINT)
         |      AS r
         |  FROM spine LEFT JOIN i$i ON spine.node = i$i.dst, d$i, ns)""".stripMargin
    }
    (head +: rounds).mkString(",\n")
  }

  /** In/out degree + weight profile per node — the companion sanity
    * relation (hub/authority skew, dangling share) a rank table ships
    * with. One shuffle per direction on node id. */
  def degreeStats(edges: DataFrame, srcCol: String, dstCol: String,
                  weightCol: Column): DataFrame = {
    val out = edges.groupBy(col(srcCol).as("node"))
      .agg(count(lit(1)).as("out_deg"), sum(weightCol).cast("long").as("out_w"))
    val in = edges.groupBy(col(dstCol).as("node"))
      .agg(count(lit(1)).as("in_deg"), sum(weightCol).cast("long").as("in_w"))
    out.join(in, Seq("node"), "full_outer")
      .select(col("node"),
        coalesce(col("out_deg"), lit(0L)).as("out_deg"),
        coalesce(col("out_w"), lit(0L)).as("out_w"),
        coalesce(col("in_deg"), lit(0L)).as("in_deg"),
        coalesce(col("in_w"), lit(0L)).as("in_w"))
  }

  /** Weighted HITS (Kleinberg, JACM'99) in exact integer nano-units.
    *
    * Per iteration (all integer ops, values non-negative):
    * {{{
    *   rawA(v) = Σ over in-edges (s,v,w):  hub(s) · w
    *   auth(v) = rawA(v) DIV max(ΣrawA DIV Scale, 1)      // L1 ≈ Scale
    *   rawH(v) = Σ over out-edges (v,d,w): auth(d) · w
    *   hub(v)  = rawH(v) DIV max(ΣrawH DIV Scale, 1)
    * }}}
    * The normalizer is the two-step integer quotient `raw DIV (total DIV
    * Scale)` rather than `raw·Scale DIV total` so every intermediate
    * stays inside int64 (the single-step multiply would need int128);
    * the cost is a deterministic relative coarseness of ~Scale/total per
    * round — identical in both engines, so the oracle replays it
    * bit-exactly. Hubs seed at `Scale`; self-loops are dropped and
    * parallel edges collapse (sum of weights), like [[pageRankNano]].
    * Overflow bound: normalized scores are ≤ ~Scale, so each raw sum is
    * bounded by `Scale · Σw` — keep total edge weight below ~9e9 (cap
    * per-edge weights first if a crawl can exceed it).
    *
    * Scale shape: per iteration, ONE hash join of the node-sized score
    * relation against the edge list (on src, then on dst) plus a
    * groupBy; the L1 total rides a one-row broadcast (crossJoin of a
    * scalar aggregate). Score snapshots materialize to scratch parquet
    * each round — lineage stays one round deep, same non-local-master
    * guard as [[Dedup.duplicateClusters]].
    *
    * @return (node, hub_nano, auth_nano), dense over all endpoints
    *         (nodes with no in-edges get auth 0; no out-edges, hub 0).
    */
  def hitsNano(edges: DataFrame, srcCol: String, dstCol: String,
               weightCol: Column, iters: Int,
               scratchDir: Option[String] = None,
               materializeEvery: Int = 1): DataFrame = {
    require(iters >= 1, "iters must be >= 1")
    require(materializeEvery >= 1, "materializeEvery must be >= 1")
    val spark = edges.sparkSession
    val scratch = new Scratch(spark, "hitsNano", "graft-hits", scratchDir)
    import scratch.{materialize, snapshot}
    val ew = materialize(edges
      .where(col(srcCol) =!= col(dstCol))
      .groupBy(col(srcCol).as("src"), col(dstCol).as("dst"))
      .agg(sum(weightCol).cast("long").as("w")), "edges")
    val nodes = materialize(
      ew.select(col("src").as("node"))
        .union(ew.select(col("dst").as("node"))).distinct(), "nodes")

    // score relations stay SPARSE through the loop (missing node = 0,
    // which inner joins encode for free); densify only at the end
    def normalize(raw: DataFrame, out: String): DataFrame = {
      val tot = raw.agg(coalesce(sum("raw"), lit(0L)).as("__tot"))
      raw.crossJoin(broadcast(tot))
        .select(col("node"),
          expr(s"raw DIV greatest(__tot DIV $Scale, 1L)").as(out))
    }
    // mid-loop auth has ONE consumer (the hub update) so it only needs
    // a snapshot on the LAST round, where the final dense join consumes
    // it a second time; hub snapshots follow materializeEvery like
    // pageRankNano (last round always snapshots)
    var hub = nodes.select(col("node"), lit(Scale).as("h"))
    var auth: DataFrame = null
    var i = 0
    while (i < iters) {
      val rawA = ew.join(hub.withColumnRenamed("node", "src"), "src")
        .select(col("dst").as("node"), expr("h * w").as("c"))
        .groupBy("node").agg(sum("c").as("raw"))
      val authDf = normalize(rawA, "a")
      auth = if (i == iters - 1) materialize(authDf, s"auth$i") else authDf
      val rawH = ew.join(auth.withColumnRenamed("node", "dst"), "dst")
        .select(col("src").as("node"), expr("a * w").as("c"))
        .groupBy("node").agg(sum("c").as("raw"))
      val hubDf = normalize(rawH, "h")
      hub = snapshot(hubDf, s"hub$i", i, iters, materializeEvery)
      i += 1
    }
    nodes
      .join(hub, Seq("node"), "left")
      .join(auth, Seq("node"), "left")
      .select(col("node"),
        coalesce(col("h"), lit(0L)).as("hub_nano"),
        coalesce(col("a"), lit(0L)).as("auth_nano"))
  }

  /** DuckDB oracle twin of [[hitsNano]]: iterations unrolled as CTEs
    * over an edge CTE named `e` (src, dst, w) — self-loops dropped and
    * parallel edges collapsed by the caller. Emits bodies `n`, `h0`,
    * `a1`/`h1` … `a{iters}`/`h{iters}`; the caller left-joins `n` with
    * `h{iters}`/`a{iters}` and coalesces to 0. */
  def hitsNanoOracleCtes(iters: Int): String = {
    val head =
      s"""n AS (SELECT DISTINCT node FROM
         |  (SELECT src AS node FROM e UNION ALL SELECT dst FROM e)),
         |h0 AS (SELECT node, CAST($Scale AS BIGINT) AS h FROM n)""".stripMargin
    val rounds = (1 to iters).map { i =>
      s"""a${i}r AS (SELECT dst AS node, CAST(sum(h * w) AS BIGINT) AS raw
         |  FROM e JOIN h${i - 1} ON e.src = h${i - 1}.node GROUP BY dst),
         |a$i AS (SELECT node, CAST(raw // GREATEST(
         |    (SELECT COALESCE(sum(raw), 0) FROM a${i}r) // $Scale, 1) AS BIGINT) AS a
         |  FROM a${i}r),
         |h${i}r AS (SELECT src AS node, CAST(sum(a * w) AS BIGINT) AS raw
         |  FROM e JOIN a$i ON e.dst = a$i.node GROUP BY src),
         |h$i AS (SELECT node, CAST(raw // GREATEST(
         |    (SELECT COALESCE(sum(raw), 0) FROM h${i}r) // $Scale, 1) AS BIGINT) AS h
         |  FROM h${i}r)""".stripMargin
    }
    (head +: rounds).mkString(",\n")
  }

  /** Synchronous label propagation (Raghavan et al. 2007) with a
    * DETERMINISTIC tie-break — the cheap community detector a curation
    * pipeline runs over the host graph to find mutually-linking cliques
    * (mirror farms, link rings) that per-domain caps miss.
    *
    * The graph is undirected: each aggregated directed edge contributes
    * its weight to both endpoints' neighbor lists. Every node starts
    * labeled with its own id; each synchronous round relabels every node
    * with the neighbor label of maximum total incident weight, ties
    * broken by SMALLEST label (binary string order) — no RNG, no
    * arrival-order dependence, so a SQL oracle replays rounds exactly.
    * Classic LPA caveat: synchronous updates can oscillate on bipartite
    * structures; run an odd+even `iters` pair and compare if that
    * matters for the graph at hand.
    *
    * Scale shape: one edge aggregation up front, then per round ONE join
    * of the node-sized label relation to the neighbor list (hash shuffle
    * on node id) + a groupBy(node, label) + a per-node window argmax —
    * the window partitions on node id (full cardinality, no skew beyond
    * degree skew, which the weight aggregation already collapsed to one
    * row per (node, label)). Labels materialize to scratch parquet per
    * round like [[pageRankNano]].
    *
    * @return (node, community) where community is a node id (label).
    */
  def labelPropagation(edges: DataFrame, srcCol: String, dstCol: String,
                       weightCol: Column, iters: Int,
                       scratchDir: Option[String] = None,
                       materializeEvery: Int = 1): DataFrame = {
    require(iters >= 1, "iters must be >= 1")
    require(materializeEvery >= 1, "materializeEvery must be >= 1")
    val spark = edges.sparkSession
    val scratch = new Scratch(spark, "labelPropagation", "graft-lpa", scratchDir)
    import scratch.{materialize, snapshot}
    import org.apache.spark.sql.expressions.Window
    val dir0 = edges.where(col(srcCol) =!= col(dstCol))
      .select(col(srcCol).as("node"), col(dstCol).as("nbr"),
        weightCol.cast("long").as("w"))
    val und = materialize(
      dir0.union(dir0.select(col("nbr"), col("node"), col("w")))
        .groupBy("node", "nbr").agg(sum("w").as("w")), "und")
    var labels = und.select(col("node")).distinct()
      .select(col("node"), col("node").as("lbl"))
    var i = 0
    while (i < iters) {
      val votes = und
        .join(labels.select(col("node").as("nbr"), col("lbl")), "nbr")
        .groupBy("node", "lbl").agg(sum("w").as("v"))
      val win = Window.partitionBy("node").orderBy(desc("v"), asc("lbl"))
      val next = votes
        .withColumn("__rn", row_number().over(win))
        .where(col("__rn") === 1)
        .select(col("node"), col("lbl"))
      labels = snapshot(next, s"lbl$i", i, iters, materializeEvery)
      i += 1
    }
    labels.select(col("node"), col("lbl").as("community"))
  }

  /** DuckDB oracle twin of [[labelPropagation]]: rounds unrolled as CTEs
    * over an edge CTE named `e` (src, dst, w) with self-loops dropped.
    * Emits bodies `und`, `l0` … `l{iters}`; caller selects from
    * `l{iters}` (node, lbl). */
  def labelPropagationOracleCtes(iters: Int): String = {
    val head =
      s"""d0 AS (SELECT src AS node, dst AS nbr, w FROM e
         |  UNION ALL SELECT dst, src, w FROM e),
         |und AS (SELECT node, nbr, CAST(sum(w) AS BIGINT) AS w
         |  FROM d0 GROUP BY node, nbr),
         |l0 AS (SELECT DISTINCT node, node AS lbl FROM und)""".stripMargin
    val rounds = (1 to iters).map { i =>
      s"""v$i AS (SELECT und.node, l${i - 1}.lbl, CAST(sum(und.w) AS BIGINT) AS v
         |  FROM und JOIN l${i - 1} ON und.nbr = l${i - 1}.node
         |  GROUP BY und.node, l${i - 1}.lbl),
         |l$i AS (SELECT node, lbl FROM (
         |    SELECT node, lbl,
         |      row_number() OVER (PARTITION BY node ORDER BY v DESC, lbl ASC) AS rn
         |    FROM v$i) WHERE rn = 1)""".stripMargin
    }
    (head +: rounds).mkString(",\n")
  }

  /** Per-node triangle counts via DEGREE-ORDERED edge orientation
    * (Chiba–Nishizeki / the "compact-forward" join shape) — the triangle
    * relation behind clustering-coefficient spam signals (TrustRank's
    * companion heuristic: organic link neighborhoods close triangles,
    * bot farms are stars or rings).
    *
    * The directed input collapses to an undirected simple graph
    * (self-loops dropped, parallel/reciprocal edges merged). Each edge
    * orients low→high under the strict total order (degree, id), so
    * every triangle is counted EXACTLY once as a wedge at its
    * lowest-order corner closed by one oriented edge. That ordering is
    * the scale story: out-degree under degree orientation is bounded by
    * O(√m) on any graph (arboricity bound), so the wedge join explodes
    * a 1e9-edge power-law graph into O(m^1.5)-bounded work rather than
    * Σdeg² — the difference between a day and an impossibility at crawl
    * scale; the two joins shuffle on node id only.
    *
    * @return (node, degree, triangles), dense over all endpoints.
    */
  def triangleCounts(edges: DataFrame, srcCol: String, dstCol: String): DataFrame = {
    val und = edges.where(col(srcCol) =!= col(dstCol))
      .select(least(col(srcCol), col(dstCol)).as("a"),
        greatest(col(srcCol), col(dstCol)).as("b"))
      .distinct()
    val deg = und.select(col("a").as("node"))
      .union(und.select(col("b").as("node")))
      .groupBy("node").agg(count(lit(1)).as("deg"))
    // orient low→high under (deg, id); carry the head's order key so the
    // wedge join can keep its two spokes ordered without re-joining deg
    val o = und
      .join(deg.select(col("node").as("a"), col("deg").as("da")), "a")
      .join(deg.select(col("node").as("b"), col("deg").as("db")), "b")
      .select(
        when(struct(col("da").as("d"), col("a").as("n")) <
            struct(col("db").as("d"), col("b").as("n")),
          struct(col("a").as("u"), col("b").as("v"), col("db").as("dv")))
          .otherwise(
            struct(col("b").as("u"), col("a").as("v"), col("da").as("dv")))
          .as("e"))
      .select(col("e.u").as("u"), col("e.v").as("v"), col("e.dv").as("dv"))
    val wedges = o.as("e1").join(o.as("e2"),
        col("e1.u") === col("e2.u") &&
          struct(col("e1.dv"), col("e1.v")) < struct(col("e2.dv"), col("e2.v")))
      .select(col("e1.u").as("p"), col("e1.v").as("x"), col("e2.v").as("y"))
    // closure edge x→y is oriented exactly this way: (x, y) respects the
    // same total order the wedge join used
    val tris = wedges.join(o.select(col("u").as("x"), col("v").as("y")),
      Seq("x", "y"), "left_semi")
    // ONE consumer of the wedge join: exploding the three corners keeps
    // the m^1.5 subtree from being recomputed per corner (a 3-way union
    // of selects would scan it three times — no cache, no reuse)
    val perNode = tris
      .select(explode(array(col("p"), col("x"), col("y"))).as("node"))
      .groupBy("node").agg(count(lit(1)).as("triangles"))
    deg.join(perNode, Seq("node"), "left")
      .select(col("node"), col("deg"),
        coalesce(col("triangles"), lit(0L)).as("triangles"))
  }

  /** k-core peeling (Seidman 1983): iteratively drop nodes with degree
    * < k in the undirected simple graph until the remainder is the
    * k-core — the dense sub-crawl where every host links to/from ≥ k
    * peers, the standard "organic web vs periphery" cut (and, on
    * bipartite user×host graphs, a collusion-detection primitive).
    *
    * Runs `rounds` SYNCHRONOUS peel rounds (each recomputes degrees on
    * the surviving induced subgraph and drops every node below k at
    * once); the result is the exact k-core whenever some round removes
    * nothing — peeling is monotone, so `rounds` only ever truncates the
    * tail of the fixpoint iteration, never overshoots. Pick rounds ≥
    * the graph's degeneracy diameter (log-ish in practice; each round
    * is cheap) or verify convergence by comparing rounds/rounds+1.
    *
    * Scale shape: per round, two hash joins of the shrinking active-node
    * relation onto the edge list + one degree aggregate — all keyed on
    * node id; the active set materializes to scratch parquet per round
    * ([[pageRankNano]]'s lineage discipline). Nothing is ever
    * driver-resident.
    *
    * @return survivors after `rounds` peels: (node, deg) with deg ≥ k
    *         measured in the FINAL induced subgraph.
    */
  def kCore(edges: DataFrame, srcCol: String, dstCol: String,
            k: Int, rounds: Int,
            scratchDir: Option[String] = None): DataFrame = {
    require(k >= 1, "k must be >= 1")
    require(rounds >= 1, "rounds must be >= 1")
    val spark = edges.sparkSession
    val scratch = new Scratch(spark, "kCore", "graft-kcore", scratchDir)
    import scratch.{materialize, drop}
    val und = materialize(edges.where(col(srcCol) =!= col(dstCol))
      .select(least(col(srcCol), col(dstCol)).as("a"),
        greatest(col(srcCol), col(dstCol)).as("b"))
      .distinct(), "und")
    var active = und.select(col("a").as("node"))
      .union(und.select(col("b").as("node"))).distinct()
    var lastDeg: DataFrame = null
    var i = 0
    while (i < rounds) {
      val er = und
        .join(active.select(col("node").as("a")), Seq("a"), "left_semi")
        .join(active.select(col("node").as("b")), Seq("b"), "left_semi")
      lastDeg = materialize(
        er.select(col("a").as("node")).union(er.select(col("b").as("node")))
          .groupBy("node").agg(count(lit(1)).as("deg"))
          .where(col("deg") >= k), s"core$i")
      if (i > 0) drop(s"core${i - 1}")
      active = lastDeg.select("node")
      i += 1
    }
    lastDeg.select(col("node"), col("deg"))
  }

  /** Co-visitation projection of a bipartite (key, item) relation onto
    * items: for every item pair sharing a key, the number of shared
    * keys — the host-host "visited together" graph (crawl curation),
    * and exactly the item-item co-occurrence matrix of collaborative
    * filtering.
    *
    * The quadratic is BOUNDED by construction: each key contributes at
    * most `maxPerKey` distinct items (a deterministic md5-ordered cap —
    * same stable pseudo-random order as [[Sampling]] / per-domain caps,
    * so the kept subset is reproducible and engine-replayable), so
    * per-key pair fan-out is ≤ C(maxPerKey, 2) regardless of how
    * promiscuous a key is. A power user who touched 50k hosts
    * contributes the same bounded sample as everyone else instead of
    * 1.25e9 pairs — the mega-key relief valve every co-occurrence job
    * needs at crawl scale (cap hit rate is auditable: compare
    * `count(distinct item) per key` against `maxPerKey` upstream).
    *
    * Scale shape: one distinct aggregate on (key, item), one window
    * row_number keyed on the FULL key cardinality, one self-join on key
    * (shuffle both sides on key; AQE handles residual skew), one pair
    * count aggregate. Nothing driver-resident.
    *
    * @return (item_a, item_b, n) with item_a < item_b.
    */
  def coVisitation(rel: DataFrame, keyCol: String, itemCol: String,
                   maxPerKey: Int): DataFrame =
    cappedPairs(cappedItems(rel, keyCol, itemCol, maxPerKey))

  /** The md5-capped distinct (k, item) relation both co-visitation
    * faces share. */
  private def cappedItems(rel: DataFrame, keyCol: String, itemCol: String,
                          maxPerKey: Int): DataFrame = {
    require(maxPerKey >= 2, "maxPerKey must be >= 2")
    import org.apache.spark.sql.expressions.Window
    val d = rel.select(col(keyCol).as("k"), col(itemCol).as("item")).distinct()
    val w = Window.partitionBy("k")
      .orderBy(md5(col("item").cast("string")), col("item"))
    d.withColumn("__rn", row_number().over(w))
      .where(col("__rn") <= maxPerKey)
      .select(col("k"), col("item"))
  }

  private def cappedPairs(capped: DataFrame): DataFrame =
    capped.as("a").join(capped.as("b"),
        col("a.k") === col("b.k") && col("a.item") < col("b.item"))
      .groupBy(col("a.item").as("item_a"), col("b.item").as("item_b"))
      .agg(count(lit(1)).as("n"))

  /** [[coVisitation]] normalized to LIFT: n_ab·N / (n_a·n_b), the
    * co-occurrence strength relative to independence (lift > 1 = the
    * pair co-occurs more than its items' popularities predict) — raw
    * counts just rank popular×popular pairs first, which is why every
    * association-rule / item-item recommender thresholds on lift (or
    * its log, PMI). Margins and the key total come from the SAME capped
    * relation as the pairs, so the ratio is internally consistent under
    * the mega-key cap (uncapped margins would deflate every hub item's
    * lift).
    *
    * Extra cost over the pair count: one item-keyed margin aggregate
    * (item-vocabulary-sized) joined back onto the pairs by item — the
    * pair relation shuffles on item, the margins are model-sized — and
    * a one-row key-count broadcast. `minSupport` prunes noise pairs
    * BEFORE the margin joins carry them.
    *
    * @return (item_a, item_b, n, lift), item_a < item_b. */
  def coVisitationLift(rel: DataFrame, keyCol: String, itemCol: String,
                       maxPerKey: Int, minSupport: Long = 1L): DataFrame = {
    val capped = cappedItems(rel, keyCol, itemCol, maxPerKey)
    val pairs = cappedPairs(capped).where(col("n") >= minSupport)
    val margins = capped.groupBy("item").agg(count(lit(1)).as("nk"))
    val total = capped.agg(countDistinct(col("k")).as("nkeys"))
    pairs
      .join(margins.select(col("item").as("item_a"), col("nk").as("__na")),
        Seq("item_a"))
      .join(margins.select(col("item").as("item_b"), col("nk").as("__nb")),
        Seq("item_b"))
      .crossJoin(broadcast(total))
      .select(col("item_a"), col("item_b"), col("n"),
        ((col("n").cast("double") * col("nkeys")) /
          (col("__na").cast("double") * col("__nb"))).as("lift"))
  }

  /** DuckDB oracle twin of [[coVisitation]] over a CTE named `rel`
    * with columns (k, item). Emits bodies through `pairs`; the caller
    * selects (item_a, item_b, n) from `pairs`. */
  def coVisitationOracleCtes(maxPerKey: Int): String =
    s"""d AS (SELECT DISTINCT k, item FROM rel),
       |capped AS (SELECT k, item FROM (
       |    SELECT k, item, row_number() OVER (PARTITION BY k
       |      ORDER BY md5(CAST(item AS VARCHAR)), item) AS rn
       |    FROM d) WHERE rn <= $maxPerKey),
       |pairs AS (SELECT a.item AS item_a, b.item AS item_b,
       |    CAST(count(*) AS BIGINT) AS n
       |  FROM capped a JOIN capped b
       |    ON a.k = b.k AND a.item < b.item
       |  GROUP BY a.item, b.item)""".stripMargin

  /** DuckDB oracle twin of [[coVisitationLift]] — extends
    * [[coVisitationOracleCtes]] with margins/total over the same capped
    * relation. Emits bodies through `lifted`; the caller selects
    * (item_a, item_b, n, lift) from `lifted`. */
  def coVisitationLiftOracleCtes(maxPerKey: Int, minSupport: Long): String =
    s"""${coVisitationOracleCtes(maxPerKey)},
       |margins AS (SELECT item, CAST(count(*) AS BIGINT) AS nk
       |  FROM capped GROUP BY item),
       |tot AS (SELECT CAST(count(DISTINCT k) AS BIGINT) AS nkeys FROM capped),
       |lifted AS (SELECT item_a, item_b, n,
       |    (CAST(n AS DOUBLE) * nkeys) / (CAST(ma.nk AS DOUBLE) * mb.nk)
       |      AS lift
       |  FROM pairs JOIN margins ma ON pairs.item_a = ma.item
       |    JOIN margins mb ON pairs.item_b = mb.item, tot
       |  WHERE n >= $minSupport)""".stripMargin

  /** DuckDB oracle twin of [[kCore]]: peel rounds unrolled as CTEs over
    * an edge CTE named `e0` with raw directed (src, dst). Emits bodies
    * through `d{rounds}`; the caller selects (node, deg) from
    * `d{rounds}`. */
  def kCoreOracleCtes(k: Int, rounds: Int): String = {
    val head =
      """und AS (SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
        |  FROM e0 WHERE src <> dst),
        |a0 AS (SELECT DISTINCT node FROM
        |  (SELECT a AS node FROM und UNION ALL SELECT b FROM und))""".stripMargin
    val peels = (1 to rounds).map { i =>
      s"""e$i AS (SELECT und.a, und.b FROM und
         |  JOIN a${i - 1} x ON und.a = x.node
         |  JOIN a${i - 1} y ON und.b = y.node),
         |d$i AS (SELECT node, CAST(count(*) AS BIGINT) AS deg FROM
         |    (SELECT a AS node FROM e$i UNION ALL SELECT b FROM e$i)
         |  GROUP BY node HAVING count(*) >= $k),
         |a$i AS (SELECT node FROM d$i)""".stripMargin
    }
    (head +: peels).mkString(",\n")
  }

  /** DeepWalk-style random-walk corpus over a directed graph — the
    * sequence generator graph-embedding training feeds on (Perozzi et
    * al., KDD'14: truncated walks become "sentences" for a skip-gram
    * trainer; node2vec's p=q=1 case). Walks here are DETERMINISTIC,
    * not sampled: step `t` of walk `w` moves to the out-neighbor
    * minimizing `md5(w || '|' || t || '|' || dst)` — an md5-keyed
    * uniform choice that is reproducible across runs, partitionings
    * and engines (the [[graft.operators.Sampling]] trick applied to
    * transition choice), so a DuckDB oracle can replay every step
    * exactly and a re-run of a 100 TB corpus job emits byte-identical
    * shards. `walksPerNode` replicas start from every node with at
    * least one out-edge (`walk_id = node || '#' || replica`; the
    * replica index salts the hash so replicas diverge); a walk that
    * reaches a dangling node truncates — the standard DeepWalk
    * treatment.
    *
    * Scale shape: the edge relation dedups once (one shuffle), then
    * each step is ONE hash join of the |walks|-row frontier against
    * the edge list (broadcast when the frontier fits) plus a min-struct
    * aggregate per walk — never a per-walk driver loop, never an
    * all-neighbors explode beyond the frontier's adjacency. Frontier
    * state snapshots to scratch parquet every `materializeEvery` steps
    * ([[pageRankNano]]'s lineage-cut discipline) — with the default 1,
    * the final union reads each step's snapshot once instead of
    * recomputing an O(steps²) join prefix.
    *
    * @return (walk_id: String, step: Int, node) — long form, one row
    *         per visited node, step 0 = the start node.
    */
  def deterministicWalks(edges: DataFrame, srcCol: String, dstCol: String,
                         steps: Int, walksPerNode: Int = 1,
                         scratchDir: Option[String] = None,
                         materializeEvery: Int = 1): DataFrame = {
    require(steps >= 1, "steps must be >= 1")
    require(walksPerNode >= 1, "walksPerNode must be >= 1")
    require(materializeEvery >= 1, "materializeEvery must be >= 1")
    val spark = edges.sparkSession
    val scratch = new Scratch(spark, "deterministicWalks", "graft-walks", scratchDir)
    import scratch.materialize
    val e = materialize(edges.where(col(srcCol) =!= col(dstCol))
      .select(col(srcCol).as("__src"), col(dstCol).as("__dst"))
      .distinct(), "edges")
    val replicas = explode(sequence(lit(0), lit(walksPerNode - 1))).as("__i")
    val starts = materialize(
      e.select(col("__src").as("node")).distinct()
        .select(col("node"), replicas)
        .select(concat(col("node").cast("string"), lit("#"),
          col("__i").cast("string")).as("walk_id"), col("node")),
      "w0")
    var state = starts
    val outs = scala.collection.mutable.ArrayBuffer[DataFrame](
      starts.select(col("walk_id"), lit(0).as("step"), col("node")))
    var t = 1
    while (t <= steps) {
      // one candidate row per (walk, out-neighbor); the min-struct picks
      // the md5-smallest neighbor with the neighbor itself as the
      // (collision-proof) tiebreak — same total order the oracle's
      // row_number() OVER (ORDER BY md5, dst) walks
      val next = state.join(e, state("node") === e("__src"))
        .select(col("walk_id"), struct(
          md5(concat_ws("|", col("walk_id"), lit(t.toString),
            col("__dst").cast("string"))).as("h"),
          col("__dst").as("d")).as("__c"))
        .groupBy("walk_id").agg(min(col("__c")).as("__m"))
        .select(col("walk_id"), col("__m.d").as("node"))
      state =
        if (t % materializeEvery == 0 || t == steps)
          materialize(next, s"w$t")
        else next
      outs += state.select(col("walk_id"), lit(t).as("step"), col("node"))
      t += 1
    }
    outs.reduce(_.unionByName(_))
  }

  /** DuckDB oracle twin of [[deterministicWalks]]: steps unrolled as
    * CTEs over an edge CTE named `e` with DISTINCT (src, dst),
    * self-loops already dropped. Emits bodies through `walks`
    * (walk_id, step, node); the caller selects from `walks`. */
  def deterministicWalksOracleCtes(steps: Int, walksPerNode: Int): String = {
    val reps = (0 until walksPerNode).map(i => s"($i)").mkString(", ")
    val head =
      s"""reps(i) AS (VALUES $reps),
         |w0 AS (SELECT CAST(src AS VARCHAR) || '#' || CAST(i AS VARCHAR)
         |      AS walk_id, src AS node
         |  FROM (SELECT DISTINCT src FROM e), reps)""".stripMargin
    val stepCtes = (1 to steps).map { t =>
      s"""w$t AS (SELECT walk_id, dst AS node FROM (
         |    SELECT s.walk_id, e.dst,
         |      row_number() OVER (PARTITION BY s.walk_id
         |        ORDER BY md5(s.walk_id || '|$t|' || CAST(e.dst AS VARCHAR)),
         |          e.dst) AS rn
         |    FROM w${t - 1} s JOIN e ON e.src = s.node) WHERE rn = 1)""".stripMargin
    }
    val unions = (0 to steps)
      .map(t => s"SELECT walk_id, $t AS step, node FROM w$t")
      .mkString("\n  UNION ALL ")
    ((head +: stepCtes) :+ s"walks AS (${unions})").mkString(",\n")
  }

  /** DuckDB oracle twin of [[triangleCounts]] over an edge CTE named
    * `e0` with RAW directed columns (src, dst). Emits bodies through
    * `tri`; the caller aggregates per node (see q_triangles). */
  def triangleCountsOracleCtes: String =
    """und AS (SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
      |  FROM e0 WHERE src <> dst),
      |deg AS (SELECT node, CAST(count(*) AS BIGINT) AS deg FROM
      |  (SELECT a AS node FROM und UNION ALL SELECT b FROM und) GROUP BY node),
      |o AS (SELECT
      |    CASE WHEN (da.deg, und.a) < (db.deg, und.b) THEN und.a ELSE und.b END AS u,
      |    CASE WHEN (da.deg, und.a) < (db.deg, und.b) THEN und.b ELSE und.a END AS v,
      |    CASE WHEN (da.deg, und.a) < (db.deg, und.b) THEN db.deg ELSE da.deg END AS dv
      |  FROM und
      |  JOIN deg da ON da.node = und.a
      |  JOIN deg db ON db.node = und.b),
      |w AS (SELECT e1.u AS p, e1.v AS x, e2.v AS y
      |  FROM o e1 JOIN o e2 ON e1.u = e2.u
      |  WHERE (e1.dv, e1.v) < (e2.dv, e2.v)),
      |tri AS (SELECT p, x, y FROM w
      |  WHERE EXISTS (SELECT 1 FROM o WHERE o.u = w.x AND o.v = w.y))""".stripMargin
}
