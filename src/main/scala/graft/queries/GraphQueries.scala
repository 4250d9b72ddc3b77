package graft
package queries

import org.apache.spark.sql.functions._
import graft.operators.TextAnalysis

import Glue._

/** Query records of the graph: `GraphOps` (PageRank, HITS, communities,
  * walks and link statistics). */
object GraphQueries {

  val all: Seq[Q] = Seq(
    // crawl curation: PageRank over the (source host → linked host) graph
    // — the domain-quality prior corpus weighting joins against. Exact
    // integer nano-unit iterations (GraphOps.pageRankNano), 3 rounds at
    // damping 85/100; the oracle replays the same integer recursion as
    // unrolled CTEs, so ranks hash bit-exactly
    Q("q_pagerank", (s, dir) => {
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
    }, {
      import graft.operators.{GraphOps, UrlOps}
      s"""WITH u AS (SELECT ${UrlOps.hostSqlExpr(UrlOps.syntheticUrlSqlExpr)} AS src,
         |        ${UrlOps.syntheticLinkHostSqlExpr} AS dst FROM events),
         |e AS (SELECT src, dst, CAST(count(*) AS BIGINT) AS w FROM u
         |      WHERE src <> dst GROUP BY src, dst),
         |${GraphOps.pageRankNanoOracleCtes(iters = 3)}
         |SELECT node AS host, r AS rank_nano FROM r3
         |ORDER BY rank_nano DESC, host""".stripMargin
    }),

    // crawl curation: TrustRank over the same link graph — teleport mass
    // restricted to the news-host whitelist, so rank is trust flowing
    // out of the seeds; unreachable hosts decay to exactly 0
    Q("q_trustrank", (s, dir) => {
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
    }, {
      import graft.operators.{GraphOps, UrlOps}
      s"""WITH u AS (SELECT ${UrlOps.hostSqlExpr(UrlOps.syntheticUrlSqlExpr)} AS src,
         |        ${UrlOps.syntheticLinkHostSqlExpr} AS dst FROM events),
         |e AS (SELECT src, dst, CAST(count(*) AS BIGINT) AS w FROM u
         |      WHERE src <> dst GROUP BY src, dst),
         |seeds AS (SELECT DISTINCT src AS node FROM u WHERE src LIKE 'www.news%'),
         |${GraphOps.pageRankNanoOracleCtes(iters = 3, seeded = true)}
         |SELECT node AS host, r AS rank_nano FROM r3
         |ORDER BY rank_nano DESC, host""".stripMargin
    }),

    // graph-embedding corpus: DeepWalk-style truncated walks over the
    // host link graph — the "sentences" a skip-gram embedding trainer
    // consumes. Transitions are deterministic md5-keyed choices, so the
    // walk corpus is byte-stable across runs/partitionings and the
    // oracle replays every step exactly
    Q("q_walks", (s, dir) => {
      import graft.operators.{GraphOps, UrlOps}
      val ev = table(s, dir, "events")
      val u = UrlOps.syntheticUrl(col("event_id"), col("user_id"), col("event_type"))
      val edges = ev.select(UrlOps.hostOf(u).as("src"),
        UrlOps.syntheticLinkHost(col("event_id"), col("user_id")).as("dst"))
      GraphOps.deterministicWalks(edges, "src", "dst", steps = 4,
          walksPerNode = 2)
        .orderBy("walk_id", "step")
    }, {
      // the oracle REPLAYS every transition: same distinct edge set, same
      // md5 key per (walk, step, neighbor), same (md5, dst) total order
      import graft.operators.{GraphOps, UrlOps}
      s"""WITH u AS (SELECT ${UrlOps.hostSqlExpr(UrlOps.syntheticUrlSqlExpr)} AS src,
         |        ${UrlOps.syntheticLinkHostSqlExpr} AS dst FROM events),
         |e AS (SELECT DISTINCT src, dst FROM u WHERE src <> dst),
         |${GraphOps.deterministicWalksOracleCtes(steps = 4, walksPerNode = 2)}
         |SELECT walk_id, step, node FROM walks
         |ORDER BY walk_id, step""".stripMargin
    }),

    // crawl curation: per-host link-graph degree/weight profile — the
    // hub/authority sanity relation shipped next to a rank table
    Q("q_link_stats", (s, dir) => {
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
    }, {
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
    }),

    // crawl curation: HITS hubs/authorities over the host link graph —
    // the directory-page vs destination-page split PageRank conflates.
    // Exact integer nano-units, 3 iterations, L1-normalized each round;
    // the oracle replays the identical integer recursion as CTEs
    Q("q_hits", (s, dir) => {
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
    }, {
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
    }),

    // crawl curation: label-propagation communities over the undirected
    // host graph — mutually-linking cliques (mirror farms, link rings)
    // surface as one community id. Deterministic max-weight/min-label
    // rule, 3 synchronous rounds, replayed exactly by the oracle
    Q("q_communities", (s, dir) => {
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
    }, {
      import graft.operators.{GraphOps, UrlOps}
      s"""WITH u AS (SELECT ${UrlOps.hostSqlExpr(UrlOps.syntheticUrlSqlExpr)} AS src,
         |        ${UrlOps.syntheticLinkHostSqlExpr} AS dst FROM events),
         |e AS (SELECT src, dst, CAST(count(*) AS BIGINT) AS w FROM u
         |      WHERE src <> dst GROUP BY src, dst),
         |${GraphOps.labelPropagationOracleCtes(iters = 3)}
         |SELECT node AS host, lbl AS community FROM l3
         |ORDER BY community, host""".stripMargin
    }),

    // crawl curation: per-host triangle counts via degree-ordered wedge
    // join (arboricity-bounded — the shape that survives power-law
    // graphs); low triangle density at high degree = link-farm signal
    Q("q_triangles", (s, dir) => {
      import graft.operators.{GraphOps, UrlOps}
      val ev = table(s, dir, "events")
      val u = UrlOps.syntheticUrl(col("event_id"), col("user_id"), col("event_type"))
      val edges = ev.select(UrlOps.hostOf(u).as("src"),
        UrlOps.syntheticLinkHost(col("event_id"), col("user_id")).as("dst"))
      GraphOps.triangleCounts(edges, "src", "dst")
        .select(col("node").as("host"), col("deg"), col("triangles"))
        .orderBy("host")
    }, {
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
    }),

    // keyphrase mining: TextRank (Mihalcea & Tarau 2004) = PageRank over
    // the adjacent-token co-occurrence graph — two existing kernels
    // composed (bigram counts feed pageRankNano's integer recursion),
    // and the oracle composes the same two CTE generators
    Q("q_textrank", (s, dir) => {
      import graft.operators.GraphOps
      val big = TextAnalysis.bigramCounts(
          table(s, dir, "documents").select("text"), "text")
        .select(col("w1").as("src"), col("w2").as("dst"),
          col("pair_cnt").as("w"))
      GraphOps.pageRankNano(big, "src", "dst", col("w"), iters = 3,
          materializeEvery = 4)
        .select(col("node").as("token"), col("rank_nano"))
        .orderBy(desc("rank_nano"), col("token"))
    }, {
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
    }),

    // crawl curation: host co-visitation matrix — the bipartite
    // user×host relation projected onto hosts, per-user fan-out capped
    // at C(10,2) by the md5-deterministic item cap
    Q("q_covisit", (s, dir) => {
      import graft.operators.{GraphOps, UrlOps}
      val ev = table(s, dir, "events")
      val u = UrlOps.syntheticUrl(col("event_id"), col("user_id"), col("event_type"))
      val rel = ev.select(col("user_id"), UrlOps.hostOf(u).as("host"))
      GraphOps.coVisitation(rel, "user_id", "host", maxPerKey = 10)
        .orderBy("item_a", "item_b")
    }, {
      import graft.operators.{GraphOps, UrlOps}
      s"""WITH rel AS (SELECT user_id AS k,
         |        ${UrlOps.hostSqlExpr(UrlOps.syntheticUrlSqlExpr)} AS item
         |      FROM events),
         |${GraphOps.coVisitationOracleCtes(maxPerKey = 10)}
         |SELECT item_a, item_b, n FROM pairs
         |ORDER BY item_a, item_b""".stripMargin
    }),

    // crawl curation: k-core of the sparsified user×host bipartite
    // graph (every survivor links ≥3 peers in the final induced
    // subgraph after 3 peel rounds) — the collusion/engagement core
    Q("q_kcore", (s, dir) => {
      import graft.operators.{GraphOps, UrlOps}
      val ev = table(s, dir, "events")
      val u = UrlOps.syntheticUrl(col("event_id"), col("user_id"), col("event_type"))
      val edges = ev.where(col("event_id") % 7 === 0)
        .select(concat(lit("u"), col("user_id").cast("string")).as("src"),
          UrlOps.hostOf(u).as("dst"))
      GraphOps.kCore(edges, "src", "dst", k = 3, rounds = 3)
        .orderBy("node")
    }, {
      import graft.operators.{GraphOps, UrlOps}
      s"""WITH u0 AS (SELECT 'u' || CAST(user_id AS VARCHAR) AS src,
         |        ${UrlOps.hostSqlExpr(UrlOps.syntheticUrlSqlExpr)} AS dst
         |      FROM events WHERE event_id % 7 = 0),
         |e0 AS (SELECT src, dst FROM u0),
         |${GraphOps.kCoreOracleCtes(k = 3, rounds = 3)}
         |SELECT node, deg FROM d3 ORDER BY node""".stripMargin
    }),

    // item-item co-occurrence normalized to LIFT over the same capped
    // relation as the pair counts (margins from the capped set keep the
    // ratio internally consistent under the mega-key cap)
    Q("q_covisit_lift", (s, dir) => {
      import graft.operators.{GraphOps, UrlOps}
      val ev = table(s, dir, "events")
      val u = UrlOps.syntheticUrl(col("event_id"), col("user_id"), col("event_type"))
      val rel = ev.select(col("user_id"), UrlOps.hostOf(u).as("host"))
      GraphOps.coVisitationLift(rel, "user_id", "host", maxPerKey = 10,
          minSupport = 2L)
        .select(col("item_a"), col("item_b"), col("n"),
          round(col("lift"), 9).as("lift"))
        .orderBy("item_a", "item_b")
    }, {
      import graft.operators.{GraphOps, UrlOps}
      s"""WITH rel AS (SELECT user_id AS k,
         |        ${UrlOps.hostSqlExpr(UrlOps.syntheticUrlSqlExpr)} AS item
         |      FROM events),
         |${GraphOps.coVisitationLiftOracleCtes(maxPerKey = 10, minSupport = 2L)}
         |SELECT item_a, item_b, n, round(lift, 9) AS lift FROM lifted
         |ORDER BY item_a, item_b""".stripMargin
    })
  )
}
