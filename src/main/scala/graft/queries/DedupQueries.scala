package graft
package queries

import org.apache.spark.sql.functions._
import graft.operators.{Dedup, TextAnalysis}

import Glue._

/** Query records of the dedup: `Dedup` (exact, near-duplicate and semantic
  * dedup, decontamination, span and containment matching). */
object DedupQueries {

  val all: Seq[Q] = Seq(
    // pipeline: incremental-ingest novelty — batch docs (id%10>=7) anti-
    // joined on fingerprint against the corpus (id%10<8); the %10==7
    // docs ARE corpus members, so exactly the 8/9 buckets survive
    Q("q_novel", (s, dir) => {
      val docs = table(s, dir, "documents").select("doc_id", "text")
      val corpus = docs.where(pmod(col("doc_id"), lit(10)) < 8)
      val batch = docs.where(pmod(col("doc_id"), lit(10)) >= 7)
      Dedup.novelAgainst(batch, corpus, "text")
        .select("doc_id").orderBy("doc_id")
    },
      """WITH fp AS (SELECT doc_id,
        |  md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS f
        |  FROM documents),
        |b AS (SELECT doc_id, f FROM fp WHERE doc_id % 10 >= 7),
        |c AS (SELECT DISTINCT f FROM fp WHERE doc_id % 10 < 8)
        |SELECT doc_id FROM b ANTI JOIN c USING (f) ORDER BY doc_id""".stripMargin),

    // snapshot diff (daily-crawl delta): old = ids % 7 != 0, new = ids
    // % 5 != 0 with every id % 3 == 0 text edited — so added/removed/
    // changed are all exercised by construction; unchanged rows (the
    // 100 TB bulk) are excluded, the output IS the delta
    Q("q_corpus_diff", (s, dir) => {
      val docs = table(s, dir, "documents").select("doc_id", "text")
      val oldSnap = docs.where(pmod(col("doc_id"), lit(7)) =!= 0)
      val newSnap = docs.where(pmod(col("doc_id"), lit(5)) =!= 0)
        .withColumn("text", when(pmod(col("doc_id"), lit(3)) === 0,
          concat(col("text"), lit(" EDIT"))).otherwise(col("text")))
      Dedup.corpusDiff(oldSnap, newSnap, "doc_id", "text")
        .orderBy("doc_id")
    },
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
        |ORDER BY doc_id""".stripMargin),

    // Bloom-filter novelty — the sublinear-memory form of q_novel: the
    // corpus collapses to a 2^23-bit deterministic Bloom sketch that
    // broadcasts, so neither side shuffles. At this scale the false-
    // positive probability is ≪ 1/|batch| and the filter is fully
    // deterministic (seeded xxhash64), so the result provably EQUALS
    // exact novelty — the oracle is the exact anti-join itself (any
    // false positive would hash-mismatch the gate, pinning FP-freedom).
    Q("q_bloom_novel", (s, dir) => {
      val docs = table(s, dir, "documents").select("doc_id", "text")
      val corpus = docs.where(pmod(col("doc_id"), lit(10)) < 8)
      val batch = docs.where(pmod(col("doc_id"), lit(10)) >= 7)
      Dedup.novelAgainstBloom(batch, corpus, "text")
        .select("doc_id").orderBy("doc_id")
    },
      """WITH fp AS (SELECT doc_id,
        |  md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS f
        |  FROM documents),
        |b AS (SELECT doc_id, f FROM fp WHERE doc_id % 10 >= 7),
        |c AS (SELECT DISTINCT f FROM fp WHERE doc_id % 10 < 8)
        |SELECT doc_id FROM b ANTI JOIN c USING (f) ORDER BY doc_id""".stripMargin),

    // pipeline: changelog → snapshot compaction (upsert): planted update
    // rows (later tsu, doubled value) must win their keys; µs integer time
    Q("q_latest", (s, dir) => {
      val ev = table(s, dir, "events")
        .select(col("event_id"), expr("ts DIV 1000").as("tsu"), col("value"))
      val updates = ev.where(col("event_id") % 10 === 0)
        .select(col("event_id"), (col("tsu") + 1000L).as("tsu"),
          (col("value") * 2).as("value"))
      Dedup.latestByKey(ev.unionAll(updates), Seq("event_id"), Seq("tsu"))
        .orderBy("event_id")
    },
      """WITH base AS (SELECT event_id, epoch_us(ts) AS tsu, value FROM events),
        |changelog AS (
        |  SELECT * FROM base
        |  UNION ALL
        |  SELECT event_id, tsu + 1000, value * 2 FROM base WHERE event_id % 10 = 0),
        |ranked AS (SELECT event_id, tsu, value,
        |  row_number() OVER (PARTITION BY event_id
        |    ORDER BY tsu DESC, value DESC) AS rn FROM changelog)
        |SELECT event_id, tsu, value FROM ranked WHERE rn = 1
        |ORDER BY event_id""".stripMargin),

    // pipeline: cluster → canonical-doc selection (struct-max per cluster;
    // longest text wins, id is the deterministic tiebreak)
    Q("q_canonical", (s, dir) => {
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
    },
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
        |FROM ranked WHERE rn = 1 ORDER BY cluster""".stripMargin),

    // pipeline: dup-pair graph → connected components (iterative min-label
    // propagation). Duplicates are planted in-query (two shifted copies of
    // doc slices) so chains a~b~c exist and the expected clusters are
    // SQL-derivable; the oracle closes the same graph with a recursive CTE.
    Q("q_dup_clusters", (s, dir) => {
      val docs = table(s, dir, "documents").select("doc_id", "text")
      val copy1 = docs.where(col("doc_id") < 20)
        .select((col("doc_id") + 100000).as("doc_id"), col("text"))
      val copy2 = docs.where(col("doc_id") < 10)
        .select((col("doc_id") + 200000).as("doc_id"), col("text"))
      val pairs = Dedup.exactTextPairs(
        docs.unionAll(copy1).unionAll(copy2), "text", "doc_id")
      Dedup.duplicateClusters(pairs, "id_l", "id_r")
        .orderBy("node")
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
        |  SELECT e.dst, r.label FROM reach r JOIN edges e ON e.src = r.node)
        |SELECT node, min(label) AS label FROM reach
        |GROUP BY node ORDER BY node""".stripMargin),

    // exact dedup on normalized-text fingerprint (hash groupBy)
    Q("q_dedup_exact", (s, dir) => {
      Dedup.exactText(table(s, dir, "documents"), "text", "doc_id")
        .orderBy("fp")
    },
      """SELECT md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fp,
        | min(doc_id) AS canonical_id, count(*) AS n_dupes
        |FROM documents GROUP BY 1 ORDER BY fp""".stripMargin),

    // MinHash-LSH generate → exact-Jaccard verify at t=0.5 (64 hashes, 32
    // bands of 2 rows: a J=0.5 pair is missed with prob (1-0.25)^32 ≈ 1e-4,
    // and the hashes are seed-deterministic, so on this corpus recall is a
    // fixed, locally-verified fact). Oracle = exhaustive all-pairs exact
    // Jaccard — a hash match proves the banding lost nothing AND the
    // verify arithmetic is exact.
    Q("q_minhash_pairs", (s, dir) => {
      Dedup.nearDuplicates(table(s, dir, "documents"),
        "doc_id", "text", threshold = 0.5, numHashes = 64, bands = 32)
        .select(col("id_l"), col("id_r"), round(col("jaccard"), 6).as("jaccard"))
        .orderBy("id_l", "id_r")
    },
      graft.operators.Dedup.jaccardPairsOracleSql(3, 0.5)),

    // the composite near-duplicate pipeline at its production threshold
    // (t=0.8, 16 bands of 4 rows — miss prob (1-0.41)^16 ≈ 2e-4), same
    // exhaustive oracle
    Q("q_near_dup", (s, dir) => {
      Dedup.nearDuplicates(table(s, dir, "documents"),
        "doc_id", "text", threshold = 0.8)
        .select(col("id_l"), col("id_r"), round(col("jaccard"), 6).as("jaccard"))
        .orderBy("id_l", "id_r")
    },
      graft.operators.Dedup.jaccardPairsOracleSql(3, 0.8)),

    // q_near_dup with the banding DERIVED by the S-curve tuner instead
    // of hand-picked: tuneLsh solves for the cheapest (bands, rows)
    // meeting 0.999 candidate recall at t=0.8, and the generate→verify
    // pipeline under that plan must still reproduce the EXHAUSTIVE
    // Jaccard oracle — the tuner's guarantee surfaced through the same
    // hash gate as everything else (deterministic: fixed seed).
    Q("q_near_dup_tuned", (s, dir) => {
      val plan = Dedup.tuneLsh(threshold = 0.8, minRecall = 0.999,
        maxHashes = 128)
      Dedup.nearDuplicates(table(s, dir, "documents"), "doc_id", "text",
        threshold = 0.8, numHashes = plan.numHashes, bands = plan.bands)
        .select(col("id_l"), col("id_r"), round(col("jaccard"), 6).as("jaccard"))
        .orderBy("id_l", "id_r")
    },
      graft.operators.Dedup.jaccardPairsOracleSql(3, 0.8)),

    // q_near_dup with the banding solved DENSITY-ADAPTIVELY: one probe
    // pass measures the corpus's actual per-band colliding-pair mass
    // and tuneLshAdaptive picks the cheapest plan that meets 0.999
    // candidate recall at t=0.8 within a measured candidate budget —
    // the relief valve for corpora that densify at scale (the round-10
    // 50x sweep's steepening). Same exhaustive Jaccard oracle: the
    // generate->verify pipeline under the measured plan must still
    // reproduce it (deterministic: fixed seed, integer bucket counts).
    Q("q_near_dup_adaptive", (s, dir) => {
      val docs = table(s, dir, "documents")
      val plan = Dedup.tuneLshAdaptive(docs, "doc_id", "text",
        threshold = 0.8, minRecall = 0.999, maxHashes = 128,
        candidateBudgetPerDoc = 2.0)
      Dedup.nearDuplicates(docs, "doc_id", "text",
        threshold = 0.8, numHashes = plan.numHashes, bands = plan.bands)
        .select(col("id_l"), col("id_r"), round(col("jaccard"), 6).as("jaccard"))
        .orderBy("id_l", "id_r")
    },
      // adaptive banding changes WHICH buckets collide, never the exact
      // verify — the exhaustive oracle pins that the measured plan's
      // recall claim held on this corpus
      graft.operators.Dedup.jaccardPairsOracleSql(3, 0.8)),

    // SimHash-banded exact dedup, generate→verify: pigeonhole candidates
    // at hamming 0, then exact md5 verification. Identical text ⇒
    // identical token multiset ⇒ identical 64-bit signature ⇒ the band
    // join MUST surface the pair — so recall on exact duplicates is 1 BY
    // CONSTRUCTION (not a corpus accident) and the output provably equals
    // the oracle's exhaustive md5-equal pairs. Exact duplicates are
    // planted in-query (ids shifted by 100000, SQL-mirrorable) since the
    // corpus has none. Near-dup behavior (hamming ≤ 3) stays spec-tested.
    Q("q_simhash", (s, dir) => {
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
    },
      """WITH d AS (SELECT doc_id, text FROM documents
        |           UNION ALL SELECT doc_id + 100000, text FROM documents),
        |f AS (SELECT doc_id, md5(text) AS fp FROM d)
        |SELECT a.doc_id AS id_l, b.doc_id AS id_r, CAST(0 AS INT) AS hamming
        |FROM f a JOIN f b ON a.doc_id < b.doc_id AND a.fp = b.fp
        |ORDER BY id_l, id_r""".stripMargin),

    // exact n-gram Jaccard pairs via shingle join; oracle = DuckDB
    // list_intersect over re-derived shingles (the 1000-doc frequency cap
    // is provably inactive at oracle scale: a distinct shingle appears at
    // most once per doc and the corpus is 500 docs)
    Q("q_jaccard_pairs", (s, dir) => {
      Dedup.ngramJaccardPairs(table(s, dir, "documents"),
        "doc_id", "text", n = 3, threshold = 0.05)
        .select(col("id_l"), col("id_r"), round(col("jaccard"), 6).as("jaccard"))
        .orderBy("id_l", "id_r")
    },
      graft.operators.Dedup.jaccardPairsOracleSql(3, 0.05)),

    // asymmetric containment |A∩B|/min(|A|,|B|): planted excerpts
    // (prefix substring of a longer doc) score ≈1 where Jaccard ≈ |A|/|B|;
    // oracle = exhaustive all-pairs over the same union
    Q("q_containment", (s, dir) => {
      val docs = table(s, dir, "documents").select("doc_id", "text")
      val excerpts = docs.where(col("doc_id") < 10)
        .select((col("doc_id") + 200000).as("doc_id"),
          substring(col("text"), 1, 200).as("text"))
      Dedup.containmentPairs(docs.union(excerpts), "doc_id", "text",
        n = 3, threshold = 0.5)
        .select(col("id_l"), col("id_r"),
          round(col("containment"), 6).as("containment"))
        .orderBy("id_l", "id_r")
    }, {
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
    }),

    // character-level near-dup: shared-shingle candidates verified by
    // threshold-limited Levenshtein; planted docs differ by a 3-char
    // prefix patch built identically in both engines
    Q("q_edit_pairs", (s, dir) => {
      val base = table(s, dir, "documents").select("doc_id", "text")
        .where(col("doc_id") < 100)
      val planted = base.where(col("doc_id") < 20)
        .select((col("doc_id") + 100000).as("doc_id"),
          concat(lit("XQZ"), expr("substring(text, 4)")).as("text"))
      Dedup.editDistancePairs(base.union(planted), "doc_id", "text",
        n = 3, maxDist = 50, minSharedShingles = 3L)
        .orderBy("id_l", "id_r")
    }, {
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
    }),

    // blocked fuzzy record linkage over the DISTINCT-name dictionary
    // (vocabulary-bounded regardless of row count — the honest way to
    // link a low-cardinality catalog column: match the dictionary, then
    // hash-join labels back), Jaro-Winkler-scored inside the block
    Q("q_fuzzy_linkage", (s, dir) => {
      val names = table(s, dir, "part")
        .groupBy("p_name").agg(min("p_partkey").as("id"))
      Dedup.fuzzyLinkage(names, "id", "p_name",
        split(col("p_name"), " ").getItem(0), threshold = 0.85)
        .select(col("id_a"), col("id_b"), round(col("jw"), 6).as("jw"))
        .orderBy("id_a", "id_b")
    },
      """WITH names AS (SELECT p_name AS name, min(p_partkey) AS id
        |  FROM part GROUP BY 1),
        |p AS (SELECT id, name, split_part(name, ' ', 1) AS blk FROM names),
        |ok AS (SELECT blk FROM p GROUP BY blk HAVING count(*) <= 10000)
        |SELECT a.id AS id_a, b.id AS id_b,
        |  round(jaro_winkler_similarity(a.name, b.name), 6) AS jw
        |FROM p a JOIN p b ON a.blk = b.blk AND a.id < b.id
        |JOIN ok ON ok.blk = a.blk
        |WHERE jaro_winkler_similarity(a.name, b.name) >= 0.85
        |ORDER BY id_a, id_b""".stripMargin),

    // banded hyperplane-LSH embedding dedup, generate→verify. Identical
    // vectors produce identical buckets in EVERY band (same deterministic
    // expression), so recall on exact copies is 1 by construction; planted
    // copies (vec_id + 100000) are the only pairs at cosine ≥ 0.95 in this
    // corpus (max natural pairwise cosine 0.513), so the output provably
    // equals the oracle's planted-pair list.
    Q("q_emb_dedup", (s, dir) => {
      val emb = table(s, dir, "embeddings")
        .select("vec_id", "embedding")
      val planted = emb.select((col("vec_id") + 100000).as("vec_id"),
        col("embedding"))
      Dedup.embeddingNearDup(emb.union(planted), "vec_id", "embedding",
        threshold = 0.95, planes = 8, bands = 4)
        .select(col("id_l"), col("id_r"), round(col("cosine"), 6).as("cosine"))
        .orderBy("id_l", "id_r")
    },
      """WITH p AS (SELECT vec_id AS id_l, vec_id + 100000 AS id_r,
        |  list_sum(list_transform(list_zip(embedding, embedding),
        |    x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE))) /
        |  (sqrt(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE)))) *
        |   sqrt(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE))))) AS c
        | FROM embeddings)
        |SELECT id_l, id_r, round(c, 6) AS cosine FROM p
        |WHERE c >= 0.95 ORDER BY id_l, id_r""".stripMargin),

    // SemDeDup: k-means cells (8 seed centroids, broadcast argmax
    // assignment) + within-cell min-id-survives pruning at cosine >=
    // 0.95. Planted exact copies of vec_id < 60 (at larger ids) are the
    // in-cell near-dups, so the survivor set is construction-checkable:
    // the 500 originals. Oracle replays assignment + drop rule exactly.
    Q("q_semantic_dedup", (s, dir) => {
      val emb = table(s, dir, "embeddings").select("vec_id", "embedding")
      val planted = emb.where(col("vec_id") < 60)
        .select((col("vec_id") + 100000L).as("vec_id"), col("embedding"))
      val cents = emb.where(col("vec_id") < 8)
      Dedup.semanticDedup(emb.union(planted), "vec_id", "embedding",
        cents, "vec_id", "embedding", threshold = 0.95)
        .orderBy("vec_id")
    },
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
        |WHERE b.vec_id NOT IN (SELECT vec_id FROM drops) ORDER BY vec_id""".stripMargin),

    // benchmark decontamination: corpus docs sharing >= 5 distinct
    // 3-grams with an eval probe set (probes broadcast — corpus side
    // never shuffles). Planted verbatim copies of every probe guarantee
    // non-empty, construction-checkable contamination.
    Q("q_contam", (s, dir) => {
      val base = table(s, dir, "documents").select("doc_id", "text")
      val probes = base.where(col("doc_id") < 40)
      val corpus = base.where(col("doc_id") >= 40)
        .union(probes.select((col("doc_id") + 1000000L).as("doc_id"), col("text")))
      Dedup.contaminationPairs(corpus, "doc_id", "text",
        probes, "doc_id", "text", n = 3, minShared = 5L)
        .orderBy("doc_id", "probe_id")
    }, {
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
    }),

    // the one-call end-to-end dedup pipeline: exact star edges + LSH
    // near-dup edges (t=0.8, recall pinned by q_near_dup's identical
    // banding) → connected components → canonical pick by (n_chars
    // desc, id desc). Oracle re-derives the whole composition with a
    // recursive CTE over the unioned exhaustive edge sets.
    Q("q_dedup_pipeline", (s, dir) => {
      val base = table(s, dir, "documents").select("doc_id", "text", "n_chars")
        .where(col("doc_id") < 150)
      val corpus = base.union(base.where(col("doc_id") < 20)
        .select((col("doc_id") + 100000L).as("doc_id"), col("text"),
          col("n_chars")))
      Dedup.dedupCorpus(corpus, "doc_id", "text", "n_chars", threshold = 0.8)
        .orderBy("doc_id")
    }, {
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
    }),

    // dedup PROVENANCE: for every doc the pipeline dropped, WHY — exact
    // copy of the kept canonical, direct near-dup of it (true Jaccard ≥
    // t), or transitively chained in (canonical-loser). Same corpus as
    // q_dedup_pipeline; the oracle recomputes clusters (recursive CTE),
    // canonicals, and all three labels from scratch.
    Q("q_dedup_provenance", (s, dir) => {
      val base = table(s, dir, "documents").select("doc_id", "text", "n_chars")
        .where(col("doc_id") < 150)
      val corpus = base.union(base.where(col("doc_id") < 20)
        .select((col("doc_id") + 100000L).as("doc_id"), col("text"),
          col("n_chars")))
      Dedup.dedupProvenance(corpus, "doc_id", "text", "n_chars",
        threshold = 0.8)
        .orderBy("doc_id")
    }, {
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
    }),

    // the PERSISTED near-dup index: corpus signatured + banded + bucketed
    // ONCE, then a new batch (fresh docs + planted copies of ten corpus
    // docs) probes it paying only its own signature cost — the
    // incremental-crawl face of q_near_dup. Exact copies share every
    // band bucket, so recall on the planted pairs is 1 by construction;
    // natural cross pairs ride the same banding recall q_near_dup pins.
    Q("q_neardup_indexed", (s, dir) => {
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
    }, {
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
    }),

    // line-level boilerplate dedup (CCNet/RefinedWeb): lines appearing in
    // > 50 distinct docs are dropped, docs reassembled in order. The
    // corpus synthesizes multi-line docs (substring lines + planted
    // boilerplate on doc_id % 3 / % 2 subsets) since the source texts are
    // single-line; every construction step mirrors into the oracle.
    Q("q_line_dedup", (s, dir) => {
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
    }, {
      s"""WITH base AS (SELECT doc_id, concat_ws(chr(10),
         |    substr(text, 1, 60), substr(text, 61, 60),
         |    CASE WHEN doc_id % 3 = 0 THEN 'Subscribe to our newsletter'
         |         ELSE substr(text, 121, 60) END,
         |    CASE WHEN doc_id % 2 = 0 THEN '(c) All rights reserved'
         |         ELSE concat('id ', CAST(doc_id AS VARCHAR)) END) AS text
         |  FROM documents),
         |${graft.operators.Dedup.lineDedupOracleSql(50)}
         |ORDER BY doc_id""".stripMargin
    }),

    // cross-doc repeated-substring spans (exact-substring dedup): planted
    // copies embed tokens 3..14 of each source doc behind a 2-token
    // unique prefix, so each (src, planted) pair shares one maximal
    // 12-token span at diag 0 (docs shorter than 14 tokens shed tokens
    // off the slice; both engines see the same shorter span)
    Q("q_spans", (s, dir) => {
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
    }, {
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
    }),

    // entity resolution end-to-end: fuzzy-linkage pairs -> connected
    // components -> one entity label per linked record (min-id labels,
    // the same CC machinery as duplicate clustering)
    Q("q_entities", (s, dir) => {
      val names = table(s, dir, "part")
        .groupBy("p_name").agg(min("p_partkey").as("id"))
      val pairs = Dedup.fuzzyLinkage(names, "id", "p_name",
        split(col("p_name"), " ").getItem(0), threshold = 0.85)
      Dedup.duplicateClusters(
          pairs.select(col("id_a").as("id_l"), col("id_b").as("id_r")),
          "id_l", "id_r")
        .orderBy("node")
    },
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
        |GROUP BY node ORDER BY node""".stripMargin),

    // benchmark decontamination: train docs sharing ≥1 distinct 8-gram
    // with any eval-set doc (eval side broadcasts — it's benchmark-sized;
    // the only shuffle is the contamination-bounded pair count). The
    // eval set is a relabeled corpus sample, so every sampled doc
    // contaminates its own source verbatim plus genuine collisions.
    Q("q_decontaminate", (s, dir) => {
      val docs = table(s, dir, "documents")
      val evalSet = docs.where(col("doc_id") % 37 === 0)
        .select((col("doc_id") + 500000).as("doc_id"), col("text"))
      Dedup.decontaminationReport(docs, "doc_id", "text",
          evalSet, "doc_id", "text", n = 8, minHits = 1L)
        .orderBy("train_id", "eval_id")
    },
      DecontaminateOracle),

    // full CDC replay: upserts + DELETE tombstones — latest-version
    // compaction where a key whose last change is a delete leaves the
    // snapshot (and a later re-insert resurrects it)
    Q("q_cdc", (s, dir) => {
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
    },
      // ONE tombstone-replay oracle serves both CDC gates — the stream's
      // compacted emissions ARE the batch snapshot
      CdcOracleSql),

    // the production curation pass END TO END in one declarative plan:
    // quality gate → exact-dedup canonicalization → benchmark
    // decontamination → token accounting. Every stage is an
    // already-oracled operator; the pipeline query proves they COMPOSE
    // (one optimizer pass fuses the gate into the scans downstream)
    Q("q_curation", (s, dir) => {
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
    },
      // the full curation chain recomposed from the stage oracles:
      // quality expr ∘ fingerprint min-id dedup ∘ shingle-intersection
      // decontamination ∘ token count
      CurationOracle),

    // substring-level decontamination: WHERE the eval set leaks into
    // train (maximal verbatim spans with positions), not just how much
    // — the excise-the-span companion to q_decontaminate's counts
    Q("q_cross_spans", (s, dir) => {
      val docs = table(s, dir, "documents")
      val ev = docs.where(col("doc_id") % 37 === 0)
        .select((col("doc_id") + 500000L).as("eval_id"), col("text"))
      Dedup.crossSpans(docs, "doc_id", "text", ev, "eval_id", "text",
          minTokens = 8)
        .orderBy("train_id", "eval_id", "start_train", "start_eval")
    }, {
      s"""WITH trainr AS (SELECT doc_id AS train_id, text FROM documents),
         |evalr AS (SELECT doc_id + 500000 AS eval_id, text FROM documents
         |  WHERE doc_id % 37 = 0),
         |${graft.operators.Dedup.crossSpansOracleSql(
             minTokens = 8, maxEvalWindowFreq = 1000)}
         |ORDER BY train_id, eval_id, start_train, start_eval""".stripMargin
    })
  )
}
