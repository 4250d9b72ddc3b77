package graft
package queries

import org.apache.spark.sql.{DataFrame => SDF, SparkSession}
import org.apache.spark.sql.functions._
import graft.api.DataFrame
import graft.operators.TextAnalysis
import graft.streaming.GraftStreaming

/** Glue shared by more than one query family: the per-session table
  * reads and the oracle strings that a batch query and its `q_stream_*`
  * twin answer to. A helper used by one family lives in that family's
  * file. */
object Glue {

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
  private[queries] def table(s: SparkSession, dir: String, name: String): SDF =
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
  private[queries] def eventsMicros(s: SparkSession, dir: String): SDF =
    table(s, dir, "events").withColumn("tsu", expr("ts DIV 1000"))

  private[queries] def lineitem(s: SparkSession, dir: String): DataFrame =
    DataFrame.fromSpark(table(s, dir, "lineitem"),
      index = Seq("l_orderkey", "l_linenumber"))

  /** The view→click→purchase recursive min chain, shared by q_funnel
    * and q_stream_funnel (the stream's distinct-keys-per-step is the
    * batch count by construction — one string keeps the gates synced). */
  private[queries] val funnelOracleSql: String =
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
  private[queries] val CdcOracleSql: String =
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

  private[queries] lazy val DecontaminateOracle: String = {
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
  private[queries] lazy val CurationOracle: String = {
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
