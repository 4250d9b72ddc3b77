package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.queries._

/** Driver contract — one [[Q]] record per implemented operator from
  * SURVEY.md §2, declared in one registry per operator family under
  * `graft.queries`. [[queries]] and [[oracleSql]] are the name-keyed
  * views the drivers read. Oracle table names resolve because
  * Verify/driver register each `<dir>/<name>.parquet` as a view named
  * `<name>`. */
object SparkEntry {

  lazy val all: Seq[Q] =
    FrameQueries.all ++ TextQueries.all ++ DedupQueries.all ++
      SimilarityQueries.all ++ GraphQueries.all ++ EmbeddingQueries.all ++
      MultimodalQueries.all ++ AnalyticsQueries.all ++ StreamQueries.all

  lazy val queries: Map[String, (SparkSession, String) => DataFrame] =
    all.map(q => q.name -> q.build).toMap

  lazy val oracleSql: Map[String, String] =
    all.map(q => q.name -> q.oracleSql).toMap

  /** Flagship: the end-to-end corpus-curation pipeline (quality gate →
    * exact-dedup canonicalization → benchmark decontamination → token
    * accounting) — one declarative plan composing four operator
    * families; 421 of 500 docs survive at sf0.001. */
  def entry(spark: SparkSession): DataFrame =
    queries("q_curation")(spark, "/root/testdata/sf0.001")
}
