package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.queries._

/** Driver contract — one [[Q]] record per implemented operator from
  * SURVEY.md §2, declared in one registry per operator family under
  * `graft.queries`. [[families]] names each registry, [[all]] is their
  * concatenation, and [[queries]] and [[oracleSql]] are the name-keyed
  * views the drivers read. Oracle table names resolve because
  * Verify/driver register each `<dir>/<name>.parquet` as a view named
  * `<name>`. */
object SparkEntry {

  /** The family of a query is the registry object it is declared in. */
  lazy val families: Seq[(String, Seq[Q])] = Seq(
    "frame" -> FrameQueries.all, "text" -> TextQueries.all,
    "dedup" -> DedupQueries.all, "similarity" -> SimilarityQueries.all,
    "graph" -> GraphQueries.all, "embedding" -> EmbeddingQueries.all,
    "multimodal" -> MultimodalQueries.all,
    "analytics" -> AnalyticsQueries.all, "stream" -> StreamQueries.all)

  lazy val all: Seq[Q] = families.flatMap(_._2)

  lazy val queries: Map[String, (SparkSession, String) => DataFrame] =
    all.map(q => q.name -> q.build).toMap

  lazy val oracleSql: Map[String, String] =
    all.map(q => q.name -> q.oracleSql).toMap

  /** Query names a comma-separated list of query and family names
    * selects, in list order (a family expands to its registry order).
    * An unknown name fails instead of silently selecting nothing. */
  def select(spec: String): Seq[String] =
    spec.split(',').toSeq.map(_.trim).filter(_.nonEmpty).flatMap { t =>
      families.collectFirst { case (`t`, qs) => qs.map(_.name) }
        .orElse(queries.get(t).map(_ => Seq(t)))
        .getOrElse(throw new IllegalArgumentException(
          s"unknown query or family '$t' (families: " +
            families.map(_._1).mkString(", ") + ")"))
    }.distinct

  /** `SPARK_GRAFT_ONLY=q_a,dedup,…` restricts a Bench, Verify or
    * ScaleSweep run to the [[select]]ed queries for local iteration;
    * `None` (unset) runs every query, as the driver does. */
  lazy val only: Option[Set[String]] =
    sys.env.get("SPARK_GRAFT_ONLY").map(select(_).toSet)

  def isSelected(name: String): Boolean = only.forall(_.contains(name))

  /** Flagship: the end-to-end corpus-curation pipeline (quality gate →
    * exact-dedup canonicalization → benchmark decontamination → token
    * accounting) — one declarative plan composing four operator
    * families; 421 of 500 docs survive at sf0.001. */
  def entry(spark: SparkSession): DataFrame =
    queries("q_curation")(spark, "/root/testdata/sf0.001")
}
