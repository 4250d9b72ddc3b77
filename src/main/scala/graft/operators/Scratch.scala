package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Managed scratch-parquet state — ONE implementation of the
  * materialize-through-scratch discipline every operator that must cut
  * lineage mid-computation shares (iterative loops: pageRankNano /
  * hitsNano / deterministicWalks; self-read rewrites: compactBucketed,
  * appendToBm25Index; connected components: duplicateClusters):
  * snapshot to parquet, read back, delete superseded snapshots. The
  * default directory is Spark's shutdown-deleted temp dir — valid ONLY
  * on a local master, which the caller-named guard enforces (a
  * driver-local path on a real cluster would make executors commit
  * state to their own disks and silently corrupt it). */
private[operators] final class Scratch(spark: SparkSession, caller: String,
                                       prefix: String,
                                       scratchDir: Option[String]) {
  Scratch.requireClusterSafe(spark.sparkContext.isLocal, scratchDir, caller)
  private val tmp = scratchDir.getOrElse(
    org.apache.spark.sql.GraftSqlBridge.managedTempDir(prefix).getAbsolutePath)
  private val hadoopConf = spark.sessionState.newHadoopConf()

  def materialize(df: DataFrame, name: String): DataFrame = {
    val p = tmp + "/" + name
    df.write.mode("overwrite").parquet(p)
    spark.read.parquet(p)
  }

  def drop(name: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(tmp + "/" + name)
    p.getFileSystem(hadoopConf).delete(p, true)
  }

  private var lastSnapshot: Option[String] = None

  /** Round `i` of an `iters`-round loop: every `materializeEvery`-th
    * round, and always the last, writes `df` as `name` and then drops
    * the previous snapshot, which the new one replaces; other rounds
    * return `df` as is. A drop never removes a snapshot the live
    * lineage still reads. */
  def snapshot(df: DataFrame, name: String, i: Int, iters: Int,
               materializeEvery: Int): DataFrame =
    if ((i + 1) % materializeEvery == 0 || i == iters - 1) {
      val m = materialize(df, name)
      lastSnapshot.foreach(drop)
      lastSnapshot = Some(name)
      m
    } else df
}

private[graft] object Scratch {
  /** The cluster-safety gate, factored out so the non-local branch is
    * unit-testable off-cluster; `caller` names the operator in the
    * error so the message points at what the user actually invoked. */
  private[graft] def requireClusterSafe(isLocal: Boolean,
                                        scratchDir: Option[String],
                                        caller: String): Unit =
    require(scratchDir.isDefined || isLocal,
      s"$caller on a non-local master needs an explicit " +
        "scratchDir on a shared filesystem (HDFS/S3/NFS): the driver-local " +
        "temp default would make executors commit iteration state to " +
        "their own disks and silently corrupt it")
}
