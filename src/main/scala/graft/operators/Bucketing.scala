package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Bucketed-layout helpers: pre-shuffle a table ONCE into hash buckets on
  * its join key so that every subsequent join/aggregation on that key
  * runs shuffle-free (Spark reads bucket files already partitioned by the
  * key; with sortBy the sort-merge join also skips its sort).
  *
  * At 100 TB this is the difference between re-shuffling a fact table per
  * query and paying the shuffle once at ingest: the standard lakehouse
  * layout decision for hot join keys. */
object Bucketing {

  /** Data-sized bucket count for indexing `df`: one bucket per
    * `targetBytesPerBucket` of the optimizer's size estimate, clamped to
    * [minBuckets, maxBuckets]. The [[Spread.ifSmall]] posture — reads
    * ONLY optimizer statistics (nothing executes), so the same query
    * text picks 4 buckets over a megabyte fixture and thousands over a
    * 100 TB corpus instead of baking either scale's constant into the
    * query (a hardcoded small count is a mega-bucket at warehouse
    * scale; a hardcoded large one is per-write file spray at bench
    * scale). Results are layout-independent by the bucketed-index
    * contract — only file inventory and write fan-out move. */
  def bucketsFor(df: DataFrame, targetBytesPerBucket: Long = 256L << 20,
                 minBuckets: Int = 4, maxBuckets: Int = 65536): Int = {
    require(targetBytesPerBucket > 0 && minBuckets >= 1 &&
      maxBuckets >= minBuckets, "invalid bucket sizing bounds")
    val est = df.queryExecution.optimizedPlan.stats.sizeInBytes
    val want = (est + targetBytesPerBucket - 1) / targetBytesPerBucket
    want.min(maxBuckets).max(minBuckets).toInt
  }

  /** Write a bucketed + sorted copy registered as `table` in the session
    * catalog (parquet files under the warehouse dir). */
  def writeBucketed(df: DataFrame, table: String, key: String,
                    buckets: Int): Unit =
    df.write.mode("overwrite").format("parquet")
      .bucketBy(buckets, key).sortBy(key)
      .saveAsTable(table)

  /** Append into an EXISTING bucketed table with the same layout — the
    * incremental-ingest write: new files land in the right hash buckets,
    * so every downstream bucket-pruned scan and zero-exchange join keeps
    * working over old + new data without a rewrite. The bucket count is
    * read from the catalog (a mismatched count would silently break the
    * co-partitioning contract, so it is not caller-suppliable). */
  def appendBucketed(df: DataFrame, table: String, key: String): Unit = {
    val spark = df.sparkSession
    val spec = spark.sessionState.catalog.getTableMetadata(
      org.apache.spark.sql.catalyst.TableIdentifier(table)).bucketSpec
    require(spec.nonEmpty, s"$table is not a bucketed table")
    df.write.mode("append").format("parquet")
      .bucketBy(spec.get.numBuckets, key).sortBy(key)
      .saveAsTable(table)
  }

  /** Rebuild-in-place prep: drop `table` from the catalog AND delete any
    * leftover managed warehouse directory — saveAsTable refuses a managed
    * location that exists without a matching catalog entry (the state a
    * crashed previous build leaves behind). */
  def dropForRewrite(spark: SparkSession, table: String): Unit = {
    spark.sql(s"DROP TABLE IF EXISTS $table")
    val loc = new org.apache.hadoop.fs.Path(
      spark.sessionState.catalog.defaultTablePath(
        org.apache.spark.sql.catalyst.TableIdentifier(table)))
    loc.getFileSystem(spark.sessionState.newHadoopConf()).delete(loc, true)
  }

  /** Parquet data-file count under a catalog table's location — the
    * observable [[compactBucketed]] moves (and what a spec pins). */
  def tableFileCount(spark: SparkSession, table: String): Int = {
    val loc = new org.apache.hadoop.fs.Path(
      spark.sessionState.catalog.getTableMetadata(
        org.apache.spark.sql.catalyst.TableIdentifier(table)).location)
    val fs = loc.getFileSystem(spark.sessionState.newHadoopConf())
    val it = fs.listFiles(loc, true)
    var n = 0
    while (it.hasNext) {
      val f = it.next()
      if (f.getPath.getName.endsWith(".parquet")) n += 1
    }
    n
  }

  /** Compact a bucketed table in place — the lakehouse OPTIMIZE step the
    * incremental-ingest path ([[appendBucketed]]) eventually needs: every
    * append lands one MORE file per touched bucket, and once a bucket
    * holds several files (a) each probe scan pays per-file open/footer
    * cost that grows with crawl-append count, and (b) Spark only
    * propagates the bucket SORT order when a bucket is a single file, so
    * the zero-sort property of [[bucketedJoin]] silently degrades to
    * sort-on-read. Compaction rewrites the table to EXACTLY one file per
    * non-empty bucket — results bit-identical (same rows, same layout
    * contract), only the file inventory changes.
    *
    * Mechanics: ONE data write via [[swapRewrite]] (shadow table +
    * catalog rename), through `repartition(numBuckets, key)`:
    * `HashPartitioning(key, n)` is the SAME `pmod(murmur3, n)` that
    * assigns bucket ids on write, so each write task holds exactly one
    * bucket's rows and emits exactly one file. Cost: one scan + one
    * shuffle of the COMPACT index relation, never the corpus — amortized
    * over all the appends it cleans up after. At 100 TB this runs as an
    * offline maintenance job on the same schedule as any OPTIMIZE. */
  def compactBucketed(spark: SparkSession, table: String): Unit =
    swapRewrite(spark, table, identity)

  /** Rewrite `table` as `transform(old rows)` with ONE data write:
    * write bucketed into a shadow table, then swap names with a catalog
    * RENAME (metadata + one directory move). The old
    * snapshot-through-scratch pattern paid TWO full writes of the
    * relation (scratch parquet, then the table) because a bucketed
    * `saveAsTable` cannot overwrite a table its own plan reads — the
    * shadow name sidesteps the self-read instead of copying around it,
    * and the old data survives intact until the shadow is fully
    * written, which also shrinks the drop→rewrite crash window the
    * scratch pattern documented (a crash now loses only the catalog
    * entry rename, never data). No driver-local scratch is involved, so
    * this is cluster-safe by construction (the shadow lives in the
    * warehouse).
    *
    * The source reads the table's FILES as plain parquet, not the
    * catalog table: a bucket-aware scan advertises
    * HashPartitioning(bucketCols, n), which lets the planner elide the
    * explicit repartition below — and then each write task holds a MIX
    * of buckets and sprays one file per (task, bucket) pair instead of
    * exactly one per bucket (measured: 63 files for 8 buckets). The
    * plain scan keeps the shuffle, so the one-file-per-bucket
    * compaction contract holds. */
  private def swapRewrite(spark: SparkSession, table: String,
                          transform: DataFrame => DataFrame): Unit = {
    import org.apache.spark.sql.functions.col
    val meta = spark.sessionState.catalog.getTableMetadata(
      org.apache.spark.sql.catalyst.TableIdentifier(table))
    require(meta.bucketSpec.nonEmpty, s"$table is not a bucketed table")
    val spec = meta.bucketSpec.get
    val bucketCols = spec.bucketColumnNames
    val sortCols = spec.sortColumnNames
    val df = transform(spark.read.parquet(meta.location.toString))
    swapIn(spark, table) { shadow =>
      val writer = df
        .repartition(spec.numBuckets, bucketCols.map(col): _*)
        .write.mode("overwrite").format("parquet")
        .bucketBy(spec.numBuckets, bucketCols.head, bucketCols.tail: _*)
      (if (sortCols.nonEmpty) writer.sortBy(sortCols.head, sortCols.tail: _*)
       else writer).saveAsTable(shadow)
    }
  }

  /** The catalog steps of every self-read-safe table rewrite: clear the
    * shadow `table__rw` (a crashed predecessor's leftover), `write` the
    * new rows to it, drop the live table, rename the shadow to it. */
  private[operators] def swapIn(spark: SparkSession, table: String)
                               (write: String => Unit): Unit = {
    val shadow = table + "__rw"
    dropForRewrite(spark, shadow)
    write(shadow)
    dropForRewrite(spark, table)
    spark.sql(s"ALTER TABLE $shadow RENAME TO $table")
  }

  /** Tombstone-apply for a bucketed table: rewrite `table` WITHOUT the
    * rows whose `keyCol` appears in `deleteKeys` — the takedown/opt-out
    * primitive the build → append lifecycle needs to become a full
    * lakehouse story. The key column need NOT be the bucket column
    * (a BM25 postings table buckets by term but deletes by doc id).
    *
    * Mechanics: ONE data write via [[swapRewrite]] (shadow table +
    * catalog rename — the anti-join plan reads the OLD table while the
    * shadow writes), through `repartition(numBuckets, bucketCols)`
    * preserving the catalog's bucket/sort spec, so every downstream
    * bucket-pruned scan and zero-exchange join keeps working — and the
    * rewrite doubles as a compaction (one file per non-empty bucket).
    * Cost: one scan + one shuffle of the compact index relation, never
    * the corpus; the delete-key side is an anti-join (broadcast when
    * the takedown list is small — the common case — AQE decides).
    * Deleting on a NULL-able key uses null-safe semantics implicitly:
    * anti-join never matches NULL keys, so NULL-keyed rows survive —
    * callers wanting them gone filter explicitly. */
  def deleteFromBucketed(spark: SparkSession, table: String,
                         deleteKeys: DataFrame, keyCol: String): Unit = {
    import org.apache.spark.sql.functions.col
    swapRewrite(spark, table, { old =>
      // the USING-join floats the key column to the front — restore the
      // table's own column order so the rewrite is schema-identical
      old.join(deleteKeys.select(col(keyCol)).distinct(),
          Seq(keyCol), "left_anti")
        .select(old.columns.toSeq.map(col): _*)
    })
  }

  /** Similarity-clustered parquet write: range-partition and sort the
    * corpus by its 64-bit SimHash before writing, so near-duplicate /
    * same-template documents land ADJACENT within row groups — columnar
    * compression (dictionary, zstd) then encodes the shared bytes once
    * instead of once per scattered copy; the standard "cluster by
    * similarity before you compress" layout trick for crawl corpora.
    * One range shuffle (sampled bounds — parallel by construction) +
    * in-partition sort; the signature is a per-row kernel projection and
    * is dropped before writing. Caller reads the result back as plain
    * parquet. */
  def writeClusteredBySimhash(docs: DataFrame, textCol: String,
                              path: String, partitions: Int = 0): Unit = {
    import org.apache.spark.sql.functions.col
    val sh = docs.withColumn("__graft_sh",
      graft.operators.Dedup.simhash64(col(textCol)))
    val parted =
      if (partitions > 0) sh.repartitionByRange(partitions, col("__graft_sh"))
      else sh.repartitionByRange(col("__graft_sh"))
    parted.sortWithinPartitions("__graft_sh").drop("__graft_sh")
      .write.mode("overwrite").parquet(path)
  }

  /** Join two tables bucketed on the same key with the same bucket count —
    * plans as a zero-exchange sort-merge join. */
  def bucketedJoin(spark: SparkSession, leftTable: String, rightTable: String,
                   key: String, joinType: String = "inner"): DataFrame =
    spark.table(leftTable).join(spark.table(rightTable), Seq(key), joinType)
}
