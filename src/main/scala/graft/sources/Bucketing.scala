package graft.sources

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Bucketed tables: pre-shuffle data once at write time so every subsequent
  * equi-join / aggregation on the bucket key is co-located — no exchange in
  * the join plan. At 100 TB this converts the recurring O(data) shuffle of a
  * fact-fact join into a one-time cost paid when the table is laid down.
  *
  * Parquet + Hive-style bucketing via `saveAsTable` (bucket metadata lives
  * in the session catalog; files are plain parquet).
  */
object Bucketing {

  def writeBucketed(df: DataFrame, table: String, key: String,
                    buckets: Int): Unit = {
    val spark = df.sparkSession
    spark.sql(s"DROP TABLE IF EXISTS `$table`")
    // a previous session's managed-table directory can survive without a
    // catalog entry (in-memory catalog, on-disk warehouse); CREATE then
    // fails with LOCATION_ALREADY_EXISTS — clear the stale location
    val warehouse = spark.conf.get("spark.sql.warehouse.dir")
    val path = new org.apache.hadoop.fs.Path(warehouse, table.toLowerCase)
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(path)) fs.delete(path, true)
    df.write.mode("overwrite")
      .format("parquet")
      .bucketBy(buckets, key)
      .sortBy(key)
      .saveAsTable(table)
  }

  /** Join two tables bucketed on `key` with matching bucket counts; with
    * bucketing enabled (default) Catalyst plans a shuffle-free sort-merge
    * join.
    */
  def bucketedJoin(spark: SparkSession, left: String, right: String,
                   key: String): DataFrame =
    spark.table(left).join(spark.table(right), key)

  // ---------------------------------------------------------------------
  // RANGE bucketing driven by sidecar bounds — the hash-bucketed family
  // above co-locates equi-joins; this lays data out by VALUE RANGE so
  // range predicates prune statically. The bounds come from the corpus
  // loop's own quantile sidecar ([[SketchSidecar.servedRangeBounds]]),
  // not from repartitionByRange's per-write sampling pass: at 100 TB the
  // sampler re-reads the data every write and its bounds drift run to
  // run, while the sidecar's equi-depth boundaries are already
  // maintained, deterministic, and balanced to the documented ledger.
  // ---------------------------------------------------------------------

  /** Bucket index of `c` under ascending `bounds`: the number of bounds
    * ≤ c — a codegen'd chain of `when` additions (bounds are few), not
    * an interpreted higher-order fold. Null values land in bucket 0
    * (every `when` is null-false), the left-most range — a policy, not
    * an error, matching where NULLS FIRST ordering would put them.
    */
  def rangeBucket(c: Column, bounds: Seq[Double]): Column = {
    require(bounds.nonEmpty && bounds == bounds.sorted,
      "bounds must be non-empty and ascending")
    bounds.foldLeft(lit(0))((acc, b) =>
      acc + when(c >= lit(b), 1).otherwise(0))
  }

  /** Write `df` partitioned by the range bucket of `colName` under
    * `bounds` — one `rb=<i>` directory per occupied bucket. Balanced by
    * the bounds' equi-depth construction; no shuffle is forced (the
    * dynamic partition writer splits each task's output by bucket), so
    * the write costs one pass over the data, exactly like the unbucketed
    * write it replaces. Installed by the staged atomic swap, not a
    * delete-then-write on the live path — a re-laid-out table that is
    * already serving must expose the old layout or the new one, never a
    * half-written directory (the [[Compaction.replace]] discipline
    * every rewrite in the repo follows).
    */
  def writeRangeBucketed(df: DataFrame, path: String, colName: String,
                         bounds: Seq[Double],
                         bucketCol: String = "rb"): Unit = {
    Compaction.replace(path, "rangebucket") { staging =>
      df.withColumn(bucketCol,
          rangeBucket(col(colName).cast("double"), bounds))
        .write.partitionBy(bucketCol).parquet(staging.toString)
      true
    }
  }

  // ---------------------------------------------------------------------
  // KEY-bucketed point-lookup layout — the forward-store shape: data laid
  // out by `kb = pmod(xxhash64(key), P)` so a lookup of a FEW keys (the
  // k winners of a retrieval cut, a takedown list) reads only those
  // keys' kb= directories instead of scanning the table. This is the
  // text index's `tp=` discipline applied to the DOC side: the text
  // fetch behind [[graft.sources.TextIndex.snippetTopKStored]] prunes to
  // ≤ k buckets where the flat corpus read pays the whole (id, text)
  // column scan. P is pinned at creation, like every hashed layout here.
  // ---------------------------------------------------------------------

  private def keyPinFile(path: String): java.io.File =
    new java.io.File(path, "_key_partitions")

  /** The pinned bucket count of a [[writeKeyBucketed]] table. */
  def keyBucketCount(path: String): Int = {
    val f = keyPinFile(path)
    require(f.exists(), s"no key-bucketed table at $path")
    java.nio.file.Files.readString(f.toPath).trim.toInt
  }

  /** xxhash64-of-long under the SQL seed 42, evaluated driver-side so
    * probe keys prune partitions with literal filters — the writer and
    * the reader can never disagree on the hash. */
  private def kbOf(key: Long, p: Int): Int =
    java.lang.Math.floorMod(
      org.apache.spark.sql.catalyst.expressions.XxHash64Function
        .hash(key, org.apache.spark.sql.types.LongType, 42L),
      p.toLong).toInt

  /** Lay `df` out bucketed by `keyCol` (castable to long) into
    * `partitions` hash buckets — staged write + atomic swap, the pin
    * riding the staged dir so layout and data install together. No
    * shuffle is forced: the dynamic partition writer splits each task's
    * output by bucket, so the write costs one pass like the flat write
    * it replaces.
    */
  def writeKeyBucketed(df: DataFrame, path: String, keyCol: String,
                       partitions: Int, bucketCol: String = "kb"): Unit = {
    require(partitions > 0, s"partitions=$partitions")
    Compaction.replace(path, "keybucket") { staging =>
      df.withColumn(bucketCol,
          pmod(xxhash64(col(keyCol).cast("long")), lit(partitions))
            .cast("int"))
        .write.partitionBy(bucketCol).parquet(staging.toString)
      java.nio.file.Files.writeString(
        new java.io.File(staging, "_key_partitions").toPath,
        partitions.toString)
      true
    }
  }

  /** Append a batch under the pinned layout — the corpus-loop form. */
  def appendKeyBucketed(df: DataFrame, path: String, keyCol: String,
                        bucketCol: String = "kb"): Unit = {
    val p = keyBucketCount(path)
    df.withColumn(bucketCol,
        pmod(xxhash64(col(keyCol).cast("long")), lit(p)).cast("int"))
      .write.mode("append").partitionBy(bucketCol).parquet(path)
  }

  /** Point-read of `keys`: the scan prunes STATICALLY to the keys'
    * buckets (≤ |keys| of P directories — driver-side literal hashes,
    * asserted as PartitionFilters in the spec) and the key filter lands
    * on the surviving files. Key lists are bounded by nature (a top-k
    * cut, a takedown set) — chunk anything larger. A tombstone overlay
    * on the store ([[Tombstones]]) is honored, so a lazily-retracted
    * doc's text is unservable even through a direct fetch.
    */
  def readKeys(spark: SparkSession, path: String, keyCol: String,
               keys: Seq[Long], bucketCol: String = "kb"): DataFrame = {
    require(keys.nonEmpty, "empty key list")
    require(keys.size <= 65536,
      s"readKeys got ${keys.size} keys — the point-lookup face is for " +
        "bounded cuts; chunk larger fetches")
    val p = keyBucketCount(path)
    val kbs = keys.map(kbOf(_, p)).distinct
    Tombstones.exclude(
      spark.read.parquet(path)
        .where(col(bucketCol).isin(kbs: _*) &&
          col(keyCol).isin(keys: _*)),
      path, col(keyCol))
  }

  /** TAKEDOWN over a key-bucketed store: leaf rewrites pruned to the
    * keys' buckets (the [[graft.sources.TextIndex.retract]] leaf
    * discipline — untouched buckets keep their files byte-for-byte).
    * Idempotent; a missing store is a no-op.
    */
  def retractKeyBucketed(spark: SparkSession, path: String,
                         keys: DataFrame, keysCol: String,
                         storeKeyCol: String,
                         bucketCol: String = "kb"): Unit = {
    if (!keyPinFile(path).exists()) return
    val p = keyBucketCount(path)
    val ids = keys.select(col(keysCol).cast("long").as("__rid")).distinct()
      .localCheckpoint(true)
    try {
      val kbs = ids.select(pmod(xxhash64(col("__rid")), lit(p))
          .cast("int").as("kb"))
        .distinct().collect().map(_.getInt(0)).toSeq
      Compaction.rewriteLeaves(spark, path, bucketCol, kbs,
        df => df.join(broadcast(ids),
          df(storeKeyCol).cast("long") === ids("__rid"), "left_anti"))
    } finally org.apache.spark.sql.GraftBridge.unpersistCheckpoint(ids)
  }

  /** Range read over a [[writeRangeBucketed]] table: the value predicate
    * `lo ≤ colName ≤ hi` is composed with the DERIVED bucket predicate
    * (both endpoints' buckets computed driver-side from the same bounds
    * — literals, so the scan prunes partitions statically and pushes the
    * value filter into the remaining files). Correctness never depends
    * on the bounds: the value predicate alone decides membership.
    */
  def readRange(spark: SparkSession, path: String, colName: String,
                bounds: Seq[Double], lo: Double, hi: Double,
                bucketCol: String = "rb"): DataFrame = {
    require(lo <= hi, s"lo=$lo > hi=$hi")
    val bLo = bounds.count(_ <= lo)
    val bHi = bounds.count(_ <= hi)
    spark.read.parquet(path)
      .where(col(bucketCol).between(bLo, bHi))
      .where(col(colName) >= lo && col(colName) <= hi)
  }
}
