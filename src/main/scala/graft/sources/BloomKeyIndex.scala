package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Exact-key membership gate at corpus scale — the EXACT-dedup
  * complement to the MinHash near-dup index: "has this URL / content
  * key EVER been ingested", answered without shuffling the corpus.
  *
  * Two sidecars per index, both append-per-batch like every other gate
  * state:
  *   - `bloom/` — one row per batch: row count + a Bloom filter over
  *     `xxhash64(key)` (built by Spark's own `bloom_filter_agg`, so
  *     insertion is one narrow aggregation; the serialized form is
  *     `util.sketch.BloomFilter`, merged executor-side by bitwise OR —
  *     associative and EXACT, so row-merge compaction loses nothing);
  *   - `keys/` — (hash, key) rows partitioned by `kp = khash mod 256`
  *     so the exact-confirm pass prunes to the partitions a batch
  *     actually touches. The KEY ITSELF is stored next to its 8-byte
  *     hash and the confirm join matches on BOTH — a 64-bit hash
  *     collision (a near-certainty somewhere in a multi-billion-key
  *     corpus) therefore costs one extra compared row, never a wrongly
  *     dropped document.
  *
  * The gate ([[novelRows]]) is EXACT, not probabilistic: the Bloom
  * filter only routes. Definitely-new rows (filter says "never seen" —
  * no false negatives, by construction) skip the key join entirely; the
  * suspect minority (true dups + the fpp sliver of novel rows) is
  * confirmed against the keys table with a broadcast semi-join over the
  * pruned `kp` partitions — the corpus-sized side is SCANNED (pruned,
  * hash + key bytes per row), never shuffled. Steady-state cost: one
  * broadcast of the merged filter + a pruned scan proportional to the
  * suspect partitions, with zero false drops and zero false admits.
  *
  * Scale ledger: the merged filter is `numBits/8` bytes on the driver
  * and each executor (default 32 MB ≈ 4M keys at ~1% fpp; size it to
  * the corpus, or shard the index by key range when one filter would
  * outgrow a broadcast — the same answer the keys table's `kp`
  * partitioning already gives). The suspect set is assumed
  * batch-bounded (mostly-novel batches — the corpus-builder steady
  * state); a batch of pure duplicates degrades to a full batch-side
  * broadcast, which is still batch-sized. Set `compactEvery` so the
  * bloom sidecar row-merges on a cadence — the merged filter is
  * re-assembled from the stored rows on every gate call, so the row
  * count is the serve cost.
  *
  * Null keys hash to null, are skipped by the filter aggregation and
  * the keys append, and are kept as novel by the gate — the
  * [[graft.ingest.CorpusPipeline]] stance that absence of evidence is
  * not a duplicate.
  */
object BloomKeyIndex {

  /** @param keyExpr SQL expression for the exact identity (e.g. "url",
    *   "text"); compared as a string, routed by its xxhash64
    * @param expectedItems sizing for EACH per-batch filter; fpp of the
    *   MERGED filter is governed by total inserted keys vs `numBits`
    * @param numBits filter width in bits (driver/executor footprint of
    *   the merged filter = numBits/8 bytes)
    * @param compactEvery when > 0 and the index is driven by
    *   [[graft.ingest.CorpusPipeline]], every N-th append row-merges the
    *   bloom sidecar and compacts the keys leaves ([[compactRows]])
    */
  case class Cfg(indexPath: String, keyExpr: String,
                 expectedItems: Long = 4000000L,
                 numBits: Long = 33554432L,
                 keyPartitions: Int = 256,
                 compactEvery: Int = 0) {
    require(expectedItems > 0 && numBits > 0 && keyPartitions > 0)
    private[sources] def bloomPath = s"$indexPath/bloom"
    private[sources] def keysPath = s"$indexPath/keys"
  }

  private def khash(cfg: Cfg) =
    xxhash64(expr(cfg.keyExpr).cast("string"))

  /** Append one batch: its (hash, key) rows into the partitioned keys
    * table, then its Bloom row — ONE evaluation of the batch (pinned),
    * two writes. Ordering mirrors the corpus loop's gate discipline —
    * the bloom row is the ROUTER, the keys table the truth: a crash
    * between the two leaves keys indexed but not yet bloom-routed, and
    * such keys are simply re-confirmable (a false "suspect" costs a
    * join row; a bloom row WITHOUT keys could admit a duplicate, so the
    * keys commit first).
    */
  def appendBatch(batch: DataFrame, cfg: Cfg): Unit = {
    val keyed = batch
      .select(khash(cfg).as("khash"),
        expr(cfg.keyExpr).cast("string").as("key"))
      .where(col("khash").isNotNull).distinct()
      // both writes read this frame; pin once, release after
      .localCheckpoint(true)
    try {
      keyed
        .withColumn("kp", pmod(col("khash"), lit(cfg.keyPartitions)))
        .write.mode("append").partitionBy("kp").parquet(cfg.keysPath)
      keyed.agg(count(lit(1)).as("n"),
          org.apache.spark.sql.GraftBridge.bloomFilterAgg(col("khash"),
            cfg.expectedItems, cfg.numBits).as("bloom"))
        .coalesce(1)
        .write.mode("append").parquet(cfg.bloomPath)
    } finally org.apache.spark.sql.GraftBridge.unpersistCheckpoint(keyed)
  }

  /** Executor-side OR-merge of serialized filters (the [[SketchSidecar]]
    * CMS discipline: partial merges on executors, bounded rows).
    */
  private class BloomMerge
      extends org.apache.spark.sql.expressions.Aggregator[
        Array[Byte], Array[Byte], Array[Byte]] {
    import org.apache.spark.util.sketch.BloomFilter
    private def toBytes(b: BloomFilter): Array[Byte] = {
      val out = new java.io.ByteArrayOutputStream()
      b.writeTo(out)
      out.toByteArray
    }
    def zero: Array[Byte] = null
    def reduce(b: Array[Byte], a: Array[Byte]): Array[Byte] = merge(b, a)
    def merge(x: Array[Byte], y: Array[Byte]): Array[Byte] =
      if (x == null) y
      else if (y == null) x
      else {
        val f = BloomFilter.readFrom(x)
        f.mergeInPlace(BloomFilter.readFrom(y))
        toBytes(f)
      }
    def finish(r: Array[Byte]): Array[Byte] = r
    def bufferEncoder: org.apache.spark.sql.Encoder[Array[Byte]] =
      org.apache.spark.sql.Encoders.BINARY
    def outputEncoder: org.apache.spark.sql.Encoder[Array[Byte]] =
      org.apache.spark.sql.Encoders.BINARY
  }

  /** The merged filter's bytes — numBits/8, the one bounded driver-side
    * artifact of the serve path. None when the index is empty.
    */
  private def mergedFilter(spark: SparkSession, cfg: Cfg)
      : Option[Array[Byte]] = {
    val p = new org.apache.hadoop.fs.Path(cfg.bloomPath)
    val exists = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .exists(p)
    if (!exists) None
    else {
      val bloomMerge = udaf(new BloomMerge,
        org.apache.spark.sql.Encoders.BINARY)
      spark.read.parquet(cfg.bloomPath)
        .agg(bloomMerge(col("bloom")).as("bloom"))
        .collect().headOption.map(_.getAs[Array[Byte]](0))
        .filter(_ != null)
    }
  }

  /** One deserialization per executor, not per row: the broadcast holds
    * the serialized filter; each closure instance materializes the
    * probe-ready form lazily behind a transient.
    */
  private class Probe(bc: org.apache.spark.broadcast.Broadcast[Array[Byte]])
      extends Serializable {
    @transient private lazy val f =
      org.apache.spark.util.sketch.BloomFilter.readFrom(bc.value)
    def might(kh: java.lang.Long): Boolean =
      kh != null && f.mightContainLong(kh)
  }

  /** Batch rows whose key has NEVER been ingested — exact (see the
    * class doc for the route-then-confirm plan). Returns the batch's
    * own columns, novel rows only.
    *
    * The returned frame is a PLAN, not a materialization — nothing is
    * pinned, so the gate leaks no checkpoint blocks across the
    * thousands of batches of a streaming loop (the broadcast filter is
    * reclaimed by the context cleaner once the plan is dropped). The
    * cost of that stance: the batch expression is evaluated more than
    * once (route twice + the bounded kp collect), so a caller whose
    * batch is EXPENSIVE or non-deterministic upstream should pin it
    * first — the corpus loop's batches are deterministic scans, and its
    * `survivors` checkpoint severs this plan before any index append
    * can invalidate the files it reads.
    */
  def novelRows(batch: DataFrame, cfg: Cfg): DataFrame = {
    val spark = batch.sparkSession
    val withHash = batch
      .withColumn("__kh", khash(cfg))
      .withColumn("__key", expr(cfg.keyExpr).cast("string"))
    mergedFilter(spark, cfg) match {
      case None => withHash.drop("__kh", "__key") // empty index
      case Some(bytes) =>
        val probe = new Probe(spark.sparkContext.broadcast(bytes))
        val might = udf((kh: java.lang.Long) => probe.might(kh))
        val routed = withHash.withColumn("__might", might(col("__kh")))
        val suspects = routed.where(col("__might"))
        val suspectKeys = suspects
          .select(col("__kh").as("khash"), col("__key").as("key"))
          .distinct()
        // bounded metadata: ≤ keyPartitions ints — turns the confirm
        // scan's partition filter into literals (static pruning)
        val kps = suspectKeys
          .select(pmod(col("khash"), lit(cfg.keyPartitions)).as("kp"))
          .distinct().collect().map(_.getLong(0))
        // confirm on hash AND key — a colliding hash alone must not
        // condemn a different key
        val seen =
          if (kps.isEmpty) suspectKeys.limit(0)
          else spark.read.parquet(cfg.keysPath)
            .where(col("kp").isin(kps.toIndexedSeq: _*))
            .join(broadcast(suspectKeys), Seq("khash", "key"), "left_semi")
            .select(col("khash"), col("key"))
        val novelSuspects = suspects
          .join(broadcast(seen
              .withColumnRenamed("khash", "__kh")
              .withColumnRenamed("key", "__key")),
            Seq("__kh", "__key"), "left_anti")
        routed.where(!col("__might")).unionByName(novelSuspects)
          .drop("__kh", "__key", "__might")
    }
  }

  /** TAKEDOWN: excise `rows`' keys (computed with the index's own
    * `keyExpr` — pass the retracted docs' corpus rows) from the KEYS
    * table, pruned to the `kp=` partitions those keys hash into
    * (bounded driver list, per-leaf anti-join on (khash, key), staged
    * atomic swap — untouched partitions keep their files).
    *
    * The Bloom sidecar is deliberately NOT rewritten: blooms cannot
    * subtract, and they don't need to — the filter only ROUTES. A
    * retracted key leaves a stale positive bit, which makes its
    * re-delivery a "suspect" that the exact-confirm join then finds
    * ABSENT from the keys table → admitted as novel. That is exactly
    * the re-admission contract (tombstone ≠ ban), bought with one
    * wasted confirm read per stale key and healed wholesale whenever
    * the operator rebuilds the sidecar from the keys table. Idempotent:
    * re-excising absent keys is a no-op.
    */
  def retractKeys(rows: DataFrame, cfg: Cfg): Unit = {
    val spark = rows.sparkSession
    val keyedPlan = rows
      .select(khash(cfg).as("khash"),
        expr(cfg.keyExpr).cast("string").as("key"))
      .where(col("khash").isNotNull).distinct()
    // the key checkpoint and the touched-partition collect are
    // independent bounded actions over the same input rows (kp derives
    // from the khash values, identical either side of the checkpoint) —
    // overlap them (§2.6)
    var keyedV: DataFrame = null
    var kps: Array[Long] = null
    Compaction.parEach(Seq(
      () => keyedV = keyedPlan.localCheckpoint(true),
      () => kps = keyedPlan
        .select(pmod(col("khash"), lit(cfg.keyPartitions)).as("kp"))
        .distinct().collect().map(_.getLong(0))
    ))(_.apply())
    val keyed = keyedV
    try {
      // one pruned-scan job rewrites every touched kp leaf (a takedown
      // of k keys touches up to k leaves — per-leaf jobs made this the
      // most expensive excision in retractDocs at bench scale)
      Compaction.rewriteLeaves(spark, cfg.keysPath, "kp", kps.toSeq,
        df => df.join(broadcast(keyed), Seq("khash", "key"), "left_anti"))
    } finally org.apache.spark.sql.GraftBridge.unpersistCheckpoint(keyed)
  }

  /** Row-merge the bloom sidecar to ONE row (bitwise OR — associative,
    * exact) and compact the keys table's partition leaves; the
    * [[SketchSidecar.compactRows]] discipline with a zero-loss ledger.
    */
  def compactRows(spark: SparkSession, cfg: Cfg): Unit = {
    val rows = spark.read.parquet(cfg.bloomPath)
    if (rows.limit(2).count() >= 2) {
      val bloomMerge = udaf(new BloomMerge,
        org.apache.spark.sql.Encoders.BINARY)
      val merged = rows
        .agg(sum(col("n")).as("n"), bloomMerge(col("bloom")).as("bloom"))
        .coalesce(1)
        .localCheckpoint(true) // sever lineage from the swapped files
      try Compaction.replace(cfg.bloomPath, "rowmerge") { staging =>
        merged.write.parquet(staging.toString)
        true
      } finally org.apache.spark.sql.GraftBridge.unpersistCheckpoint(merged)
    }
    Compaction.compactPartitioned(spark, cfg.keysPath)
  }
}
