package graft.sources

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Z-order (Morton) clustering for multi-dimensional data skipping.
  *
  * Parquet row-group pruning works off per-file/rowgroup min-max stats,
  * which only help along the sort order: a table sorted by `a` skips
  * nothing for filters on `b`. Interleaving the bits of both columns into
  * one Morton code and range-sorting by IT gives every file a tight
  * bounding BOX in (a, b) space — filters on either (or both) dimensions
  * prune files. The classic lakehouse layout technique (Delta/Iceberg
  * `OPTIMIZE ZORDER BY`), expressed with plain Spark: an integer-arithmetic
  * expression, a range split on it and `sortWithinPartitions`.
  *
  * The z-value is pure codegen'd bit arithmetic — reproducible in any
  * engine (the DuckDB oracle runs the same shifts), no UDF, no shuffle
  * beyond the one range exchange the layout itself requires.
  */
object ZOrder {

  /** The Morton code interleaving the low `bits` of each column: bit `i`
    * of column `j` lands at position `i * cols.size + j`. Columns are
    * masked to `bits`, so out-of-range values wrap rather than dominate
    * the high bits.
    */
  def zValue(cols: Seq[Column], bits: Int): Column = {
    require(cols.nonEmpty && bits > 0 && bits * cols.size <= 63)
    val masked = cols.map(_.cast("long").bitwiseAND(lit((1L << bits) - 1)))
    (0 until bits).flatMap { i =>
      masked.zipWithIndex.map { case (c, j) =>
        shiftleft(shiftright(c, i).bitwiseAND(lit(1L)), i * cols.size + j)
      }
    }.reduce(_ bitwiseOR _)
  }

  /** Write `df` z-order-clustered on `clusterCols`: one range exchange on
    * the Morton code, an in-partition sort, `partitions` output files each
    * covering a tight bounding box of the clustered dimensions.
    */
  def clusteredWrite(df: DataFrame, path: String, clusterCols: Seq[String],
                     bits: Int = 16, partitions: Int = 8): Unit =
    zRanged(df, zValue(clusterCols.map(col), bits), partitions)
      .write.mode("overwrite").parquet(path)

  /** `df` split into `n` z-ranges, sorted by `z` within each. The range
    * bounds are n-quantiles of a FIXED sample of the z-values (the up to
    * 100·n non-null values with the smallest seeded hash), so the layout
    * depends only on the data written. `repartitionByRange` seeds its
    * bound sample from the RDD id, which made the files — and every
    * layout metric read off them — depend on what the session ran
    * before. A z equal to a bound lands in that bound's range, as with
    * `repartitionByRange`; null z-values land in the first.
    */
  private def zRanged(df: DataFrame, z: Column, n: Int): DataFrame = {
    val sample = df.select(z.as("__z")).where(col("__z").isNotNull)
      .orderBy(xxhash64(col("__z")), col("__z"))
      .limit(math.min(100L * n, 1000000L).toInt)
      .collect().map(_.getLong(0)).sorted
    val bounds = (1 until n).filter(_ => sample.nonEmpty)
      .map(i => sample(i * sample.length / n)).distinct
    import org.apache.spark.sql.GraftBridge.{column, expression}
    val found = column(org.apache.spark.sql.catalyst.expressions
      .ArrayBinarySearch(expression(typedlit(bounds)), expression(z)))
    df.repartitionById(n,
        coalesce(when(found >= 0, found).otherwise(-found - 1), lit(0)))
      .sortWithinPartitions(z)
  }

  /** Layout health of a clustered table — the number that tells an
    * operator WHEN to pay for [[recluster]], the
    * [[graft.operators.Similarity.ivfIndexStats]] stance for the file
    * layout: per file, the bounding-box volume of the clustered
    * dimensions as a fraction of the table's domain volume. A freshly
    * clustered table sits near `1/files` per file; every unclustered
    * append drags the average toward 1.0 (each new file spans the whole
    * domain — min-max skipping degrades to a full scan for exactly the
    * filters the layout was bought for). One column-pruned scan: the
    * per-file agg is map-side (files don't straddle tasks at row-group
    * granularity), the per-file frame is #files rows of driver-bounded
    * metadata. Returns (files, avg_box_frac, max_box_frac).
    */
  def clusterStats(spark: org.apache.spark.sql.SparkSession, path: String,
                   clusterCols: Seq[String]): DataFrame =
    perFileBoxFracs(spark, path, clusterCols)
      .agg(count(lit(1)).as("files"),
        round(avg("__frac"), 6).as("avg_box_frac"),
        round(max("__frac"), 6).as("max_box_frac"))

  /** Per-file bounding-box fraction `(__f file-uri, __frac)` — the frame
    * behind [[clusterStats]]'s aggregate and [[reclusterDecayed]]'s
    * worklist. #files rows of driver-bounded metadata.
    */
  private def perFileBoxFracs(spark: org.apache.spark.sql.SparkSession,
                              path: String,
                              clusterCols: Seq[String]): DataFrame = {
    require(clusterCols.nonEmpty)
    val aggs = clusterCols.flatMap(c => Seq(
      min(col(c).cast("long")).as(s"__mn_$c"),
      max(col(c).cast("long")).as(s"__mx_$c")))
    val perFile = spark.read.parquet(path)
      .groupBy(input_file_name().as("__f"))
      .agg(aggs.head, aggs.tail: _*)
    val gaggs = clusterCols.flatMap(c => Seq(
      min(col(s"__mn_$c")).as(s"__gmn_$c"),
      max(col(s"__mx_$c")).as(s"__gmx_$c")))
    val global = perFile.agg(gaggs.head, gaggs.tail: _*)
    val boxFrac = clusterCols.map(c =>
        (col(s"__mx_$c") - col(s"__mn_$c") + 1).cast("double") /
          (col(s"__gmx_$c") - col(s"__gmn_$c") + 1).cast("double"))
      .reduce(_ * _)
    perFile.crossJoin(broadcast(global))
      .select(col("__f"), boxFrac.as("__frac"))
  }

  /** Re-cluster a table whose layout decayed under appends — the
    * lakehouse `OPTIMIZE ZORDER BY` maintenance verb: one staged
    * [[clusteredWrite]] of the current contents + the atomic whole-root
    * swap ([[graft.sources.Compaction.replace]] — a crash leaves the
    * original intact or the retired copy recoverable, never a mix).
    * Content is IDENTICAL after (same rows, new file layout), so every
    * reader and sidecar is untouched; run it when [[clusterStats]]'s
    * avg_box_frac drifts toward 1.0, on the same cadence as small-files
    * compaction (which this subsumes for the table: the rewrite also
    * merges files).
    */
  /** What [[reclusterDecayed]] did: total files seen, files rewritten
    * (their summed bytes), files carried over untouched.
    */
  case class PartialReclusterReport(files: Long, rewritten: Long,
                                    kept: Long, rewrittenBytes: Long)

  /** PARTIAL recluster — the 100 TB form of [[recluster]]: rewrite ONLY
    * the files whose bounding-box fraction decayed past `decayFrac`,
    * carrying every still-tight file into the staging dir as a HARDLINK
    * (O(1) metadata per file, no bytes moved — the compute side of what
    * Delta/Iceberg `OPTIMIZE` does with manifest references), then the
    * same atomic whole-root swap. A steady-state table where appends
    * decay only the tail pays for the tail, not the table: the
    * whole-root [[recluster]] rewrites N bytes to fix M << N decayed
    * ones, which at 100 TB is the difference between a nightly
    * maintenance job and an impossible one.
    *
    * The z-interleave is computed over the REWRITTEN subset only, so
    * the tight files' existing layout is preserved byte-identical
    * (their bounding boxes were already small — re-sorting them buys
    * nothing and costs everything). Rewritten output is sized by
    * `targetBytes`, so the pass also subsumes small-files compaction
    * for the decayed subset.
    *
    * Convergence note: range boundaries are SAMPLED quantiles, so a
    * rewritten piece can straddle a top-level z-quadrant boundary and
    * carry a bounding box ~the union of two quadrants. Keep the rewrite
    * fan-out ABOVE `2^dims` (via `targetBytes` or `rewritePartitions`)
    * and straddle boxes shrink well below any sane `decayFrac`, making
    * a second pass at the same threshold a no-op — at exactly `2^dims`
    * pieces, a straddler can sit right at frac ≈ 0.5 and re-trigger.
    *
    * Crash contract: the staged dir (`.root__zorderinc`) either swaps
    * in whole or is GC'd by [[Compaction.vacuum]]'s parent-sibling
    * sweep; hardlinked carry-overs keep their inodes alive when
    * [[Compaction.replace]] retires the old root, so no crash window
    * holds the only copy of an untouched file. Falls back to a byte
    * copy on filesystems without hardlinks.
    */
  def reclusterDecayed(spark: org.apache.spark.sql.SparkSession,
                       path: String, clusterCols: Seq[String],
                       bits: Int = 16, decayFrac: Double = 0.5,
                       targetBytes: Long = 128L * 1024 * 1024,
                       rewritePartitions: Option[Int] = None)
      : PartialReclusterReport = {
    require(decayFrac > 0 && decayFrac <= 1.0, s"decayFrac=$decayFrac")
    require(targetBytes > 0)
    // a file whose cluster-column stats are all-NULL has a null box
    // frac — it cannot be proven tight, so it joins the rewrite set
    // (the whole-root recluster would rewrite it too; carrying it
    // unexamined would exempt it from maintenance forever)
    val fracs = perFileBoxFracs(spark, path, clusterCols)
      .collect().map(r => (r.getString(0),
        if (r.isNullAt(1)) None else Some(r.getDouble(1))))
    val toFile = (uri: String) =>
      if (uri.startsWith("file:")) new java.io.File(new java.net.URI(uri))
      else new java.io.File(uri)
    val dir = new java.io.File(path)
    // FLAT roots only, enforced loudly and UNCONDITIONALLY (before the
    // all-tight early return — a misconfigured partitioned root must
    // fail at wiring time, not weeks later on the first night decay
    // crosses the threshold): the carry-over links tight files into
    // staging by bare name and the rewrite re-reads decayed files
    // without a basePath, so on a `key=val`-partitioned root the
    // partition values would be silently dropped after the swap (and
    // same-named part files from different partition dirs would
    // collide). Partition roots recluster per leaf — call this verb on
    // each leaf dir.
    val rootCanon = dir.getCanonicalFile
    fracs.map(f => toFile(f._1))
      .find(_.getParentFile.getCanonicalFile != rootCanon)
      .foreach { nested =>
        throw new IllegalArgumentException(
          s"reclusterDecayed needs a FLAT parquet root; $path holds a " +
            s"nested data file ($nested) — recluster each partition leaf " +
            "directory instead")
      }
    val (decayed0, tight0) =
      fracs.partition(f => f._2.forall(_ > decayFrac))
    if (decayed0.isEmpty)
      return PartialReclusterReport(fracs.length.toLong, 0L,
        fracs.length.toLong, 0L)
    val decayed = decayed0.map(f => toFile(f._1))
    val tight = tight0.map(f => toFile(f._1))
    val bytes = decayed.map(_.length()).sum
    // rewrite granularity: sized by bytes, or pinned by the caller when
    // the rewritten subset must land at a specific file count (the
    // restored per-file boxes tighten with the z-range fan-out)
    val n = rewritePartitions.getOrElse(
      math.max(1L, (bytes + targetBytes - 1) / targetBytes).toInt)
    val z = zValue(clusterCols.map(col), bits)
    Compaction.replace(path, "zorderinc") { staging =>
      staging.mkdirs()
      tight.foreach { f =>
        val link = new java.io.File(staging, f.getName).toPath
        try java.nio.file.Files.createLink(link, f.toPath)
        catch { case _: UnsupportedOperationException |
                     _: java.nio.file.FileSystemException =>
          java.nio.file.Files.copy(f.toPath, link) }
      }
      // mode Append: the staged dir already holds the carried-over links
      zRanged(spark.read.parquet(decayed.map(_.toString).toIndexedSeq: _*),
          z, n)
        .write.mode("append").parquet(staging.toString)
      true
    }
    PartialReclusterReport(fracs.length.toLong, decayed.length.toLong,
      tight.length.toLong, bytes)
  }

  def recluster(spark: org.apache.spark.sql.SparkSession, path: String,
                clusterCols: Seq[String], bits: Int = 16,
                partitions: Int = 8): Unit = {
    // sever lineage from the files about to be swapped out
    val snap = spark.read.parquet(path).localCheckpoint(true)
    try Compaction.replace(path, "zorder") { staging =>
      clusteredWrite(snap, staging.toString, clusterCols, bits, partitions)
      true
    } finally org.apache.spark.sql.GraftBridge.unpersistCheckpoint(snap)
  }
}
