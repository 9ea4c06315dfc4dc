package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Keyed upsert (CDC-style merge) for immutable columnar storage: vanilla
  * Spark-on-parquet has no MERGE INTO, so the operator is the classic
  * union + keep-latest-per-key window. One shuffle on the key columns —
  * the minimum for a keyed merge; the window needs no extra exchange
  * because it partitions by the same key.
  *
  * At 100 TB the refinement is partition-scoped merging
  * ([[keepLatestPartitioned]]): restrict `base` to the partitions that
  * actually contain updated keys (pruned at the parquet scan) and rewrite
  * only those via dynamic partition overwrite — the merge cost then scales
  * with the touched-partition volume, not the corpus. The keep-latest
  * semantics are unchanged by that optimization.
  */
object Merge {

  /** One row per `keyCols` value: the row with the highest `versionCol`,
    * preferring `updates` over `base` on equal versions (so replaying an
    * already-applied batch is a no-op that still lands on the update row —
    * idempotent re-delivery). Both inputs must share a schema.
    *
    * Determinism contract (the house rule — cf. [[Skew.contentSalt]]):
    *  - a NULL version sorts LAST (explicit `desc_nulls_last`): a versionless
    *    update can never displace any versioned row, of either side;
    *  - two rows tying on (key, version, side) — intra-batch duplicates —
    *    break the tie by a content hash over ALL columns, so the survivor is
    *    a pure function of row CONTENT, never of partitioning, input order,
    *    or retry history. Rows tying on the hash are byte-equal duplicates,
    *    for which any choice is the same row.
    */
  def keepLatest(base: DataFrame, updates: DataFrame, keyCols: Seq[String],
                 versionCol: String): DataFrame = {
    require(!(base.columns ++ updates.columns).contains("__src"),
      "input schema may not contain the reserved column __src")
    val all = base.withColumn("__src", lit(0))
      .unionByName(updates.withColumn("__src", lit(1)))
    val contentCols = all.columns.filterNot(_ == "__src").map(col).toSeq
    val w = Window.partitionBy(keyCols.map(col): _*)
      .orderBy(col(versionCol).desc_nulls_last, col("__src").desc,
        xxhash64(contentCols: _*).asc)
    all.withColumn("__rn", row_number().over(w))
      .where(col("__rn") === 1)
      .drop("__src", "__rn")
  }

  /** Partition-scoped CDC merge into a `partitionCol`-partitioned parquet
    * table at `basePath`: [[keepLatest]] semantics, but the base scan is
    * PRUNED to the partitions the batch actually touches and ONLY those
    * partition directories are rewritten (dynamic partition overwrite) —
    * every other file on disk stays byte-identical. Merge cost scales with
    * touched-partition volume, not table size: a daily batch against a
    * date-partitioned 100 TB corpus reads and rewrites days, not years.
    *
    * Contract: `partitionCol` must be stable per key (an update may not
    * move a key across partitions — the standard constraint of any
    * partition-local merge; a moved key's old version would survive in its
    * old partition unseen). The touched-partition value set is collected to
    * the driver — bounded by the batch, like every other sidecar here.
    *
    * `validateKeyStability = true` makes contract violations LOUD instead
    * of silently wrong downstream: the batch's key set is anti-checked
    * against the base partitions OUTSIDE the touched set (a narrow
    * key-column scan + semi-join) and any hit throws with sample keys.
    * Opt-in because it reads key columns of the whole un-touched base —
    * exactly the cost the partition-scoped merge exists to avoid; enable
    * it when the partition key's stability is assumed rather than enforced
    * upstream (e.g. bucket-of-natural-key layouts are safe by
    * construction, mutable-attribute partitions are not).
    *
    * The merged result is materialized via `localCheckpoint` before the
    * write: Spark (correctly) refuses to overwrite a path it is
    * concurrently reading, and the checkpoint severs that lineage. The
    * materialized volume IS the rewrite volume, so this costs nothing
    * beyond what the write itself must process.
    */
  def keepLatestPartitioned(spark: SparkSession, basePath: String,
                            updates: DataFrame, keyCols: Seq[String],
                            versionCol: String, partitionCol: String,
                            validateKeyStability: Boolean = false): Unit = {
    val touched = updates.select(col(partitionCol)).distinct()
      .collect().map(_.get(0))
    if (touched.isEmpty) return // empty batch: nothing to rewrite
    // null-SAFE partition match: a batch row with a null partition value
    // must pull the base's null-partition rows into the merge — a bare
    // isin(null) never matches, so the dynamic overwrite would replace
    // __HIVE_DEFAULT_PARTITION__ with update-only rows and silently drop
    // every base key living there
    val pruned = touched.map {
      case null => col(partitionCol).isNull
      case v    => col(partitionCol) === lit(v)
    }.reduce(_ || _)
    if (validateKeyStability) {
      // a moved key = one of the batch's keys already living in a base
      // partition the batch does NOT touch. coalesce(pruned, false): for a
      // null-partition base row `pruned` evaluates to NULL (unless the
      // batch touches the null partition explicitly), and a bare !NULL
      // would silently exclude that row from the check
      val outside = spark.read.parquet(basePath)
        .where(!coalesce(pruned, lit(false)))
        .select((keyCols :+ partitionCol).map(col): _*)
        .join(updates.select(keyCols.map(col): _*).distinct(),
          keyCols, "left_semi")
      val moved = outside.take(4)
      if (moved.nonEmpty)
        throw new IllegalStateException(
          "keepLatestPartitioned: update batch contains key(s) that " +
            "already exist in base partitions outside the touched set — " +
            "the partition key is not stable for these keys and their old " +
            "versions would survive unseen. Sample (key..., partition): " +
            moved.take(3).map(_.toSeq.mkString("(", ", ", ")"))
              .mkString("; "))
    }
    val base = spark.read.parquet(basePath).where(pruned) // → PartitionFilters
    val merged = keepLatest(base, updates, keyCols, versionCol)
      .localCheckpoint(true)
    // per-WRITE dynamic overwrite (not the session conf): toggling the
    // session value would leak dynamic semantics to concurrent writers on
    // the same SparkSession for the duration of this write
    merged.write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy(partitionCol)
      .parquet(basePath)
  }

  // -----------------------------------------------------------------------
  // Slowly-changing-dimension type 2: keep-latest answers "what is the
  // value now"; SCD2 keeps the full validity history — "what was the
  // value when batch X was ingested" is the reproducibility question
  // every versioned training-data pipeline eventually gets asked.
  // -----------------------------------------------------------------------

  /** Fold a pile of versioned records into a type-2 history: one row per
    * (key, CHANGE), carrying `valid_from` (the version that introduced
    * the attribute values), `valid_to` (the version that replaced them;
    * null while current) and `is_current`. Consecutive versions with
    * identical attributes collapse into one validity interval —
    * comparisons are null-safe PER COLUMN (`<=>`), so null attribute
    * values are values, not wildcards.
    *
    * Contract: `versionCol` is unique per key (the fixture uses a
    * globally-unique sequence; wall-clock versions need a tie-breaking
    * composite pushed into `versionCol` by the caller). Non-key,
    * non-version, non-attr input columns are dropped — the history is a
    * dimension table, not a fact mirror.
    *
    * Plan shape: ONE shuffle on the key (both windows and the filter
    * partition by it; Catalyst reuses the exchange), no joins.
    */
  def scd2(records: DataFrame, keyCols: Seq[String], versionCol: String,
           attrCols: Seq[String]): DataFrame = {
    require(keyCols.nonEmpty && attrCols.nonEmpty,
      "scd2 needs key and attribute columns")
    val reserved = Seq("valid_from", "valid_to", "is_current")
    require(!(keyCols ++ attrCols :+ versionCol).exists(reserved.contains),
      s"input may not use the reserved output names $reserved")
    val w = Window.partitionBy(keyCols.map(col): _*)
      .orderBy(col(versionCol).asc)
    // a row opens a new interval iff it is the key's first version or
    // any attribute differs (null-safely) from the previous version
    val changedVsLag = attrCols
      .map(a => !(col(a) <=> lag(col(a), 1).over(w)))
      .reduce(_ || _)
    val kept = records
      .select((keyCols ++ (versionCol +: attrCols)).map(col): _*)
      .withColumn("__scd_rn", row_number().over(w))
      // window expressions must be projected before they can be
      // filtered on (Spark disallows them inside WHERE)
      .withColumn("__scd_chg", changedVsLag)
      .where(col("__scd_rn") === 1 || col("__scd_chg"))
      .drop("__scd_rn", "__scd_chg")
      .withColumnRenamed(versionCol, "valid_from")
    val wk = Window.partitionBy(keyCols.map(col): _*)
      .orderBy(col("valid_from").asc)
    kept
      .withColumn("valid_to", lead(col("valid_from"), 1).over(wk))
      .withColumn("is_current", col("valid_to").isNull)
  }

  /** Incremental SCD2 maintenance: fold a batch of NEW versions into an
    * existing [[scd2]] history without re-reading the closed intervals.
    * Equals `scd2(history's records ++ updates)` exactly (law-tested)
    * under the append-only contract: every update's version is greater
    * than every existing version of its key.
    *
    * Cost shape: the closed history rows pass through untouched (at
    * scale, partition the stored history by `is_current` and this
    * becomes a current-partition-only rewrite); the work is one fold of
    * the BATCH plus one key-join of the batch's first changes against
    * the current rows.
    */
  def scd2Apply(history: DataFrame, updates: DataFrame,
                keyCols: Seq[String], versionCol: String,
                attrCols: Seq[String]): DataFrame = {
    val cur = history.where(col("is_current"))
    val curAttrs = cur.select(
      (keyCols.map(col) ++
        attrCols.map(a => col(a).as(s"__scd_cur_$a")) :+
        lit(1).as("__scd_has_cur")): _*)
    val w = Window.partitionBy(keyCols.map(col): _*)
      .orderBy(col(versionCol).asc)
    val changedVsLag = attrCols
      .map(a => !(col(a) <=> lag(col(a), 1).over(w)))
      .reduce(_ || _)
    // the batch's first row per key compares against the key's CURRENT
    // attributes (a repeat of the current values opens no interval);
    // later rows compare within the batch as in the one-shot fold
    val changedVsCur = attrCols
      .map(a => !(col(a) <=> col(s"__scd_cur_$a")))
      .reduce(_ || _) || col("__scd_has_cur").isNull
    val keptUpd = updates
      .select((keyCols ++ (versionCol +: attrCols)).map(col): _*)
      .join(curAttrs, keyCols, "left")
      .withColumn("__scd_rn", row_number().over(w))
      .withColumn("__scd_chg", changedVsLag)
      .where(when(col("__scd_rn") === 1, changedVsCur)
        .otherwise(col("__scd_chg")))
      .select((keyCols ++ (versionCol +: attrCols)).map(col): _*)
      .withColumnRenamed(versionCol, "valid_from")
    val wk = Window.partitionBy(keyCols.map(col): _*)
      .orderBy(col("valid_from").asc)
    val newRows = keptUpd
      .withColumn("valid_to", lead(col("valid_from"), 1).over(wk))
      .withColumn("is_current", col("valid_to").isNull)
    // close each current row whose key opened a new interval: its
    // valid_to becomes the FIRST kept update's version
    val firstChange = keptUpd.groupBy(keyCols.map(col): _*)
      .agg(min(col("valid_from")).as("__scd_close_at"))
    val curAdjusted = cur.join(firstChange, keyCols, "left")
      .withColumn("valid_to",
        coalesce(col("__scd_close_at"), col("valid_to")))
      .withColumn("is_current", col("valid_to").isNull)
      .drop("__scd_close_at")
    history.where(!col("is_current"))
      .unionByName(curAdjusted)
      .unionByName(newRows)
  }

  /** Path-backed SCD2 store, partitioned by `is_current` — the 100 TB
    * layout the DataFrame-level [[scd2Apply]] scaladoc promises: closed
    * intervals (the ever-growing bulk) live in the `is_current=false`
    * partition and are NEVER rewritten; each apply reads and replaces
    * only the current partition (one row per live key) and APPENDS the
    * newly-closed rows. Apply cost is O(live keys + batch), independent
    * of history depth.
    */
  def scd2WriteStored(records: DataFrame, path: String,
                      keyCols: Seq[String], versionCol: String,
                      attrCols: Seq[String]): Unit =
    scd2(records, keyCols, versionCol, attrCols)
      .write.mode("overwrite").partitionBy("is_current").parquet(path)

  /** The stored history, with `is_current` restored to a boolean column
    * (it comes back from the partition directory name). */
  def scd2ReadStored(spark: SparkSession, path: String): DataFrame = {
    val df = spark.read.parquet(path)
    df.withColumn("is_current", col("is_current").cast("boolean"))
  }

  /** Incremental apply against the store. Two writes, in this order:
    *
    *  1. APPEND the newly-closed intervals to `is_current=false`;
    *  2. dynamically OVERWRITE the `is_current=true` partition with the
    *     new current rows.
    *
    * The order pins the crash contract (the [[graft.operators.Components]]
    * label-store stance): a crash between the two leaves the closed rows
    * appended while the stale current partition still stands — a RETRY
    * recomputes the same closed rows from the same stale partition and
    * re-appends them as EXACT duplicates, then the overwrite heals the
    * current side. Closed-side duplicates are byte-equal rows, healed
    * losslessly by [[scd2DedupeStored]] (or a consumer-side DISTINCT);
    * the reverse order would instead LOSE closed intervals on a crash —
    * silent history truncation instead of visible duplication.
    */
  def scd2ApplyStored(spark: SparkSession, path: String,
                      updates: DataFrame, keyCols: Seq[String],
                      versionCol: String, attrCols: Seq[String]): Unit = {
    val cur = scd2ReadStored(spark, path).where(col("is_current"))
    // scd2Apply over a current-only history = curAdjusted ∪ newRows;
    // checkpointed because the dynamic overwrite below replaces the very
    // files this plan reads (the keepLatestPartitioned discipline)
    val updated = scd2Apply(cur, updates, keyCols, versionCol, attrCols)
      .localCheckpoint(true)
    try {
      updated.where(!col("is_current"))
        .write.mode("append").partitionBy("is_current").parquet(path)
      updated.where(col("is_current"))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("is_current").parquet(path)
    } finally
      org.apache.spark.sql.GraftBridge.unpersistCheckpoint(updated)
  }

  /** TAKEDOWN for the SCD2 store: close, don't delete. A dimension's
    * history is a reproducibility ledger, so erasing a key's past would
    * silently rewrite what every already-trained artifact saw; the
    * correct retraction is to CLOSE the key's current interval at
    * `closeAt` — from that version on, the key has no current value,
    * and as-of reads at earlier versions still reproduce. (Callers
    * whose attribute VALUES are themselves the thing to erase should
    * follow with an explicit attribute-scrub migration — a policy
    * decision this operator deliberately does not make.)
    *
    * Same two-write order and crash contract as [[scd2ApplyStored]]:
    * newly-closed rows APPEND to the never-rewritten closed partition
    * first, then the current partition is dynamically overwritten —
    * a crash between the two duplicates byte-equal closed rows that
    * [[scd2DedupeStored]] heals. One extra case this verb can hit that
    * apply never does: closing EVERY live key leaves zero current rows,
    * and a dynamic overwrite with an empty frame would keep the stale
    * current partition — so that partition is removed explicitly.
    * Keys with no current row are a no-op (idempotent).
    */
  def scd2CloseStored(spark: SparkSession, path: String,
                      keys: DataFrame, keyCols: Seq[String],
                      closeAt: Column): Unit = {
    val cur = scd2ReadStored(spark, path).where(col("is_current"))
    val k = keys.select(keyCols.map(col): _*).distinct()
    val closed = cur.join(broadcast(k), keyCols, "left_semi")
      .withColumn("valid_to", closeAt)
      .withColumn("is_current", lit(false))
    val remaining = cur.join(broadcast(k), keyCols, "left_anti")
    val updated = closed.unionByName(remaining).localCheckpoint(true)
    try {
      updated.where(!col("is_current"))
        .write.mode("append").partitionBy("is_current").parquet(path)
      val stillCurrent = updated.where(col("is_current"))
      if (stillCurrent.isEmpty)
        graft.sources.Compaction.rm(
          new java.io.File(path, "is_current=true"))
      else
        stillCurrent.write.mode("overwrite")
          .option("partitionOverwriteMode", "dynamic")
          .partitionBy("is_current").parquet(path)
    } finally
      org.apache.spark.sql.GraftBridge.unpersistCheckpoint(updated)
  }

  /** Maintenance for the documented crash window: exact-duplicate closed
    * rows (a replayed apply) collapse by full-row DISTINCT; the closed
    * leaf is rewritten via the staged atomic swap so concurrent readers
    * see old or new, never a half state.
    */
  def scd2DedupeStored(spark: SparkSession, path: String): Unit = {
    val leaf = new java.io.File(path, "is_current=false")
    if (!leaf.exists()) return
    graft.sources.Compaction.replace(leaf.toString, "scd2dedupe") {
      staging =>
        spark.read.parquet(leaf.toString).distinct()
          .write.parquet(staging.toString)
        true
    }
  }
}
