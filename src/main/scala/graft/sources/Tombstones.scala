package graft.sources

import java.io.File
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Serve-time TOMBSTONE overlay — LAZY takedown. The eager verb
  * ([[graft.operators.Retraction.retractDocs]]) is synchronous: a
  * document becomes invisible only after every derived artifact's
  * physical rewrite commits. At 100 TB a takedown SLA is measured in
  * minutes while a leaf-rewrite fan-out is measured in maintenance
  * windows — and the reference's own mutable-store DELETE
  * (`/root/reference/script.sql:1-4` is the in-place-mutation idiom)
  * is instantly visible. This overlay inverts the order:
  *
  *  1. [[graft.operators.Retraction.tombstoneDocs]] writes the ids —
  *     O(ids), one tiny file per artifact — and from that moment every
  *     serving face answers WITHOUT them (each face anti-joins the
  *     overlay via [[exclude]]; the takedown set is small by nature, so
  *     the join is a broadcast against the already-pruned serve scan).
  *     The CORPUS itself is an overlay root too: its serving face is
  *     [[graft.operators.Retraction.readCorpusServed]] /
  *     [[graft.operators.Retraction.exportCorpus]], so a corpus-scale
  *     training-data export during the window ships nothing tombstoned
  *     — while physical passes (excision, measurement, re-closure
  *     derivation) keep reading the raw path;
  *  2. the physical excision is the existing `retractDocs` fan-out,
  *     run on the compaction cadence, which also RETIRES the tombstone
  *     rows it covers ([[retire]]) — steady-state overlays stay small.
  *
  * Placement: the overlay lives in a SIBLING directory
  * `<root>__tombstones`, not inside the artifact root — two of the
  * artifact layouts are wholesale-swapped by their physical excision
  * (the media hash index and the flat label store rewrite their entire
  * root via [[Compaction.replace]], which would destroy an in-root
  * overlay with the retired copy), and the partitioned label store's
  * partition discovery must not see a foreign subdirectory. A sibling
  * survives every rewrite shape and is invisible to every table scan.
  *
  * Visibility contract, stated plainly (the Lucene-deletes stance):
  * tombstones gate MEMBERSHIP immediately — no tombstoned id comes back
  * from any consulting face — while corpus-level STATISTICS (BM25's
  * N/avgdl, IVF cell populations) keep pricing the physical index until
  * the excision pass lands. Scores drift toward their post-excision
  * values (the text index's df shifts immediately because the exclusion
  * rides the same pruned postings read); membership is exact from
  * second one. The exact-key admission gate ([[BloomKeyIndex]]) is
  * deliberately NOT overlaid: re-admitting the same id while its
  * postings still physically exist would double-index it (the single-
  * delivery contract every additive sidecar states), so during the
  * tombstone window an exact re-submission stays gated — invisibility
  * is immediate, FORGETTING arrives with the physical pass. Near-dup
  * gates (MinHash / semantic) DO consult the overlay: a new document
  * similar to a tombstoned one is novel content and must not be
  * attributed to a document that is logically gone. Corollary: the
  * near-dup gate's replay swallowing ("a replayed batch matches its
  * own indexed signatures and drops") is weakened for TOMBSTONED ids
  * during the window — a loop that must stay replay-idempotent under
  * lazy takedown should configure the exact-key gate (which keeps its
  * memory until excision, for exactly this reason).
  */
object Tombstones {

  /** The overlay directory for an artifact root — a sibling, see the
    * placement note above. */
  def dirFor(root: String): File = {
    // absolute first: a bare relative root ("idx") has no parent File
    val r = new File(root).getAbsoluteFile
    new File(r.getParentFile, r.getName + "__tombstones")
  }

  private def hasRows(root: String): Boolean = {
    val d = dirFor(root)
    Option(d.listFiles()).getOrElse(Array.empty)
      .exists(f => f.isFile && f.getName.endsWith(".parquet"))
  }

  /** Append `ids` to the overlay of `root` — O(ids), one file, the
    * whole write of a lazy takedown. Idempotent for serving purposes
    * (duplicate rows only duplicate anti-join keys). */
  def append(root: String, ids: DataFrame, idCol: String): Unit =
    ids.select(col(idCol).cast("long").as("__ts_id")).distinct()
      .coalesce(1).write.mode("append").parquet(dirFor(root).toString)

  /** The overlay's distinct ids; empty frame when no overlay exists. */
  def readIds(spark: SparkSession, root: String): DataFrame =
    if (!hasRows(root)) spark.range(0).select(col("id").as("__ts_id"))
    else spark.read.parquet(dirFor(root).toString)
      .select("__ts_id").distinct()

  /** Anti-join `df` against `root`'s overlay on `idOf` — the one-line
    * consult every serving face applies. IDENTITY when no overlay
    * exists (one driver-side directory check), so a deployment that
    * never tombstones pays nothing on its serve path. */
  def exclude(df: DataFrame, root: String, idOf: Column): DataFrame =
    if (!hasRows(root)) df
    else {
      val t = df.sparkSession.read.parquet(dirFor(root).toString)
        .select("__ts_id").distinct()
      df.join(broadcast(t), idOf.cast("long") === t("__ts_id"),
        "left_anti")
    }

  /** Retire the overlay rows covering `ids` — called by the physical
    * excision so a later re-admission of the same id is not silently
    * hidden by a stale tombstone (tombstone ≠ ban holds across the
    * lazy path too). No-op when no overlay exists. */
  def retire(spark: SparkSession, root: String, ids: DataFrame,
             idCol: String): Unit =
    if (hasRows(root))
      Compaction.retractRows(spark, dirFor(root).toString,
        ids.select(col(idCol).cast("long").as("__rid")).distinct(),
        (t, k) => t("__ts_id") === k("__rid"))
}
