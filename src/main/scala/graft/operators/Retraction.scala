package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** TAKEDOWN / retraction — the lifecycle verb the append-only corpus was
  * missing: excise a set of documents from the corpus AND every derived
  * serving artifact, so the first GDPR request, license revocation, or
  * poisoned-batch rollback is an operator call, not an incident.
  *
  * The reference's storage is a mutable Postgres table, where this is one
  * `DELETE` (`/root/reference/script.sql:1-4` shows the in-place-mutation
  * idiom — the daily job UPDATEs rows in place). A 100 TB parquet corpus
  * has no in-place mutation, and worse, it fans out into derived state —
  * text postings, MinHash signatures, hash indexes, ANN code tables, key
  * tables, provenance labels — each of which would keep SERVING the
  * retracted document forever if only the corpus row disappeared. So the
  * verb is a fan-out of artifact-local excisions, each owned by the
  * artifact's module (the module that knows the layout owns the pruned
  * rewrite):
  *
  *  - text postings  → [[graft.sources.TextIndex.retract]] — anti-join
  *    pruned to the docs' terms' `tp=` partitions + a doc-id-keyed
  *    LEDGER compensation (additive stats history is never rewritten;
  *    the ledger append is the commit point, exactly-once across
  *    re-runs);
  *  - MinHash index  → [[Dedup.retractFromMinhashIndex]] — one O(index)
  *    ints-only rewrite (band hashes have no doc locality);
  *  - exact-key gate → [[graft.sources.BloomKeyIndex.retractKeys]] —
  *    keys table pruned to the keys' `kp=` partitions; the bloom keeps a
  *    stale positive that the exact-confirm join resolves, which is
  *    precisely the re-admission contract;
  *  - ANN code/data  → [[CellIndex.retract]] — cell-pruned rewrite
  *    (≤ nlist touched leaves), geometry sidecars untouched;
  *  - LSH index      → [[CellIndex.retract]] — (table, bucket)-pruned
  *    rewrite (≤ |ids|·tables leaves);
  *  - SQ8 / BQ index → [[FlatIndex.retract]] — one anti-join rewrite;
  *  - media/audio    → [[Multimodal.retractFromMediaIndex]];
  *  - label store    → [[Components.retractFromLabelStore]] + satellite
  *    RE-CLOSURE from the stored signatures (a retracted canonical's
  *    survivors re-derive their true pairs — see [[Artifacts]]);
  *  - forward store  → [[graft.sources.Bucketing.retractKeyBucketed]] —
  *    bucket-pruned leaf rewrites of the (id, text) point-fetch layout;
  *  - corpus         → one anti-join rewrite, LAST among the serving
  *    artifacts (see ordering below);
  *  - shipped epochs → [[retractFromExport]] — ledger-pruned
  *    (epoch, shard) leaf rewrites of already-exported training shards,
  *    strictly AFTER the corpus commit (its ledger excision re-opens
  *    delta membership).
  *
  * Artifacts NOT excised, by design:
  *  - sketch sidecars (HLL/KMV/CMS/quantiles) are one-way additive —
  *    they cannot subtract a member. The stance: monitoring sketches
  *    describe what WAS ingested (a ledger, like the funnel), and a
  *    deployment that must forget even sketch-level membership evidence
  *    either re-derives the sidecar from the surviving corpus (one scan,
  *    the [[graft.sources.TextIndex.healStats]] shape) or segments
  *    sidecars by ingest EPOCH and drops whole epochs —
  *    [[graft.sources.SketchSidecar.retractGroups]] makes the epoch
  *    path an operator (exact: the surviving rows ARE the surviving
  *    epochs' state). The one additive face with exact inverse — the
  *    moments face — could take a negative row, but a half-forgetting
  *    sidecar is worse than a documented one.
  *  - the SCD2 store closes rather than deletes
  *    ([[Merge.scd2CloseStored]] — dimension keys, not doc ids, so it is
  *    not in [[Artifacts]]);
  *  - the funnel log is an execution ledger, kept.
  *
  * ORDERING — derived artifacts first, corpus LAST. The text-index
  * excision prunes by re-tokenizing the docs' text, and the bloom-key
  * excision recomputes their keys, so the corpus row must still exist
  * when they run; putting the corpus rewrite last also makes the whole
  * verb re-runnable: a crash anywhere before it leaves the docs readable,
  * every artifact excision is an anti-join (absent ids are a no-op), and
  * the text index's stats compensation is exactly-once by construction
  * (the retraction ledger at [[graft.sources.TextIndex.retract]] — a
  * re-run skips already-compensated ids). After the corpus rewrite
  * commits, a re-run finds zero docs and does nothing.
  *
  * Scale shape: every derived-artifact rewrite is partition-pruned or
  * O(index-ints). The corpus rewrite is O(corpus) for a FLAT corpus —
  * batch takedown requests and apply them on a cadence (the verb takes
  * a SET) — and touched-partition-only when the corpus is partitioned:
  * set [[Artifacts.corpusPartitionCol]] (e.g. an ingest-date column)
  * and the rewrite finds the docs' partition values from their own rows
  * (bounded by the takedown set) and swaps ONLY those leaves, untouched
  * dates byte-identical (spec-asserted) — the 100 TB layout answer. The
  * layouts here model the compute; a manifest-committing table format
  * supplies the atomic multi-file swap on object stores.
  *
  * Tombstone ≠ ban, stated as a contract: after retraction the engine
  * holds NO memory of the document in any gate, so a re-submitted copy
  * re-admits through the corpus loop like any novel document
  * (spec-proven in `RetractionSpec`). A deployment that wants a BLOCK
  * list should gate on it explicitly — forgetting and banning are
  * different verbs.
  *
  * TWO SPEEDS. [[retractDocs]] is the synchronous form: invisibility
  * arrives when the last leaf rewrite commits. [[tombstoneDocs]] is the
  * LAZY form a takedown SLA wants at 100 TB: an O(ids) overlay write
  * per artifact — the CORPUS included, whose serving face is
  * [[readCorpusServed]]/[[exportCorpus]] — makes every serving face
  * exclude the ids immediately
  * (see [[graft.sources.Tombstones]] for the visibility contract), and
  * the physical excision is this same [[retractDocs]] run later on the
  * compaction cadence — which retires the overlay rows it covers, so
  * compact-then-retire lands in a state identical to eager retraction
  * (spec-proven).
  */
object Retraction {

  /** The artifact set a corpus deployment maintains — mirror of the
    * [[graft.ingest.CorpusPipeline.dedupAndAppend]] sidecar options, so
    * a loop's configuration maps 1:1 onto its takedown configuration.
    */
  /** `corpusPartitionCol`: set when the corpus is `partitionBy`-written
    * on this column (the date-partitioned 100 TB layout) — the corpus
    * rewrite then prunes to the partitions the retracted docs live in.
    * Values must be directory-safe (dates, small ints — the usual
    * partition-value discipline). None = flat corpus, whole-table
    * rewrite.
    */
  /** `forwardStorePath`: a key-bucketed (id, text) projection
    * ([[graft.sources.Bucketing.writeKeyBucketed]]) serving point text
    * fetches — excised with bucket-pruned leaf rewrites.
    * `exportRoots`: incremental training-shard export roots
    * ([[exportTrainingShardsIncremental]]) — already-SHIPPED epochs
    * join the takedown cadence via [[retractFromExport]]'s
    * ledger-pruned (epoch, shard) leaf rewrites, run AFTER the corpus
    * commit (the ledger excision re-opens delta membership, so it must
    * never precede the corpus forgetting the id).
    * `dupThreshold`: the corpus loop's near-dup admission bar, re-used
    * by the satellite RE-CLOSURE — when a retracted doc was a cluster
    * CANONICAL and both `dupLabelsPath` and `minhashIndexPath` are
    * configured, the surviving satellites' mutual pairs re-derive from
    * the stored signatures at this threshold and re-close, so
    * provenance queries for the survivors keep answering.
    */
  case class Artifacts(
      corpusPath: String,
      idCol: String = "doc_id",
      textCol: String = "text",
      corpusPartitionCol: Option[String] = None,
      minhashIndexPath: Option[String] = None,
      textIndex: Option[graft.sources.TextIndex.Cfg] = None,
      exactKeys: Option[graft.sources.BloomKeyIndex.Cfg] = None,
      annIndexPath: Option[String] = None,
      annIdCol: String = "doc_id",
      lshIndexPath: Option[String] = None,
      lshIdCol: String = "doc_id",
      sqIndexPath: Option[String] = None,
      sqIdCol: String = "doc_id",
      bqIndexPath: Option[String] = None,
      bqIdCol: String = "doc_id",
      mediaIndexPath: Option[String] = None,
      dupLabelsPath: Option[String] = None,
      forwardStorePath: Option[String] = None,
      exportRoots: Seq[String] = Nil,
      dupThreshold: Double = 0.8)

  /** @param requested distinct ids asked for
    * @param found     of those, ids present in the corpus this run (0 on
    *                  a clean re-run — the verb already completed); for
    *                  [[tombstoneDocs]], equal to `requested` (the
    *                  overlay write does not consult the corpus)
    */
  case class Report(requested: Long, found: Long)

  /** Every configured artifact root that carries a tombstone overlay —
    * including the CORPUS itself (its serving face is
    * [[readCorpusServed]]/[[exportCorpus]]; physical passes and
    * measurements keep reading the raw path). The exact-key gate is
    * deliberately absent (see the visibility contract at
    * [[graft.sources.Tombstones]]).
    */
  private def overlayRoots(a: Artifacts): Seq[String] =
    Seq(a.corpusPath) ++ a.textIndex.map(_.indexPath) ++
      a.minhashIndexPath ++ a.annIndexPath ++ a.lshIndexPath ++
      a.sqIndexPath ++ a.bqIndexPath ++ a.mediaIndexPath ++
      a.dupLabelsPath ++ a.forwardStorePath

  /** LAZY takedown: write `ids` into every configured artifact's
    * tombstone overlay — O(ids) per artifact, the whole verb — and
    * every serving face stops answering with them IMMEDIATELY (each
    * face anti-joins its overlay; [[graft.sources.Tombstones]] states
    * the visibility contract). The physical excision is [[retractDocs]]
    * run on the compaction cadence; it retires the overlay rows it
    * covers, so a later re-admission of the same id is never hidden by
    * a stale tombstone. Idempotent: re-appending ids only duplicates
    * anti-join keys.
    *
    * WINDOW SEMANTICS for an id re-admitted DURING the tombstone window
    * (possible only when no exact-key gate is configured — the gate
    * deliberately keeps its memory through the window and blocks a
    * same-id exact copy; near-dup gates consult the overlay and treat a
    * tombstoned doc's copy as novel): TAKEDOWN WINS. The overlay holds
    * the id, so the freshly re-admitted content is unservable from the
    * moment it lands, and the next [[applyTombstones]] pass physically
    * excises it along with the original rows — the overlay records an
    * id, not a version, and a takedown request must never be narrowed
    * by content that arrived after it was filed (the conservative
    * reading of a GDPR/poison request). A deployment that wants
    * re-admission to survive the window must run [[applyTombstones]]
    * (or [[maintain]]) before re-admitting, or configure the exact-key
    * gate, which makes the race unrepresentable for exact copies.
    */
  def tombstoneDocs(spark: SparkSession, ids: DataFrame, idsCol: String,
                    a: Artifacts): Report = {
    val roots = overlayRoots(a)
    val keys = ids.select(col(idsCol).cast("long").as("__rid")).distinct()
      .localCheckpoint(true)
    try {
      val requested = keys.count()
      // independent overlay dirs — append them concurrently (§2.6)
      graft.sources.Compaction.parEach(roots)(r =>
        graft.sources.Tombstones.append(r, keys, "__rid"))
      Report(requested, requested)
    } finally org.apache.spark.sql.GraftBridge.unpersistCheckpoint(keys)
  }

  /** LAZY retroactive decontamination — [[retractMatchingPhrases]]'s
    * membership serve composed with the tombstone overlay instead of
    * the physical fan-out: a benchmark update makes its contaminated
    * docs unservable in O(ids) writes, and the excision runs on the
    * maintenance cadence. Idempotent for free: already-tombstoned docs
    * are excluded from the membership serve itself.
    */
  def tombstoneMatchingPhrases(spark: SparkSession,
                               phrases: Seq[Seq[String]],
                               a: Artifacts): Report = {
    val cfg = a.textIndex.getOrElse(throw new IllegalArgumentException(
      "tombstoneMatchingPhrases needs Artifacts.textIndex (positional) — " +
        "phrase membership is served from the index"))
    val hits = graft.sources.TextIndex.phraseMembers(spark, cfg, a.idCol,
      phrases)
    if (hits.isEmpty) Report(0L, 0L)
    else tombstoneDocs(spark, hits, a.idCol, a)
  }

  /** RETROACTIVE decontamination — the composition the positional text
    * index and the takedown verb exist to enable: when the eval
    * benchmark GROWS (new benchmark version, new held-out set), docs
    * already admitted under the old contamination gate may verbatim-
    * contain the new phrases. Membership comes from |phrases| pruned
    * `tp=` index reads ([[graft.sources.TextIndex.phraseMembers]] —
    * never a corpus text re-scan), and the hits flow through
    * [[retractDocs]] so every serving artifact forgets them in the same
    * call. Requires `a.textIndex` and a positional layout (the members
    * serve refuses a bare index loudly). Docs already TOMBSTONED are
    * invisible to the membership serve and therefore not re-retracted
    * here — their physical excision belongs to the cadence pass
    * ([[applyTombstones]]), which owns every pending overlay id.
    */
  def retractMatchingPhrases(spark: SparkSession,
                             phrases: Seq[Seq[String]],
                             a: Artifacts): Report = {
    val cfg = a.textIndex.getOrElse(throw new IllegalArgumentException(
      "retractMatchingPhrases needs Artifacts.textIndex (positional) — " +
        "phrase membership is served from the index"))
    val hits = graft.sources.TextIndex.phraseMembers(spark, cfg, a.idCol,
      phrases)
    if (hits.isEmpty) Report(0L, 0L) // clean corpus — touch nothing
    else retractDocs(spark, hits, a.idCol, a)
  }

  /** The compaction-cadence PHYSICAL pass for lazy takedowns: the
    * union of every configured artifact's tombstone-overlay ids IS the
    * excision worklist (the maintenance job needs no memory of the
    * original takedown requests), fed through [[retractDocs]], which
    * also retires the overlay rows it covers — after this call the
    * deployment is byte-equal to one that took the eager path
    * (spec-proven). A deployment with no pending tombstones is a no-op.
    *
    * Crash contract: the overlays ARE this verb's only memory of the
    * requests, so [[retractDocs]] retires them strictly AFTER the
    * corpus rewrite (its commit point). A crash anywhere before the
    * corpus commit leaves every overlay in place (ids still hidden,
    * fail-safe) and the next run re-derives the same worklist; a crash
    * between the corpus commit and retirement leaves only STALE
    * tombstones, which the next run self-heals (found = 0, every
    * excision a no-op, retirement completes) — no takedown request can
    * be stranded half-applied.
    *
    * Window semantics: an id re-admitted while its tombstone is pending
    * is physically excised here too — see the contract at
    * [[tombstoneDocs]] (takedown wins over interleaved re-admission).
    */
  def applyTombstones(spark: SparkSession, a: Artifacts): Report = {
    val roots = overlayRoots(a)
    val ids = roots.map(r => graft.sources.Tombstones.readIds(spark, r))
      .reduce(_ unionAll _).distinct()
    if (ids.isEmpty) Report(0L, 0L)
    else retractDocs(spark, ids, "__ts_id", a)
  }

  /** Excise `ids` from every configured artifact, then from the corpus.
    * Safe to re-run (see ordering contract above).
    */
  def retractDocs(spark: SparkSession, ids: DataFrame, idsCol: String,
                  a: Artifacts): Report = {
    val keys = ids.select(col(idsCol).cast("long").as("__rid")).distinct()
      .localCheckpoint(true)
    try {
      val requested = keys.count()
      // a deployment with no corpus yet (e.g. a quarantined batch
      // rejected before ANY admission) has nothing to excise anywhere —
      // every artifact is born with its first corpus append. Tombstone
      // overlays for the ids still retire (empty indexes serve nothing,
      // and a stale tombstone would hide a future admission of the id).
      if (!new java.io.File(a.corpusPath).exists()) {
        graft.sources.Compaction.parEach(overlayRoots(a)) { r =>
          graft.sources.Tombstones.retire(spark, r, keys, "__rid")
        }
        return Report(requested, 0L)
      }
      // the docs' full rows, read BEFORE any rewrite: the text-pruned and
      // key-pruned excisions derive their partition lists from them
      val corpus = spark.read.parquet(a.corpusPath)
      val docs = corpus
        .join(broadcast(keys), corpus(a.idCol).cast("long") === col("__rid"),
          "left_semi")
        .localCheckpoint(true)
      try {
        val found = docs.count()
        // SATELLITE RE-CLOSURE input, derived BEFORE any excision (the
        // orphans are only visible while the label store still holds
        // the retracted canonical's star, and their pairs only while
        // the MinHash index still holds every signature): survivors of
        // a retracted canonical re-derive their mutual pairs from the
        // stored signatures at the admission threshold. A crash between
        // the label-store excision and the re-closure below degrades to
        // orphaned singletons (the pre-re-closure behavior, never a
        // wrong answer) — re-derivable from the surviving corpus
        // through the dedup gates.
        val orphanPairs: Option[DataFrame] =
          (a.dupLabelsPath, a.minhashIndexPath) match {
            case (Some(lp), Some(mp)) =>
              // the RAW store, overlay ignored: a lazily-tombstoned
              // canonical's satellite rows are hidden from serves, but
              // the physical pass must still see them to re-close
              val lbl = Components.readLabelStoreRaw(spark, lp)
              val orphans = lbl
                .join(broadcast(keys.select(col("__rid").as("__rc"))),
                  col("component") === col("__rc"), "left_semi")
                .join(broadcast(keys.select(col("__rid").as("__ri"))),
                  col("id") === col("__ri"), "left_anti")
                .select("id")
              val pairs = Dedup.pairsFromMinhashIndex(spark, mp, orphans,
                  "id", a.dupThreshold)
                .select("id_a", "id_b").localCheckpoint(true)
              if (pairs.isEmpty) {
                org.apache.spark.sql.GraftBridge.unpersistCheckpoint(pairs)
                None
              } else Some(pairs)
            case _ => None
          }
        // found == 0 means either a completed prior run (the corpus is
        // the LAST commit point, so its absence implies every index
        // excision already committed) or ids that were never admitted —
        // in both cases the corpus-fed indexes hold nothing for them,
        // so the rewrites are skipped. The LABEL STORE is the one
        // artifact that records ids that never reached the corpus
        // (near-dups attributed to a survivor at the gate), so its
        // excision runs regardless — retracting a doc that was dropped
        // as a duplicate must still erase its provenance row.
        // INDEPENDENT artifact excisions fan out on driver threads
        // (guide §2.6: actions are only sequential because the driver
        // calls them sequentially — each excision here is a short
        // pruned-leaf rewrite whose tasks nowhere near fill the
        // cluster, so overlapping them back-fills the idle cores).
        // Every track touches its OWN directory tree and inputs are
        // pre-materialized (`keys`/`docs`/`orphanPairs` are local
        // checkpoints), so tracks share nothing but the SparkContext,
        // which schedules concurrent jobs FIFO. The crash contract is
        // unchanged: excision order among indexes was never load-
        // bearing — any interleaving of a crash re-heals on re-run
        // because the corpus (the commit point) still rewrites strictly
        // LAST, below.
        val tracks = Seq.newBuilder[() => Unit]
        if (found > 0) {
          a.textIndex.foreach { cfg => tracks += (() =>
            graft.sources.TextIndex.retract(spark, cfg, docs, a.idCol,
              a.textCol))
          }
          a.exactKeys.foreach { cfg => tracks += (() =>
            graft.sources.BloomKeyIndex.retractKeys(docs, cfg))
          }
          a.minhashIndexPath.foreach { p => tracks += (() =>
            Dedup.retractFromMinhashIndex(spark, p, keys, "__rid"))
          }
          // the ANN index is IVF-family: raw vectors under data/ (plain
          // IVF) or codes under codes/ (IVF-PQ); retract reads only the
          // codec's table dir
          (a.annIndexPath.map(p => CellIndex(p, CellAssigner.Voronoi(),
              if (Similarity.cellTableDir(spark, p).endsWith("/data"))
                VectorCodec.Exact
              else Pq.Codec()) -> a.annIdCol) ++
            a.lshIndexPath.map(CellIndex(_, CellAssigner.Hyperplane(),
              VectorCodec.Exact) -> a.lshIdCol) ++
            a.sqIndexPath.map(FlatIndex(_, VectorCodec.Sq8) -> a.sqIdCol) ++
            a.bqIndexPath.map(FlatIndex(_, VectorCodec.Bq) -> a.bqIdCol))
            .foreach { case (ix, idCol) => tracks += (() =>
              ix.retract(spark, keys, "__rid", idCol))
            }
          a.mediaIndexPath.foreach { p => tracks += (() =>
            Multimodal.retractFromMediaIndex(spark, p, keys, "__rid"))
          }
          a.forwardStorePath.foreach { p => tracks += (() =>
            graft.sources.Bucketing.retractKeyBucketed(spark, p, keys,
              "__rid", a.idCol))
          }
        }
        // the label store rides its own track: excision, then the
        // satellite re-closure from the pre-derived pairs (the label
        // store's own incremental machinery does the closure; the star
        // rows pointing at the retracted canonical are gone, so the
        // closure runs over exactly the orphan pairs) — sequential
        // WITHIN the track, independent of every other artifact
        a.dupLabelsPath.foreach { p => tracks += (() => {
          Components.retractFromLabelStore(spark, p, keys, "__rid")
          orphanPairs.foreach { pairs =>
            try Components.updateLabelStore(spark, p,
              pairs, "id_a", "id_b",
              partitions = Components.storePartitions(p).getOrElse(0))
            finally org.apache.spark.sql.GraftBridge
              .unpersistCheckpoint(pairs)
          }
        })}
        graft.sources.Compaction.parEach(tracks.result())(_.apply())
        // corpus LAST among the excisions — the commit point after
        // which a re-run is a found=0 no-op
        if (found > 0) a.corpusPartitionCol match {
          case None =>
            graft.sources.Compaction.retractRows(spark, a.corpusPath, keys,
              (t, k) => t(a.idCol).cast("long") === k("__rid"))
          case Some(pc) =>
            // touched partitions from the docs' own rows — bounded by
            // the takedown set; only those leaves rewrite
            val touched = docs.select(col(pc).cast("string")).distinct()
              .collect().map(_.getString(0)).toSeq
            graft.sources.Compaction.rewriteLeaves(spark, a.corpusPath,
              pc, touched,
              df => df.join(broadcast(keys),
                df(a.idCol).cast("long") === keys("__rid"), "left_anti"))
        }
        // ALREADY-SHIPPED export epochs, strictly AFTER the corpus
        // commit: retractFromExport's ledger excision re-opens delta
        // membership, so it may only run once the corpus no longer
        // serves the ids (corpus-first makes a re-ship unreachable).
        // Like the label store it runs even when found = 0 — the
        // ledgers record ids whose corpus rows are already gone (a
        // crashed prior pass, or ids shipped then excised eagerly),
        // and absent ids are a no-op by construction.
        a.exportRoots.foreach { r =>
          retractFromExport(spark, r, keys, "__rid", a.idCol)
        }
        // tombstone overlays retire LAST — after the corpus commit,
        // never before: the overlays are [[applyTombstones]]'s only
        // memory of the request, so retiring them while corpus rows
        // still exist would strand those rows forever if this process
        // died before the corpus rewrite (visible again, on no
        // worklist). A crash between the corpus commit and this loop
        // merely leaves STALE tombstones: the next physical pass finds
        // found = 0, every excision no-ops, and the retirement
        // completes (spec: "crash window between corpus commit and
        // overlay retirement self-heals"). Ids that were never admitted
        // (or already excised) retire too — their indexes hold nothing,
        // and a stale tombstone would hide the id's future re-admission.
        graft.sources.Compaction.parEach(overlayRoots(a)) { r =>
          graft.sources.Tombstones.retire(spark, r, keys, "__rid")
        }
        Report(requested, found)
      } finally org.apache.spark.sql.GraftBridge.unpersistCheckpoint(docs)
    } finally org.apache.spark.sql.GraftBridge.unpersistCheckpoint(keys)
  }

  /** The corpus SERVING face — the raw scan anti-joined against the
    * corpus's own tombstone overlay, so a corpus-scale read during the
    * lazy window (above all: a TRAINING-DATA EXPORT) never ships a
    * tombstoned document, exactly as every index serve already refuses
    * to. Identity when nothing is pending (one driver-side directory
    * check — a deployment that never tombstones pays nothing).
    *
    * Consumer classification, the SERVE-vs-PHYSICAL discipline every
    * overlay-carrying artifact follows: exports, quality filters,
    * decontamination scans, and any downstream training-manifest read
    * go through THIS face; the physical pass ([[retractDocs]]'s
    * excisions, [[graft.sources.TextIndex.healStats]]-style
    * measurement, satellite re-closure derivation) keeps reading the
    * raw path — it must still see what it is about to excise.
    */
  def readCorpusServed(spark: SparkSession, a: Artifacts): DataFrame =
    graft.sources.Tombstones.exclude(
      spark.read.parquet(a.corpusPath), a.corpusPath, col(a.idCol))

  /** Training-data EXPORT: [[readCorpusServed]] materialized to
    * `outPath` — the one consumer where "serving face" and "corpus
    * scan" coincide, and the surface a takedown SLA is ultimately
    * about. Returns the exported row count.
    */
  def exportCorpus(spark: SparkSession, a: Artifacts,
                   outPath: String): Long = {
    val obs = new org.apache.spark.sql.Observation
    readCorpusServed(spark, a).observe(obs, count(lit(1)).as("n"))
      .write.mode("overwrite").parquet(outPath)
    obs.get("n").asInstanceOf[Long]
  }

  /** TRAINING-SHARD EXPORT — the full "ship to the trainer" verb, the
    * composition a data loader actually consumes: the SERVED corpus
    * ([[readCorpusServed]] — tombstone-clean during a lazy-takedown
    * window), deterministically pseudo-shuffled, token-budget packed
    * ([[Packing.packByBudget]]), and laid down as `shard=` partitions
    * with a per-shard manifest.
    *
    * The shuffle is a Knuth multiplicative hash
    * `h = (id · 2654435761) mod 2³²` — plain integer arithmetic, so the
    * ENTIRE assignment (shard = h mod `shards`, within-shard order = h,
    * sequence = cumulative-token window) is reproducible in any engine:
    * the `q_export_shards` DuckDB twin recomputes it bit-for-bit, which
    * no RNG-based shuffle allows. An odd multiplier mod 2³² is a
    * bijection on [0, 2³²), so distinct 32-bit ids never collide and the
    * within-shard order is a total order — re-running the export (or
    * running it on another cluster) yields byte-identical assignments.
    * Ids must fit in 31 bits (checked up front, loudly): beyond that the
    * multiply would overflow differently across engines. Scale shape:
    * one served scan + one hash-partitioned window per shard (no global
    * sort), one dynamic-partitioned write, staged + atomically swapped.
    *
    * Returns the per-shard manifest (shard, n_docs, n_tokens,
    * n_sequences), also persisted at `outPath/_manifest` — the
    * reproducibility receipt a training run records.
    *
    * Takedown story for THIS (full, ledger-less) verb's output: re-run
    * the export — it rewrites the whole tree from the served corpus,
    * which already excludes everything tombstoned, and a full rewrite
    * is this verb's own cost model (one pass either way). Only the
    * incremental verb's immutable epochs need the pruned
    * [[retractFromExport]]; a mixed deployment wires those roots into
    * [[Artifacts.exportRoots]] and re-runs full exports on demand.
    */
  /** The export receipt's schema — ONE definition shared by the full
    * and incremental verbs' empty-result paths, so the two receipts can
    * never diverge (incremental appends its `epoch` column).
    */
  private val manifestSchema = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("shard",
      org.apache.spark.sql.types.IntegerType),
    org.apache.spark.sql.types.StructField("n_docs",
      org.apache.spark.sql.types.LongType),
    org.apache.spark.sql.types.StructField("n_tokens",
      org.apache.spark.sql.types.LongType),
    org.apache.spark.sql.types.StructField("n_sequences",
      org.apache.spark.sql.types.LongType)))

  /** The export family's pseudo-shuffle key — ONE definition of the
    * Knuth multiplicative hash `h = (id · 2654435761) mod 2³²`, shared
    * by the full verb, the incremental verb, the shipped-epoch
    * takedown and the q_export_takedown fixture, so no copy can drift
    * (a drifted copy would silently re-deal which leaf a takedown
    * rewrites — exactly the hazard the `_shards` pin guards against
    * for the COUNT, guarded here for the EXPRESSION).
    */
  private[graft] def exportHash(id: org.apache.spark.sql.Column)
      : org.apache.spark.sql.Column =
    pmod(id.cast("long") * lit(2654435761L), lit(4294967296L))

  /** `shard = h mod shards` — the deal over [[exportHash]]. The
    * Column-count form exists for the one site that deals MANY epochs'
    * pins in one plan ([[retractFromExport]]'s unioned worklist scan);
    * both forms are the same expression, so the deal still has exactly
    * one definition.
    */
  private[graft] def exportShard(h: org.apache.spark.sql.Column,
                                 shards: org.apache.spark.sql.Column)
      : org.apache.spark.sql.Column =
    pmod(h, shards).cast("int")

  private[graft] def exportShard(h: org.apache.spark.sql.Column,
                                 shards: Int)
      : org.apache.spark.sql.Column =
    exportShard(h, lit(shards))

  def exportTrainingShards(spark: SparkSession, a: Artifacts,
                           outPath: String, shards: Int,
                           tokenBudget: Int): DataFrame = {
    require(shards > 0, s"shards=$shards")
    require(tokenBudget > 0, s"tokenBudget=$tokenBudget")
    val served = readCorpusServed(spark, a)
    val assigned = Packing.packByBudget(
      served
        .withColumn("__h", exportHash(col(a.idCol)))
        .withColumn("shard", exportShard(col("__h"), shards))
        .withColumn("n_tokens",
          graft.functions.TextAnalysis.tokenCount(col(a.textCol))),
      "shard", "__h", "n_tokens", tokenBudget)
      .drop("__h")
    // ONE served-corpus scan (the incremental twin's shape): the
    // id-bounds check and the emptiness test ride the staged write as
    // observed metrics. BOTH bounds matter — a negative id would pass a
    // max-only guard, and Spark's pmod vs a C-style % disagree on
    // negative operands, breaking the cross-engine bit-for-bit contract
    // silently. An out-of-bounds id throws AFTER the staged write but
    // BEFORE install (the staging is rebuilt fresh by the next call and
    // vacuum-swept); at 100 TB the separate bounds aggregate this
    // replaces was a second full pass over the served corpus.
    graft.sources.Compaction.replace(outPath, "export") { staging =>
      val obs = new org.apache.spark.sql.Observation
      assigned.observe(obs, count(lit(1)).as("n"),
          min(col(a.idCol).cast("long")).as("lo"),
          max(col(a.idCol).cast("long")).as("hi"))
        .write.partitionBy("shard").parquet(staging.toString)
      val manifest =
        if (obs.get("n").asInstanceOf[Long] == 0L) {
          // EMPTY served corpus (everything tombstoned, or export before
          // the first admission): a partitionBy write of zero rows stages
          // only a _SUCCESS marker, which a parquet read cannot infer a
          // schema from — install an explicitly-typed empty manifest
          // instead so the verb stays total and the receipt says "zero
          // shards" loudly.
          graft.sources.Compaction.rm(staging)
          spark.createDataFrame(
            new java.util.ArrayList[org.apache.spark.sql.Row](),
            manifestSchema)
        } else {
          val (exLo, exHi) = (obs.get("lo").asInstanceOf[Long],
            obs.get("hi").asInstanceOf[Long])
          require(exLo >= 0 && exHi < (1L << 31),
            s"exportTrainingShards needs ids in [0, 2^31): " +
              s"[$exLo, $exHi] would overflow the cross-engine hash")
          // manifest from the STAGED files (what will actually serve),
          // riding the same atomic swap so data + receipt install together
          graft.sources.Compaction.readParquet(spark, Seq(staging.toString))
            .groupBy("shard")
            .agg(count(lit(1)).as("n_docs"),
              sum("n_tokens").as("n_tokens"),
              countDistinct("seq_id").as("n_sequences"))
        }
      manifest.coalesce(1).write
        .parquet(new java.io.File(staging, "_manifest").toString)
      true
    }
    graft.sources.Compaction.readParquet(spark, Seq(s"$outPath/_manifest"))
  }

  /** INCREMENTAL training-shard export — the daily delta ship, the
    * [[graft.sources.ZOrder.reclusterDecayed]] stance applied to
    * [[exportTrainingShards]]: at 100 TB a full re-export per corpus
    * batch is prohibitive, so each call ships ONLY the served docs no
    * previous epoch shipped, as a new `epoch=N` directory under
    * `outRoot`. Shard assignment is the same Knuth hash (`shard =
    * h mod shards`, pinned via an `_shards` sidecar INSIDE each
    * installed epoch — it rides the epoch's atomic rename, so shipped
    * epochs are never unpinned and nothing pins before anything ships —
    * and checked loudly against the oldest epoch: a changed shard count
    * would silently re-deal every doc), so a
    * trainer's shard K is simply the union of every epoch's `shard=K`
    * directory: epochs never rewrite each other, and within an epoch the
    * assignment carries the same bit-for-bit cross-engine contract as
    * the full verb (the `q_export_delta` DuckDB twin recomputes both
    * epochs). Token-budget packing runs per epoch (sequences never
    * span a shipping boundary — each epoch is a self-contained set of
    * training sequences).
    *
    * Membership ledger: each epoch persists its shipped ids at
    * `epoch=N/_ids` (column-pruned, `_`-invisible to data scans); the
    * next call anti-joins the served corpus against the union of all
    * prior ledgers. A doc tombstoned AFTER it shipped is not re-judged
    * here — shipped epochs are immutable under the daily cadence
    * (epochs never rewrite each other); the takedown verb for
    * already-shipped data is [[retractFromExport]], a ledger-pruned
    * (epoch, shard) excision that runs on the takedown cadence itself
    * (wire the root into [[Artifacts.exportRoots]]). The reference
    * contrast: a DELETE is invisible to NEW queries, not to
    * yesterday's backups — here even the backups join the cadence.
    *
    * Returns the new epoch's manifest (shard, n_docs, n_tokens,
    * n_sequences, epoch); an EMPTY delta returns an empty manifest and
    * creates no epoch — the verb is an idempotent daily cadence.
    * Crash contract: the epoch stages as a dot-prefixed sibling inside
    * `outRoot` (invisible to partition discovery) and installs by ONE
    * [[graft.sources.Compaction.replace]]; a crashed staging is rebuilt
    * fresh by the next call and swept by
    * [[graft.sources.Compaction.vacuum]].
    */
  def exportTrainingShardsIncremental(spark: SparkSession, a: Artifacts,
                                      outRoot: String, shards: Int,
                                      tokenBudget: Int): DataFrame = {
    require(shards > 0, s"shards=$shards")
    require(tokenBudget > 0, s"tokenBudget=$tokenBudget")
    val root = new java.io.File(outRoot)
    root.mkdirs()
    val epochs = Option(root.listFiles()).getOrElse(Array.empty)
      .filter(f => f.isDirectory && f.getName.startsWith("epoch="))
      .map(_.getName.stripPrefix("epoch=").toInt)
    // the shard-count pin lives INSIDE each installed epoch (it rode
    // that epoch's atomic rename), so there is no crash window where
    // shipped epochs exist unpinned, and nothing is pinned before
    // anything ships — a first call that fails or ships nothing leaves
    // the root reconfigurable
    epochs.sorted.headOption.foreach { e =>
      val pin = new java.io.File(root, s"epoch=$e/_shards")
      if (pin.exists()) {
        val pinned = java.nio.file.Files.readString(pin.toPath).trim.toInt
        require(pinned == shards,
          s"export root $outRoot is pinned to shards=$pinned, got " +
            s"$shards — a different count re-deals every doc's shard")
      }
    }
    val next = if (epochs.isEmpty) 0 else epochs.max + 1
    val served = readCorpusServed(spark, a)
    val delta =
      if (epochs.isEmpty) served
      else served.join(
        graft.sources.Compaction.readParquet(spark,
          epochs.map(e => s"$outRoot/epoch=$e/_ids").toIndexedSeq)
          .select(a.idCol),
        Seq(a.idCol), "left_anti")
    val assigned = Packing.packByBudget(
      delta
        .withColumn("__h", exportHash(col(a.idCol)))
        .withColumn("shard", exportShard(col("__h"), shards))
        .withColumn("n_tokens",
          graft.functions.TextAnalysis.tokenCount(col(a.textCol))),
      "shard", "__h", "n_tokens", tokenBudget)
      .drop("__h")
    val epochDir = new java.io.File(root, s"epoch=$next")
    // ONE scan: the id-bounds check and the emptiness test ride the
    // write as observed metrics — an out-of-bounds id throws AFTER the
    // staged write but BEFORE install (the staging is rebuilt fresh by
    // the next call and vacuum-swept), and an empty delta discards the
    // row-less staging without ever re-scanning the corpus
    val shipped = graft.sources.Compaction.replace(epochDir.toString,
        "export") { staging =>
      val obs = new org.apache.spark.sql.Observation
      assigned.observe(obs, count(lit(1)).as("n"),
          min(col(a.idCol).cast("long")).as("lo"),
          max(col(a.idCol).cast("long")).as("hi"))
        .write.partitionBy("shard").parquet(staging.toString)
      if (obs.get("n").asInstanceOf[Long] == 0L) false
      else {
        val (lo, hi) = (obs.get("lo").asInstanceOf[Long],
          obs.get("hi").asInstanceOf[Long])
        require(lo >= 0 && hi < (1L << 31),
          s"exportTrainingShardsIncremental needs ids in [0, 2^31): " +
            s"[$lo, $hi] would overflow the cross-engine hash")
        val staged =
          graft.sources.Compaction.readParquet(spark, Seq(staging.toString))
        staged.select(a.idCol).coalesce(1).write
          .parquet(new java.io.File(staging, "_ids").toString)
        java.nio.file.Files.writeString(
          new java.io.File(staging, "_shards").toPath, shards.toString)
        staged.groupBy("shard")
          .agg(count(lit(1)).as("n_docs"),
            sum("n_tokens").as("n_tokens"),
            countDistinct("seq_id").as("n_sequences"))
          .withColumn("epoch", lit(next))
          .coalesce(1).write
          .parquet(new java.io.File(staging, "_manifest").toString)
        true
      }
    }
    if (shipped)
      graft.sources.Compaction.readParquet(spark, Seq(s"$epochDir/_manifest"))
    else spark.createDataFrame(
      new java.util.ArrayList[org.apache.spark.sql.Row](),
      manifestSchema.add("epoch", org.apache.spark.sql.types.IntegerType))
  }

  /** What [[retractFromExport]] did: ids asked, epochs whose ledger held
    * any of them, shard leaves actually touched (rewritten, or removed
    * whole when the takedown emptied them — NOT the arithmetic
    * worklist, which a convergence re-run can find already gone), and
    * (epoch, id) ledger rows removed (an id shipped in exactly one
    * epoch, so this is also the distinct-doc count excised).
    */
  case class ExportRetractReport(requested: Long, epochsTouched: Long,
                                 shardsRewritten: Long, docsRemoved: Long)

  /** TAKEDOWN for ALREADY-SHIPPED export epochs — the verb that closes
    * [[exportTrainingShardsIncremental]]'s immutability caveat: shipped
    * epochs are immutable under the DAILY cadence (epochs never rewrite
    * each other), but a takedown request reaches what was shipped too,
    * and "re-export everything" is prohibitive by the incremental verb's
    * own 100 TB argument. The `_ids` ledgers make a PRUNED excision
    * cheap, and the shard assignment being pure id arithmetic makes it
    * cheaper still:
    *
    *  1. the takedown set semi-joins EVERY epoch's `_ids` ledger in ONE
    *     unioned column-pruned job (each child scan tagged with its
    *     epoch and `_shards` pin as literals) whose per-epoch aggregate
    *     is the complete (epoch → hits, touched shards) worklist — zero
    *     data files opened for epochs that shipped none of the ids, and
    *     a multi-year root with zero hits pays ONE small job, not one
    *     ledger count per epoch;
    *  2. the touched shard leaves come from ARITHMETIC, not a scan:
    *     `shard = (id · 2654435761 mod 2³²) mod shards` under the
    *     epoch's own `_shards` pin — the hit ids ARE the leaf list;
    *  3. only those `epoch=N/shard=S` leaves rewrite (broadcast
    *     anti-join, staged + atomically swapped — the [[retractDocs]]
    *     partitioned-corpus stance); a leaf left row-less is removed
    *     whole, untouched leaves stay byte-identical;
    *  4. the `_manifest` receipt re-derives its TOUCHED shards' rows
    *     from the rewritten leaves (untouched rows carried verbatim), so
    *     the receipt keeps describing exactly what a trainer can read;
    *  5. the `_ids` ledger rewrite runs LAST — it is both this verb's
    *     only pruning memory (a crash anywhere above leaves the hit ids
    *     in the ledger, so the next run re-derives the same worklist and
    *     every step above converges idempotently) and the incremental
    *     export's delta membership, so it must never forget an id whose
    *     rows still exist anywhere.
    *
    * Packed sequences are NOT re-packed: surviving rows keep their
    * (shard, seq_id) — re-packing would reassign sequences of UNTOUCHED
    * docs, destroying the bit-for-bit reproducibility of data the
    * takedown never covered. A sequence that lost docs simply carries
    * fewer tokens, which the recomputed manifest prices.
    *
    * Call it with ids the corpus itself no longer serves (tombstoned or
    * already excised): the ledger excision re-opens delta membership,
    * so an id still LIVE in the served corpus would re-ship on the next
    * incremental export. [[retractDocs]] wires this in AFTER its corpus
    * commit (set [[Artifacts.exportRoots]]), which makes that ordering
    * automatic for the whole takedown cadence.
    */
  def retractFromExport(spark: SparkSession, outRoot: String,
                        ids: DataFrame, idsCol: String,
                        idCol: String = "doc_id"): ExportRetractReport = {
    def hasParquet(d: java.io.File): Boolean =
      Option(d.listFiles()).getOrElse(Array.empty)
        .exists(f => f.isFile && f.getName.endsWith(".parquet"))
    val root = new java.io.File(outRoot)
    val keys = ids.select(col(idsCol).cast("long").as("__rid")).distinct()
      .localCheckpoint(true)
    try {
      val requested = keys.count()
      if (!root.exists() || requested == 0L)
        return ExportRetractReport(requested, 0L, 0L, 0L)
      val epochs = Option(root.listFiles()).getOrElse(Array.empty)
        .filter(f => f.isDirectory && f.getName.startsWith("epoch="))
        .sortBy(_.getName.stripPrefix("epoch=").toInt)
      // LOUD on silent miswiring (the reclusterDecayed flat-root-guard
      // stance): an epoch dir that ships data without an _ids ledger —
      // or a root in exportRoots holding parquet data with no epoch=
      // layout at all (a full, ledger-less export root) — would make
      // the takedown cadence report success while shipped data still
      // serves the ids.
      def shipsData(d: java.io.File): Boolean =
        Option(d.listFiles()).getOrElse(Array.empty)
          .exists(sh => sh.isDirectory && sh.getName.startsWith("shard=")
            && hasParquet(sh))
      epochs.foreach { e =>
        require(new java.io.File(e, "_ids").exists() || !shipsData(e),
          s"$e ships shard data but carries no _ids ledger — a " +
            "takedown cannot prune it; only " +
            "exportTrainingShardsIncremental epochs belong in " +
            "Artifacts.exportRoots")
      }
      require(epochs.nonEmpty || !shipsData(root),
        s"$outRoot ships shard data but has no epoch= layout — a full " +
          "(ledger-less) export root cannot take pruned takedowns; " +
          "re-run the full export against the served corpus instead " +
          "of wiring it into Artifacts.exportRoots")
      // the complete (epoch, shard) worklist from ONE job: every
      // epoch's column-pruned _ids ledger rides a single unioned scan
      // (its epoch number and _shards pin attached as literals), the
      // takedown set semi-joins once, and a per-epoch aggregate carries
      // the hit count plus the touched-shard set via the shared deal
      // arithmetic. A multi-year root with zero hits pays one small job
      // instead of one ledger-count job PER epoch.
      val ledgered = epochs.flatMap { epochDir =>
        val ledgerDir = new java.io.File(epochDir, "_ids")
        if (!ledgerDir.exists()) None
        else {
          val pin = new java.io.File(epochDir, "_shards")
          require(pin.exists(),
            s"$epochDir holds an _ids ledger but no _shards pin — " +
              "not an exportTrainingShardsIncremental epoch")
          Some((epochDir,
            java.nio.file.Files.readString(pin.toPath).trim.toInt,
            ledgerDir))
        }
      }
      val worklist: Seq[(Int, Long, Seq[Int])] =
        if (ledgered.isEmpty) Nil
        else ledgered.map { case (epochDir, nShards, ledgerDir) =>
            graft.sources.Compaction.readParquet(spark,
                Seq(ledgerDir.toString))
              .select(col(idCol).cast("long").as("__lid"),
                lit(epochDir.getName.stripPrefix("epoch=").toInt)
                  .as("__epoch"),
                lit(nShards).as("__ns"))
          }
          .reduce(_ unionAll _)
          .join(broadcast(keys), col("__lid") === col("__rid"),
            "left_semi")
          .groupBy("__epoch")
          .agg(count(lit(1)).as("__n"),
            collect_set(exportShard(exportHash(col("__lid")),
              col("__ns"))).as("__shards"))
          .collect()
          .map(r => (r.getInt(0), r.getLong(1),
            r.getSeq[Int](2).sorted))
          .sortBy(_._1).toIndexedSeq
      val epochsTouched = worklist.size.toLong
      val docsRemoved = worklist.map(_._2).sum
      val shardsRewrittenTotal =
        new java.util.concurrent.atomic.AtomicLong(0L)
      // hit epochs are independent (own leaves, own receipt, own
      // ledger; the per-epoch commit contract below is WITHIN an
      // epoch) — rewrite them concurrently, leaves concurrently within
      // each
      graft.sources.Compaction.parEach(worklist) {
        case (epoch, _, touched) =>
          val epochDir = new java.io.File(root, s"epoch=$epoch")
          locally {
            val rewrote = new java.util.concurrent.atomic.AtomicLong(0L)
            graft.sources.Compaction.parEach(touched) { sv =>
              val leaf = new java.io.File(epochDir, s"shard=$sv")
              if (hasParquet(leaf)) {
                rewrote.incrementAndGet()
                // a leaf the takedown empties installs nothing: it is
                // removed WHOLE — a schema-only stub would serve nothing
                // but still carry a receipt row, and readers and
                // manifests must agree the shard is gone from this epoch
                graft.sources.Compaction.replace(leaf.toString, "retract") {
                  staging =>
                    val leafDf = spark.read.parquet(leaf.toString)
                    val obs = new org.apache.spark.sql.Observation
                    leafDf.join(broadcast(keys),
                        leafDf(idCol).cast("long") === keys("__rid"),
                        "left_anti")
                      .observe(obs, count(lit(1)).as("n"))
                      .write.parquet(staging.toString)
                    obs.get("n").asInstanceOf[Long] > 0L
                }
              }
            }
            // count LEAVES ACTUALLY TOUCHED (rewritten or removed), not
            // the arithmetic worklist — a re-run converging a prior
            // crash finds some leaves already gone, and a report that
            // over-counts reads as phantom drift to a reconciling audit
            shardsRewrittenTotal.addAndGet(rewrote.get())
            // receipt fixup: touched shards re-derived from the leaves
            // as rewritten (disk truth — a crashed prior pass converges
            // here too), untouched rows carried verbatim
            val manifestDir = new java.io.File(epochDir, "_manifest")
            val untouched = graft.sources.Compaction.readParquet(spark,
              Seq(manifestDir.toString))
              .where(!col("shard").isin(touched: _*))
            val recomputed = touched
              .map(sv => new java.io.File(epochDir, s"shard=$sv"))
              .filter(hasParquet)
              .map { leaf =>
                val sv = leaf.getName.stripPrefix("shard=").toInt
                spark.read.parquet(leaf.toString)
                  .agg(count(lit(1)).as("n_docs"),
                    sum("n_tokens").as("n_tokens"),
                    countDistinct("seq_id").as("n_sequences"))
                  .where(col("n_docs") > 0) // a stale empty stub owns no row
                  .select(lit(sv).as("shard"), col("n_docs"),
                    col("n_tokens"), col("n_sequences"),
                    lit(epoch).as("epoch"))
              }
            graft.sources.Compaction.replace(manifestDir.toString,
                "retract") { staging =>
              recomputed.foldLeft(untouched)(_ unionByName _)
                .coalesce(1).write.parquet(staging.toString)
              true
            }
            // ledger LAST — the commit point (see the contract above)
            graft.sources.Compaction.retractRows(spark,
              new java.io.File(epochDir, "_ids").toString, keys,
              (t, k) => t(idCol).cast("long") === k("__rid"))
          }
      }
      ExportRetractReport(requested, epochsTouched,
        shardsRewrittenTotal.get(), docsRemoved)
    } finally org.apache.spark.sql.GraftBridge.unpersistCheckpoint(keys)
  }

  /** One artifact's row in the [[audit]] report. `missing`/`extra_*`
    * are DISTINCT-ID counts; `missing` is -1 for artifacts that cover
    * the corpus only partially BY DESIGN (label store: duped docs only;
    * ANN/media: only docs with that modality), where absence is not
    * drift.
    */
  case class AuditRow(artifact: String, ids: Long, missing: Long,
                      missing_pending: Long, extra_leaked: Long,
                      extra_pending: Long)

  /** Cross-artifact CONSISTENCY AUDIT — the independent auditor for the
    * whole derived-artifact set, the [[graft.sources.TextIndex.healStats]]
    * stance generalized from one statistic to MEMBERSHIP itself: every
    * takedown/append verb documents its crash window and how it
    * converges, and this verb is how a deployment PROVES convergence
    * happened instead of trusting it. Per configured artifact, the
    * distinct-id sets are compared against the corpus (raw read — the
    * physical truth):
    *
    *  - `missing`  = corpus ids absent from the artifact. Real drift for
    *    full-coverage artifacts (text index, MinHash index, forward
    *    store — the loop feeds every admitted doc to each); reported as
    *    -1 for subset-by-design artifacts. Docs the artifact is
    *    STRUCTURALLY unable to hold are excluded first (a zero-token doc
    *    has no postings; a sub-shingle-length doc has a null MinHash
    *    signature) — their absence is the artifact's admission predicate
    *    at work, not drift, and the predicate is re-derived over the
    *    would-be-missing set only (bounded by drift size). Split: ids
    *    with a PENDING
    *    corpus tombstone count as `missing_pending` (a takedown mid-
    *    flight — indexes excise before the corpus commits, so this state
    *    is expected and self-heals on the next cadence), the rest are
    *    `missing` proper (e.g. a half-landed append).
    *  - `extra`    = artifact ids absent from the corpus. Split by the
    *    ARTIFACT root's own overlay: `extra_pending` ids are hidden from
    *    every serve (harmless, awaiting the physical pass);
    *    `extra_leaked` ids are SERVING while the corpus no longer has
    *    them — the alarm this verb exists to raise (can only arise from
    *    out-of-band mutation: the verbs' own ordering — indexes first,
    *    corpus last — never produces it). Remedy note: an extra id is
    *    invisible to the corpus-driven cadence ([[retractDocs]] derives
    *    its pruned partition lists from CORPUS rows, which an index-only
    *    stray has none of) — excise it with the ARTIFACT-level verb
    *    (e.g. [[graft.sources.TextIndex.retract]] with the stray's own
    *    text) and retire its tombstone if one was filed.
    *
    * Cost shape at 100 TB: one column-pruned distinct-id projection per
    * artifact plus broadcast-against-corpus anti-joins — the same class
    * as the maintenance scans the cadence already pays; corpus ids are
    * localCheckpointed once and shared across all comparisons. Run it on
    * the audit cadence, not per query.
    */
  def audit(spark: SparkSession, a: Artifacts): DataFrame = {
    import spark.implicits._
    val corpusIds = spark.read.parquet(a.corpusPath)
      .select(col(a.idCol).cast("long").as("__cid")).distinct()
      .localCheckpoint(true)
    try {
      val corpusPending = graft.sources.Tombstones
        .readIds(spark, a.corpusPath)
      // A "full-coverage" artifact can still be structurally unable to
      // hold some docs: the MinHash index drops null signatures (text
      // shorter than one shingle), the text index writes no postings for
      // a zero-token doc. Those docs were never supposed to be there, so
      // counting them `missing` would make [[maintain]]'s membership
      // audit throw on a HEALTHY deployment. `eligible` re-derives the
      // artifact's own admission predicate over the would-be-missing ids
      // only — the missing set is empty on a converged deployment, so
      // the text join is bounded by drift size, not corpus size.
      // Drift-bounded by CONSTRUCTION, not by comment: the corpus text
      // joins onto the (converged: empty) missing set FIRST, and the
      // admission predicate evaluates gated on a both-sides `when` —
      // a bare corpus-side predicate would be split off and pushed
      // below the join by Catalyst, re-deriving admission (e.g. a
      // MinHash signature over every corpus row) for the FULL corpus
      // on every audit of a drifted deployment.
      def eligibleOnly(missing: DataFrame,
                       pred: org.apache.spark.sql.Column): DataFrame = {
        val hits = missing.select(col("__cid").as("__mid"))
          .join(spark.read.parquet(a.corpusPath)
              .select(col(a.idCol).cast("long").as("__eid"),
                col(a.textCol).as("__etext")),
            col("__mid") === col("__eid"))
          .where(when(col("__mid").isNotNull, pred).otherwise(lit(false)))
          .select("__mid")
        missing.join(hits, missing("__cid") === hits("__mid"), "left_semi")
      }
      def row(name: String, artifactIds: DataFrame, root: String,
              fullCoverage: Boolean,
              eligible: Option[DataFrame => DataFrame] = None): AuditRow = {
        val aids = artifactIds
          .select(col(artifactIds.columns.head).cast("long").as("__aid"))
          .distinct()
        val (miss, missPending) = if (!fullCoverage) (-1L, -1L) else {
          val m0 = corpusIds
            .join(aids, corpusIds("__cid") === aids("__aid"), "left_anti")
          val m = eligible.fold(m0)(f => f(m0))
          val mp = m.join(broadcast(corpusPending),
            m("__cid") === corpusPending("__ts_id"), "left_semi").count()
          (m.count() - mp, mp)
        }
        val extra = aids
          .join(corpusIds, aids("__aid") === corpusIds("__cid"),
            "left_anti")
        val pending = graft.sources.Tombstones.readIds(spark, root)
        val ep = extra.join(broadcast(pending),
          extra("__aid") === pending("__ts_id"), "left_semi").count()
        AuditRow(name, aids.count(), miss, missPending,
          extra.count() - ep, ep)
      }
      def exists(p: String) = new java.io.File(p).exists()
      val rows = Seq.newBuilder[AuditRow]
      a.textIndex.foreach { cfg =>
        if (exists(s"${cfg.indexPath}/postings"))
          rows += row("text_index",
            spark.read.parquet(s"${cfg.indexPath}/postings")
              .select("doc_id"),
            cfg.indexPath, fullCoverage = true,
            // a zero-token doc writes no postings rows by construction
            eligible = Some(m => eligibleOnly(m,
              size(graft.sources.TextIndex.tokens("__etext")) > 0)))
      }
      a.minhashIndexPath.foreach { p =>
        if (exists(s"$p/data"))
          rows += row("minhash_index",
            spark.read.parquet(s"$p/data").select("corpus_id"),
            p, fullCoverage = true,
            // a null signature (text shorter than one shingle) never
            // enters the index — re-derive under the index's OWN pinned
            // parameters from its meta sidecar
            eligible = Some { m =>
              val (numHashes, _, shingleK) = Dedup.minhashMeta(spark, p)
              eligibleOnly(m, graft.functions.MinhashSig.minhashSig(
                graft.functions.HashedShingles.hashedShingles(
                  col("__etext"), shingleK), numHashes)
                .isNotNull)
            })
      }
      a.forwardStorePath.foreach { p =>
        if (exists(p))
          rows += row("forward_store",
            spark.read.parquet(p).select(a.idCol),
            p, fullCoverage = true)
      }
      // the ANN index is IVF-family: vectors under data/ (plain IVF) or
      // codes under codes/ (IVF-PQ, the corpus pipeline's layout)
      (a.annIndexPath.map(p => ("ann_index", p,
          Similarity.cellTableDir(spark, p), a.annIdCol)) ++
        a.lshIndexPath.map(p => ("lsh_index", p, s"$p/data", a.lshIdCol)) ++
        a.sqIndexPath.map(p => ("sq_index", p, s"$p/data", a.sqIdCol)) ++
        a.bqIndexPath.map(p => ("bq_index", p, s"$p/data", a.bqIdCol)))
        .foreach {
          case (name, p, table, idCol) if exists(table) =>
            rows += row(name, spark.read.parquet(table).select(idCol),
              p, fullCoverage = false)
          case _ => ()
        }
      a.mediaIndexPath.foreach { p =>
        if (exists(p))
          rows += row("media_index",
            spark.read.parquet(p).select("media_id"),
            p, fullCoverage = false)
      }
      a.dupLabelsPath.foreach { p =>
        val ids = Components.readLabelStoreRaw(spark, p).select("id")
        rows += row("label_store", ids, p, fullCoverage = false)
      }
      rows.result().toDF()
    } finally org.apache.spark.sql.GraftBridge
      .unpersistCheckpoint(corpusIds)
  }

  /** The MAINTENANCE CADENCE as one verb — what a deployment schedules
    * instead of remembering the recipe: (1) the physical pass over
    * every pending tombstone ([[applyTombstones]], which retires the
    * overlays it covers), then (2) per-artifact small-files compaction
    * for every configured artifact that accumulates appended state
    * (text postings + the stats/ledger fold, the MinHash index's ints
    * table, the exact-key table, the key-bucketed forward store, the
    * corpus itself), then (3) a stats AUDIT: the text index's served
    * (n_docs, sum_len) re-derived from ground truth (corpus count +
    * one postings aggregate — the [[graft.sources.TextIndex.healStats]]
    * measurement, demoted to an assertion) must match exactly, or the
    * verb throws rather than let drift compound silently. Between (2)
    * and (3), a [[graft.sources.Compaction.vacuum]] sweep over every
    * configured root GCs staged-rewrite crash orphans older than
    * `vacuumMinAgeMs` (default 24 h; pass a negative value to skip) —
    * the crash windows the verbs document converge on DISK too, not
    * just in served state; triage claims and sole-copy retired dirs
    * are never touched (the safety rules live in `vacuum`). With
    * `auditMembership = true`, the [[audit]] verb runs after the stats
    * audit and THROWS on any membership drift — right after a full
    * physical pass nothing is legitimately pending, so any leak or
    * strand is an out-of-band mutation the cadence must not paper over.
    *
    * `sketch`: the monitoring sidecar is not excised by takedown (the
    * documented one-way-additive stance at the class doc), but its
    * small files ARE this cadence's business — pass the loop's cfg and
    * `maintain` folds it too (file compaction + the lossless row-merge,
    * grouped or flat).
    *
    * Idempotent and equal to the manual sequence by construction (each
    * step is the same verb a deployment would call by hand, spec-pinned
    * content-equal across a second run); every step no-ops on an
    * artifact that does not exist yet, so `maintain` on a fresh
    * deployment is safe. Returns [[applyTombstones]]'s report.
    */
  def maintain(spark: SparkSession, a: Artifacts,
               sketch: Option[graft.sources.SketchSidecar.Cfg] = None,
               vacuumMinAgeMs: Long = 24L * 3600 * 1000,
               auditMembership: Boolean = false)
      : Report = {
    def exists(p: String): Boolean = new java.io.File(p).exists()
    val r = applyTombstones(spark, a)
    sketch.foreach { cfg =>
      if (exists(cfg.sidecarPath)) {
        graft.sources.SketchSidecar.compactFiles(spark, cfg)
        graft.sources.SketchSidecar.compactRows(spark, cfg)
      }
    }
    a.textIndex.foreach { cfg =>
      if (exists(s"${cfg.indexPath}/postings"))
        graft.sources.TextIndex.compact(spark, cfg)
    }
    a.minhashIndexPath.foreach { p =>
      if (exists(s"$p/data"))
        graft.sources.Compaction.compact(spark, s"$p/data")
    }
    a.exactKeys.foreach { cfg =>
      if (exists(cfg.indexPath))
        graft.sources.BloomKeyIndex.compactRows(spark, cfg)
    }
    a.forwardStorePath.foreach { p =>
      if (exists(s"$p/_key_partitions"))
        graft.sources.Compaction.compactPartitioned(spark, p)
    }
    if (exists(a.corpusPath)) a.corpusPartitionCol match {
      case None => graft.sources.Compaction.compact(spark, a.corpusPath)
      case Some(_) =>
        graft.sources.Compaction.compactPartitioned(spark, a.corpusPath)
    }
    // GC crash orphans (staged-rewrite leftovers) under every configured
    // root — the age guard keeps in-flight rewrites safe, the triage and
    // sole-copy-retired rules are inside [[graft.sources.Compaction
    // .vacuum]]; sole-copy holds re-surface every cadence until recovered
    if (vacuumMinAgeMs >= 0) {
      // overlayRoots IS the artifact-root list — reusing it means the
      // next artifact wired into Artifacts is GC'd the moment it joins
      // the overlay set, with no second list to forget to update; only
      // the two roots that deliberately carry no overlay (exact-key
      // gates, the sketch sidecar) are appended by hand
      val roots = overlayRoots(a) ++ a.exactKeys.map(_.indexPath) ++
        sketch.map(_.sidecarPath) ++ a.exportRoots
      roots.distinct.foreach(r =>
        graft.sources.Compaction.vacuum(r, vacuumMinAgeMs))
    }
    // the audit: served stats vs ground truth, exact or loud
    a.textIndex.foreach { cfg =>
      if (exists(s"${cfg.indexPath}/postings") && exists(a.corpusPath)) {
        val served = graft.sources.TextIndex.stats(spark, cfg)
          .select(col("n_docs"), col("sum_len")).collect().head
        val nTrue = spark.read.parquet(a.corpusPath).count()
        val slTrue = spark.read
          .parquet(s"${cfg.indexPath}/postings")
          .agg(coalesce(sum("tf"), lit(0L))).collect().head.getLong(0)
        if (served.getLong(0) != nTrue || served.getLong(1) != slTrue)
          throw new IllegalStateException(
            s"maintain: text-index stats drifted — served (n_docs=" +
              s"${served.getLong(0)}, sum_len=${served.getLong(1)}) vs " +
              s"ground truth ($nTrue, $slTrue); run " +
              "TextIndex.healStats after diagnosing how the exactly-once " +
              "ledger was bypassed")
      }
    }
    // optional MEMBERSHIP audit ([[audit]]): after a full cadence pass no
    // artifact may hold a serving id the corpus lacks (the physical pass
    // just ran, so nothing is legitimately pending) and no full-coverage
    // artifact may be missing a live id — drift here means a verb's
    // crash-window contract was violated out-of-band, and the cadence is
    // the right place to refuse to paper over it
    if (auditMembership && exists(a.corpusPath)) {
      val bad = audit(spark, a)
        .where(col("extra_leaked") > 0 || col("extra_pending") > 0 ||
          col("missing") > 0 || col("missing_pending") > 0)
        .collect()
      if (bad.nonEmpty)
        throw new IllegalStateException(
          "maintain: membership drift after the physical pass — " +
            bad.map(_.toString).mkString("; ") +
            "; diagnose with Retraction.audit before the next cadence")
    }
    r
  }
}
