package graft.ingest

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.{Contamination, CorpusFilter, Dedup, Lm, Similarity}

/** End-to-end training-corpus builder: the watermark-incremental ingest of
  * [[IncrementalBatch]] composed with the quality gates of
  * [[CorpusFilter]] and the index-backed near-dup gate of
  * [[Dedup.dedupAgainstIndex]] — the daily loop of a production corpus:
  *
  *   read fresh (ts > watermark) → drop docs failing the quality gates
  *   (narrow, fused into the scan — cheapest filter first) → drop docs
  *   sharing a verbatim n-gram with the eval benchmark (decontamination,
  *   broadcast gram set) → drop docs near-duplicating the EXISTING corpus
  *   (via the MinHash index — corpus text is never re-read) → drop
  *   within-batch near-dups → append survivors to the corpus AND their
  *   signatures to the index → advance the watermark.
  *
  * First run bootstraps: no index yet, so the whole batch (self-deduped)
  * becomes the corpus and seeds the index.
  *
  * Scale notes: per batch, the only shingling is the batch's own (narrow);
  * the index join ships a few ints per doc per band; corpus growth is
  * append-only on both files. The watermark advances only after both
  * appends commit (same crash-safety ordering as [[IncrementalBatch]] —
  * B4's fix); a retry after a post-append crash re-matches the batch
  * against its own indexed rows and drops it as duplicate instead of
  * double-appending.
  */
object CorpusPipeline {

  /** A gate-chain failure raised AFTER the corpus append committed but
    * BEFORE the MinHash gate append did. This window is the one part of
    * [[dedupAndAppend]] that is NOT replay-idempotent: the batch's
    * survivors are already in the corpus with no index entry, so a
    * blind re-run re-appends the same survivors as permanent duplicate
    * corpus rows. Callers that retry automatically (the quarantine
    * triage loop) must let this propagate as an operator-visible
    * failure instead of holding the batch for a routine silent replay;
    * failures BEFORE the corpus append (gates, schema check, model
    * scoring) replay cleanly and are safe to hold.
    */
  final class PostAppendFailure(cause: Throwable)
      extends RuntimeException(
        "corpus append committed but the MinHash gate append did not — " +
          "a blind replay would duplicate the batch's survivors in the " +
          "corpus; reconcile before retrying", cause)

  /** Sidecar existence through the Hadoop FileSystem of the path's SCHEME
    * (not java.io.File, which silently answers false for every hdfs:// or
    * s3a:// path — the loop would then rebuild the index from the full
    * corpus on every batch and never freeze sidecars).
    */
  private def pathExists(spark: SparkSession, path: String): Boolean = {
    val p = new org.apache.hadoop.fs.Path(path)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)
  }

  private def indexExists(spark: SparkSession, indexPath: String): Boolean =
    pathExists(spark, s"$indexPath/meta")

  /** A codec index the loop maintains per batch
    * ([[graft.operators.CodecIndex]]), the same way the text side
    * maintains its MinHash index. While the corpus holds fewer than
    * `minTrainRows` documents the index is REBUILT from the full corpus
    * each batch — sidecars frozen on a tiny first batch would be
    * degenerate (a 1-doc bootstrap yields one seed centroid and
    * duplicate-padded codebooks, silently flattening every ADC ranking;
    * SQ ranges trained on it clamp everything the growing corpus adds).
    * Once the training mass is reached the sidecars freeze and batches
    * append with them, so every later generation is encoded comparably.
    * `compactEvery` > 0 rewrites the code table on that append cadence.
    */
  sealed trait CodecIndexCfg {
    def index: graft.operators.CodecIndex
    def embeddingCol: String
    def minTrainRows: Long
    def compactEvery: Int
    def reclusterImbalance: Double
    def trainSampleFraction: Double
  }

  /** Per-batch ANN configuration: the corpus embeddings maintain an
    * IVF-PQ [[graft.operators.CellIndex]] at `indexPath`, servable through
    * [[Similarity.ivfPqTopKFromIndex]].
    *
    * `reclusterImbalance`: when the post-append cell-population imbalance
    * ([[Similarity.ivfIndexStats]], max/mean) exceeds this, the frozen
    * sidecars are declared stale and the index is REBUILT from the corpus
    * (fresh Lloyd + codebooks — [[Similarity.reclusterIvfIndex]]'s
    * rationale; IVF-PQ codebooks must retrain with the geometry). This is
    * the one sanctioned exception to the freeze contract: triggered by the
    * operator's own health signal, never mid-serve, and the rebuild leaves
    * a consistent index for the next batch. Default MaxValue = never —
    * and with the default the health stats are never computed at all (the
    * codes-table groupBy would otherwise tax every streaming append for a
    * threshold that cannot trip).
    *
    * `trainSampleFraction`: the seeded sample the imbalance-triggered
    * rebuild trains Lloyd + PQ codebooks on. At corpus scale a rebuild
    * that trains on the FULL corpus is a full-data k-means per trigger;
    * quantizer training needs a representative sample, not the
    * population (the FAISS convention), so default 1.0 is only right for
    * small corpora — set ≪1 in production. Encoding/assignment below the
    * trained sidecars always covers every row regardless.
    *
    * `compactEvery`: every append lands one file per touched cell
    * partition, so after N batches the codes directories are an
    * N-small-files swamp. When > 0, every `compactEvery`-th append is
    * followed by a per-leaf atomic rewrite preserving the `cell=` layout
    * ([[graft.operators.CellIndex.compact]]), bounding file count at a
    * constant factor of the cell count. 0 = never (caller owns
    * maintenance).
    */
  case class AnnIndex(indexPath: String, embeddingCol: String,
                      nlist: Int = 16, m: Int = 8, k: Int = 16,
                      kmeansIters: Int = 2, minTrainRows: Long = 256,
                      reclusterImbalance: Double = Double.MaxValue,
                      trainSampleFraction: Double = 1.0,
                      compactEvery: Int = 0) extends CodecIndexCfg {
    def index: graft.operators.CodecIndex = graft.operators.CellIndex(
      indexPath, graft.operators.CellAssigner.Voronoi(nlist,
        kmeansIters = kmeansIters), graft.operators.Pq.Codec(m, k))
  }

  /** Rows the frozen sidecars were trained on (−1 = no index yet). */
  private def annTrainedRows(spark: SparkSession, annPath: String): Long =
    if (!pathExists(spark, s"$annPath/trained_meta")) -1L
    else graft.sources.SidecarCache.memo(spark, s"$annPath/trained_meta",
      "trained_rows") {
      spark.read.parquet(s"$annPath/trained_meta").collect().head.getLong(0)
    }

  /** Per-batch SQ8 maintenance: the corpus embeddings also keep an int8
    * scalar-quantized [[graft.operators.FlatIndex]] under the
    * [[CodecIndexCfg]] freeze contract.
    */
  case class SqIndexCfg(indexPath: String, embeddingCol: String,
                        minTrainRows: Long = 256,
                        compactEvery: Int = 0) extends CodecIndexCfg {
    def index: graft.operators.CodecIndex = graft.operators.FlatIndex(
      indexPath, graft.operators.VectorCodec.Sq8)
    def reclusterImbalance: Double = Double.MaxValue
    def trainSampleFraction: Double = 1.0
  }

  /** Appends-since-last-compaction counter, a [[Watermark]]-style plain
    * text sidecar at `<indexPath>/_maint_appends` — underscore-prefixed
    * (no `=`, so Spark's file listing never sees it). Fail-open read ⇒ 0
    * (worst case a lost counter delays one compaction cycle; the table
    * stays correct). Local-filesystem discipline, deliberately matching
    * the rename-swap family it triggers
    * ([[graft.sources.Compaction]] — object stores want a
    * manifest-commit layer for BOTH the counter and the swap).
    */
  private def readCount(indexPath: String, name: String): Int =
    try new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$indexPath/$name")),
      java.nio.charset.StandardCharsets.UTF_8).trim.toInt
    catch { case scala.util.control.NonFatal(_) => 0 }

  private def writeCount(indexPath: String, name: String, n: Int): Unit =
    graft.sources.Compaction.writeFile(s"$indexPath/$name", n.toString)

  private def readAppendCount(indexPath: String): Int =
    readCount(indexPath, "_maint_appends")

  private def writeAppendCount(indexPath: String, n: Int): Unit =
    writeCount(indexPath, "_maint_appends", n)

  /** Bump the counter after an append; when it reaches `every`, run
    * `compactAction` and reset. The bumped counter is persisted BEFORE
    * the compaction and reset only after it returns, so a crash
    * mid-compaction (which leaves every leaf fully old or fully new)
    * retries the cycle on the next append instead of silently skipping
    * it.
    */
  private def maybeCompact(indexPath: String, every: Int)
                          (compactAction: => Unit): Unit =
    if (every > 0) {
      val n = readAppendCount(indexPath) + 1
      writeAppendCount(indexPath, n)
      if (n >= every) { compactAction; writeAppendCount(indexPath, 0) }
    }

  /** Perplexity gate against a FROZEN reference LM (a [[Lm.writeLmIndex]]
    * sidecar — built once from a curated reference corpus, NOT retrained
    * per batch, so gate decisions are stable across the corpus lifetime
    * the way the CCNet pipeline froze its Wikipedia LM). Docs scoring
    * `ppl > maxPpl` are dropped. Docs the model cannot score (fewer than
    * two tokens — no bigram evidence) PASS this gate: absence of evidence
    * is not word-soup, and a token-count quality gate is the right tool
    * for enforcing minimum length.
    */
  case class LmGate(indexPath: String, maxPpl: Double)

  /** Key-bucketed FORWARD STORE maintained alongside the corpus: each
    * admitted batch's (id, text) projection appends under the pinned
    * `kb = pmod(xxhash64(id), partitions)` layout
    * ([[graft.sources.Bucketing.writeKeyBucketed]]), created on the
    * first batch. This is the point-text-fetch side of the retrieval
    * stack — [[graft.sources.TextIndex.snippetTopKStored]] reads the k
    * winners' text from ≤ k buckets instead of scanning the corpus's
    * (id, text) columns — and it maps 1:1 onto
    * [[graft.operators.Retraction.Artifacts.forwardStorePath]] so the
    * loop's configuration IS its takedown configuration.
    * `compactEvery` runs the per-leaf small-files pass on a cadence,
    * like the ANN codes table.
    */
  case class ForwardStore(path: String, partitions: Int = 16,
                          compactEvery: Int = 0)

  /** DSIR selection gate against a FROZEN importance-weight index (a
    * [[graft.operators.Dsir.writeDsirIndex]] sidecar — target and raw
    * feature models fitted once, up front, the paper's own convention).
    * Docs with `logw < minLogw` — the raw model claims them more strongly
    * than the target model — are dropped. Docs carrying no bigram
    * evidence PASS (the [[LmGate]] policy: absence of evidence is not
    * off-target, and a token-count gate owns minimum length).
    */
  case class DsirGate(indexPath: String, minLogw: Double)

  /** Frozen trained-classifier gate ([[graft.operators.Classifier]]
    * sidecar): docs scoring below `minP` under the distilled quality
    * model are dropped — the discriminative third leg next to the LM
    * perplexity and DSIR gates.
    */
  case class LrGate(modelPath: String, minP: Double)

  /** MEDIA near-dup gate against a hash-once fingerprint index
    * ([[graft.operators.Multimodal.writeMediaHashIndex]] /
    * `writeAudioHashIndex`) — the multimodal leg of the loop: a batch
    * whose `mediaCol` payload sits within `maxHamming` of an indexed
    * fingerprint (a re-crawled image at a new URL, a re-encoded audio
    * clip) is dropped, and within-batch media dups collapse to the
    * lowest id, BEFORE the text MinHash gate sees the rows.
    *
    * Decode discipline: the batch's payloads are decoded EXACTLY ONCE —
    * one fingerprint pass pinned for the whole call — and that pass
    * serves all three consumers (index gate, within-batch self-dedup,
    * and the survivors' index append). The corpus's payloads are never
    * re-decoded: the index side joins stored 8-byte hashes.
    *
    * Commit ordering: the survivors' fingerprints append AFTER the
    * MinHash gate commit, on the [[dedupAndAppend]] `exactKeys` side of
    * the boundary and for the same reason — this gate can swallow a
    * replayed batch outright, so fingerprints committed BEFORE the
    * MinHash signatures would let a crash between the two leave corpus
    * rows the TEXT index can never match (every future text-dedup
    * decision poisoned). On this side the window degrades to a
    * media-only blind spot for that batch's payloads — real, but
    * confined to the subsystem that crashed, and visible to
    * reconciliation (corpus ids missing from the media index).
    */
  case class MediaGate(indexPath: String, mediaCol: String,
                       audio: Boolean = false, maxHamming: Int = 3,
                       compactEvery: Int = 0)

  /** The dedup-and-append gate shared by the batch loop and the streaming
    * wrapper ([[graft.streaming.CorpusStream]]): drop docs near-duplicating
    * the indexed corpus, drop within-batch near-dups, append survivors to
    * corpus AND index. Returns the number of docs appended.
    */
  /** `indexCompactEvery`: the MinHash index's own `data` dir accumulates
    * one file-set per appended batch exactly like the ANN/SQ sidecars —
    * when > 0, every N-th append is followed by a whole-table
    * [[graft.sources.Compaction.compact]] (the index rows are
    * unpartitioned). Runs AFTER the gate append commits: compaction is a
    * content-preserving atomic rewrite, so the retry-gate semantics are
    * untouched.
    *
    * `sketch`: when set, every admitted batch also appends one mergeable
    * sketch row (HLL registers + equi-depth quantile summary, optional
    * Count-Min heavy hitters and KMV bottom-k set sketch,
    * [[graft.sources.SketchSidecar]]) so corpus-level distinct counts,
    * value quantiles, dominant keys and snapshot-overlap questions are
    * served by merging O(#batches) sidecar rows instead of re-scanning
    * the corpus. Runs with the other monitoring sidecars BEFORE the
    * MinHash gate append (crash-retry repeats it — idempotent for the
    * HLL/KMV unions, bounded double-weight for quantiles — rather than
    * skipping it).
    *
    * `exactKeys`: when set, an EXACT-key membership gate
    * ([[graft.sources.BloomKeyIndex.novelRows]] — bloom-routed,
    * key-table-confirmed, exact) runs FIRST, before any quality gate:
    * an exact re-delivery (same URL / same bytes) is the cheapest
    * possible drop, and killing it up front spares every downstream
    * gate — model scoring included — the work. Survivors' keys append
    * AFTER the MinHash gate commit, deliberately the opposite side of
    * the commit from every other sidecar: this gate can SWALLOW a
    * retried batch outright, so keys committed before the MinHash
    * signatures would turn a crash between the two into a permanent
    * near-dup blind spot (batch in the corpus, signatures nowhere).
    * On this side the failure degrades benignly instead — a crash
    * after the MinHash commit but before the keys append leaves rows
    * whose exact re-deliveries miss the CHEAP gate and fall through to
    * the MinHash gate, which drops an identical text at any threshold
    * ≤ 1.0 anyway.
    *
    * `dupLabels`: when set, every near-dup PAIR the gates discover (new
    * doc ↔ indexed doc, and new doc ↔ new doc within the batch) is
    * folded into a persisted component-label store
    * ([[graft.operators.Components.updateLabelStore]]) — the provenance
    * map a curation pipeline keeps so "which surviving document does
    * each dropped near-dup belong to" stays answerable after the drop
    * (dedup attribution, takedown propagation, cluster debugging).
    * The fold runs with the other monitoring sidecars BEFORE the
    * MinHash gate commit — and, unlike them, even for a batch whose
    * every row was dropped (an all-dup batch is EXACTLY the provenance
    * case) — and is idempotent on crash-retry: a replayed batch
    * re-derives the same edges, and the self-matches it additionally
    * finds against its own indexed signatures are filtered out before
    * the fold (a self-loop would otherwise add a spurious singleton
    * row for a doc that was never a duplicate).
    * `dupLabelsPartitions` selects the store's LAYOUT (the
    * [[graft.operators.Components.updateLabelStore]] `partitions`
    * argument): 0 = flat, P > 0 = the component-hash-partitioned
    * layout whose updates rewrite only touched partitions — the
    * documented 100 TB shape. The layout is pinned at store creation,
    * so pick it on the FIRST batch; a mismatch fails loudly there.
    * Scope: rows killed by the `exactKeys` gate leave NO edge — that
    * gate confirms membership against an 8-byte keys table, not WHICH
    * document matched (attributing them would mean carrying doc ids in
    * the keys table and joining them back, a cost the cheap gate exists
    * to avoid); an exact re-delivery that matters for attribution also
    * matches at the MinHash gate, so disable `exactKeys` if every
    * exact-dup edge must be recorded.
    *
    * `textIndex`: when set, each admitted batch's survivors are ALSO
    * appended to a persisted inverted index
    * ([[graft.sources.TextIndex]]), so lexical retrieval (BM25) over
    * the corpus stays serveable from pruned term partitions instead of
    * re-scanning 100 TB per query. Appends BEFORE the MinHash gate
    * commit with the other index state (crash-retry REPEATS the append
    * — duplicated postings inflate the one batch's scores until a
    * rebuild, visible and repairable — rather than SKIPPING it, which
    * would leave the batch permanently unfindable); compacted on its
    * own `compactEvery` cadence like the ANN codes table.
    *
    * `forwardStore`: when set, the survivors' (id, text) projection
    * also appends to the key-bucketed point-fetch store
    * ([[ForwardStore]]) — same retry stance and ordering as the text
    * index (a repeated append duplicates the one batch's rows, visible
    * through the id-keyed fetch and repairable by a rewrite; skipping
    * would lose the batch's text from the point-fetch path forever).
    */
  def dedupAndAppend(batch: DataFrame, corpusPath: String, indexPath: String,
                     idCol: String, textCol: String, threshold: Double,
                     gates: Seq[(String, Column)] = Seq.empty,
                     benchmark: Option[DataFrame] = None,
                     contaminationN: Int = 8,
                     ann: Option[AnnIndex] = None,
                     lm: Option[LmGate] = None,
                     sq: Option[SqIndexCfg] = None,
                     dsir: Option[DsirGate] = None,
                     lrq: Option[LrGate] = None,
                     indexCompactEvery: Int = 0,
                     sketch: Option[graft.sources.SketchSidecar.Cfg] = None,
                     exactKeys: Option[graft.sources.BloomKeyIndex.Cfg] = None,
                     dupLabels: Option[String] = None,
                     corpusCompactEvery: Int = 0,
                     dupLabelsPartitions: Int = 0,
                     funnel: Option[String] = None,
                     media: Option[MediaGate] = None,
                     funnelBatchId: Long = -1L,
                     textIndex: Option[graft.sources.TextIndex.Cfg] = None,
                     forwardStore: Option[ForwardStore] = None)
      : Long = {
    // schema-drift gate FIRST, before any other gate touches the batch:
    // parquet append accepts ANY schema — a renamed/retyped column in a
    // drifted source would land a second schema in the corpus directory
    // and every later read would resolve to whichever footer wins
    // (columns silently null or dropped). Checking batch.schema up front
    // means a drifted batch fails BEFORE model scoring runs, BEFORE the
    // provenance store commits edges for it, and regardless of whether
    // any row would have survived — a schema change must be an explicit
    // migration, not a batch. Nullability is normalized (the parquet
    // round-trip widens containsNull/nullable — representation, not
    // drift) and column order is irrelevant (parquet resolves by name).
    if (pathExists(batch.sparkSession, corpusPath)) {
      import org.apache.spark.sql.types._
      def norm(dt: DataType): DataType = dt match {
        case s: StructType => StructType(s.fields.map(f =>
          StructField(f.name, norm(f.dataType), nullable = true)))
        case a: ArrayType => ArrayType(norm(a.elementType), true)
        case m: MapType => MapType(norm(m.keyType), norm(m.valueType),
          valueContainsNull = true)
        case other => other
      }
      val have = batch.sparkSession.read.parquet(corpusPath).schema
        .map(f => (f.name, norm(f.dataType))).toSet
      val got = batch.schema.map(f => (f.name, norm(f.dataType))).toSet
      require(got == have,
        s"batch schema drifted from the corpus at $corpusPath: " +
          s"batch-only ${got -- have}, corpus-only ${have -- got} — " +
          "migrate the corpus explicitly instead of appending")
    }
    val exactGated = exactKeys match {
      case Some(cfg) => graft.sources.BloomKeyIndex.novelRows(batch, cfg)
      case None => batch
    }
    val heuristicGated =
      if (gates.isEmpty) exactGated
      else CorpusFilter.keep(exactGated, gates)
    // statistical-LM gate after the cheap heuristics: only docs that
    // cleared the narrow gates pay the bigram-stream joins
    val lmGated = lm match {
      case Some(g) =>
        val tooPerplexed = Lm
          .perplexityAgainstIndex(heuristicGated, idCol, textCol, g.indexPath)
          .where(col("ppl") > g.maxPpl)
          .select(col(idCol))
        heuristicGated.join(tooPerplexed, Seq(idCol), "left_anti")
      case None => heuristicGated
    }
    // DSIR selection gate: same anti-join shape over the same batch bigram
    // stream, scored against the frozen importance-weight index
    val qualityGated = dsir match {
      case Some(g) =>
        val offTarget = graft.operators.Dsir
          .weightsAgainstIndex(lmGated, idCol, textCol, g.indexPath)
          .where(col("logw") < g.minLogw)
          .select(col(idCol))
        lmGated.join(offTarget, Seq(idCol), "left_anti")
      case None => lmGated
    }
    // trained-classifier gate: one broadcast join + grouped sum against
    // the frozen distilled model — the cheapest of the model gates, but
    // kept after LM/DSIR so all three score the same already-thinned set
    val lrGated = lrq match {
      case Some(g) =>
        val lowQuality = graft.operators.Classifier
          .scoreAgainstModel(qualityGated, idCol, textCol, g.modelPath)
          .where(col("p") < g.minP)
          .select(col(idCol))
        qualityGated.join(lowQuality, Seq(idCol), "left_anti")
      case None => qualityGated
    }
    // decontamination gate: docs sharing a verbatim n-gram with the
    // benchmark never enter the corpus (benchmark grams broadcast — the
    // eval suite is small by nature)
    val gated = benchmark match {
      case Some(b) =>
        val hit = Contamination
          .ngramOverlap(lrGated, b, idCol, textCol, contaminationN)
          .select(col(idCol))
        lrGated.join(hit, Seq(idCol), "left_anti")
      case None => lrGated
    }
    // media gate: ONE fingerprint pass over the decontaminated batch
    // (pinned — the only decode of the call; released in the finally)
    // serves the index gate, the within-batch self-dedup, and later the
    // survivors' index append
    val mediaHashes: Option[DataFrame] = media.map { g =>
      val frame = gated.select(col(idCol).cast("long").as("media_id"),
        col(g.mediaCol).as("content"))
      (if (g.audio) graft.operators.Multimodal.audioHashes(frame)
       else graft.operators.Multimodal.dHashes(frame))
        .localCheckpoint(true)
    }
    val mediaGated = (media, mediaHashes) match {
      case (Some(g), Some(h)) =>
        val hashCol = if (g.audio) "ahash" else "dhash"
        val vsIdx =
          if (!pathExists(batch.sparkSession, g.indexPath)) gated
          else {
            val indexed = batch.sparkSession.read.parquet(g.indexPath)
              .select(col("media_id").as("corpus_id"), col(hashCol))
            val hits = Dedup.hammingJoin64(
                h.select(col("media_id").as("new_id"), col(hashCol)),
                "new_id", indexed, "corpus_id", hashCol, g.maxHamming)
              .select(col("new_id").as(idCol)).distinct()
            gated.join(hits, Seq(idCol), "left_anti")
          }
        // within-batch media dups collapse to the lowest id (the
        // dropNearDuplicates stance, fingerprint edition)
        val selfDup = Dedup.hammingPairs64(h, "media_id", hashCol,
            g.maxHamming)
          .select(col("id_b").as(idCol)).distinct()
        vsIdx.join(selfDup, Seq(idCol), "left_anti")
      case _ => gated
    }
    // near-dup matches vs the indexed corpus: the ids gate the batch;
    // with a label store configured the PAIRS are also provenance edges,
    // so the match frame is checkpointed once and shared by both
    // consumers instead of re-running the index join
    val idxMatches: Option[DataFrame] =
      if (!indexExists(batch.sparkSession, indexPath)) None
      else {
        val m = Dedup.dedupAgainstIndex(mediaGated, idCol, textCol,
          indexPath, threshold)
        Some(if (dupLabels.isDefined) m.localCheckpoint(true) else m)
      }
    val vsCorpus = idxMatches match {
      case Some(m) => mediaGated.join(
        m.select(col("new_id").as(idCol)).distinct(), Seq(idCol),
        "left_anti")
      case None => mediaGated
    }
    // within-batch pairs: with a label store the pair set itself is
    // needed (checkpointed O(duplicates)-small by minhashLsh), and the
    // survivor anti-join below consumes the same frame — identical drop
    // semantics to dropNearDuplicates, which is the no-store path
    val batchPairs: Option[DataFrame] = dupLabels.map { _ =>
      Dedup.minhashLsh(vsCorpus, idCol, textCol, threshold = threshold,
        persistIntermediates = true)
    }
    // localCheckpoint, NOT persist: the survivor plan READS the minhash
    // index parquet (the dedupAgainstIndex join), and the appends below
    // WRITE that same path — a cache-managed plan would be re-executed by
    // CacheManager.recacheByPath against the just-updated index, where the
    // batch matches its OWN freshly-appended signatures and silently
    // shrinks to empty mid-function (observed: the ANN append landed zero
    // rows). Checkpointing severs the lineage so every consumer sees the
    // same materialized batch; blocks are released in the finally.
    val survivors = (batchPairs match {
      case Some(p) => vsCorpus.join(
        p.select(col("id_b").as(idCol)).distinct(), Seq(idCol),
        "left_anti")
      case None => Dedup.dropNearDuplicates(vsCorpus, idCol, textCol,
        threshold = threshold, persistIntermediates = false)
    }).localCheckpoint(true)
    try {
      val appended = survivors.count()
      // gate-attrition funnel, OPT-IN: one row per GATE-CHAIN EXECUTION
      // with the surviving count after every stage — "why did my batch
      // shrink 90%" answered from a parquet log instead of re-deriving
      // it by hand during an incident. Cost, stated plainly: each stage
      // count re-executes the batch-side chain up to that stage (the
      // stages are anti-join chains over the BATCH — never the corpus —
      // so this is O(stages) batch passes), which is why it is a triage
      // dial and not steady-state default. Counted BEFORE any append
      // commits, so the recomputation sees the same index state the
      // gates did.
      //
      // Semantics, stated for consumers: funnel rows are ARRIVAL EVENTS,
      // not a one-row-per-batch ledger. The row lands before any commit
      // point on purpose (an all-dup or later-failing batch still gets
      // its attrition recorded — that IS the triage case), so a replayed
      // batch writes a second row with the same batch_id. `attempt_ts`
      // (wall-clock millis at gate-chain execution) is the replay
      // discriminator: dedupe to a per-batch view with
      //   row_number() OVER (PARTITION BY batch_id ORDER BY attempt_ts
      //   DESC) = 1
      // or keep every row and read the funnel as an execution log —
      // both contracts are deterministic from the stored columns alone.
      funnel.foreach { fp =>
        val spark = batch.sparkSession
        import spark.implicits._
        // batch_id correlates rows to their batch: the streaming wrapper
        // stamps the checkpointed micro-batch id, triage stamps the
        // quarantine tag, the plain batch loop leaves -1
        Seq((funnelBatchId, System.currentTimeMillis(), batch.count(),
            exactGated.count(),
            heuristicGated.count(), lmGated.count(), qualityGated.count(),
            lrGated.count(), gated.count(), mediaGated.count(),
            vsCorpus.count(), appended))
          .toDF("batch_id", "attempt_ts", "n_arrived", "n_after_exact",
            "n_after_quality", "n_after_lm", "n_after_dsir",
            "n_after_classifier", "n_after_decontamination",
            "n_after_media", "n_after_index_dedup", "n_appended")
          .coalesce(1).write.mode("append").parquet(fp)
      }
      // provenance fold FIRST and UNCONDITIONALLY (an all-dup batch has
      // zero survivors and the most provenance to record); idempotent on
      // replay, ordered before the MinHash gate commit like the other
      // monitoring state
      dupLabels.foreach { path =>
        val edges = (idxMatches.map(_.select(
            col("new_id").cast("long").as("src"),
            col("corpus_id").cast("long").as("dst"))).toSeq ++
          batchPairs.map(_.select(
            col("id_a").cast("long").as("src"),
            col("id_b").cast("long").as("dst"))).toSeq)
          .reduceOption(_ union _)
          // drop self-matches BEFORE the fold: a replayed batch's rows
          // match their own indexed signatures (new_id == corpus_id),
          // and connectedComponents emits a row for EVERY vertex in its
          // edge list — folding the self-loops would pollute the store
          // with singleton rows for docs that were never duplicates
          .map(_.where(col("src") =!= col("dst")))
        edges.filter(!_.isEmpty).foreach { e =>
          graft.operators.Components.updateLabelStore(
            batch.sparkSession, path, e, "src", "dst",
            partitions = dupLabelsPartitions)
        }
      }
      if (appended > 0) {
        val spark = survivors.sparkSession
        val hadIndex = indexExists(spark, indexPath)
        // The corpus append sits OUTSIDE the typed wrap: until the write
        // returns, the v1 committer has moved nothing into the table (a
        // failed job leaves only _temporary), so a failure HERE is still
        // cleanly replayable and triage may hold-and-retry it like any
        // pre-append gate failure — wrapping it as [[PostAppendFailure]]
        // would crash the whole quarantine run for a transient write
        // error that a routine replay heals. The one residual hazard is
        // a failure AFTER commitJob but inside the call's post-commit
        // bookkeeping (rows landed, exception anyway): that replay DOES
        // duplicate, but it is a vanishingly narrow driver-local window,
        // and treating every append failure as poisonous to cover it
        // would convert the overwhelmingly-common replayable case into
        // an operator page. Reconciliation for the narrow case: compare
        // the corpus row count against the funnel log's n_appended sums
        // before force-replaying a batch that failed at this line.
        survivors.write.mode("append").parquet(corpusPath)
        // Everything from here (corpus append committed) to the MinHash
        // gate commit is the one non-replay-idempotent window of the
        // function (see [[PostAppendFailure]]); a NonFatal failure
        // inside it is re-thrown typed so automatic retriers (quarantine
        // triage) can distinguish it from the cleanly-replayable
        // pre-append failures they are allowed to hold-and-retry.
        try {
        // codec-index maintenance runs BEFORE the MinHash append: the MinHash
        // index is the retry GATE (a replayed batch matches its own
        // indexed signatures and drops), so it must commit LAST — a crash
        // between the other appends and the gate makes the retry REPEAT
        // them (benign, visible duplication), whereas gating first would
        // make the retry SKIP them (the batch silently unfindable in the
        // ANN index forever)
        (ann.toSeq ++ sq).foreach { c =>
          val ix = c.index
          // (re)build over the FULL corpus as written so far (this batch
          // included), training on `fraction` of it
          def rebuild(fraction: Double): Unit = {
            val corpusNow = spark.read.parquet(corpusPath)
            val n = corpusNow.count()
            ix.write(corpusNow, idCol, c.embeddingCol,
              sampleFraction = fraction)
            import spark.implicits._
            Seq(n).toDF("trained_rows").coalesce(1)
              .write.mode("overwrite")
              .parquet(s"${ix.path}/trained_meta")
          }
          if (annTrainedRows(spark, ix.path) >= c.minTrainRows) {
            ix.append(survivors, idCol, c.embeddingCol)
            // small-files maintenance on a cadence: the counter sidecar
            // bumps per append; every compactEvery-th batch the code
            // table is rewritten in place (atomic per leaf, layout
            // preserved)
            maybeCompact(ix.path, c.compactEvery)(ix.compact(spark))
            // index-health check AFTER the append: skewed batches degrade
            // the frozen geometry cumulatively; past the threshold the
            // cheap append is followed by a one-off rebuild (trained on a
            // seeded SAMPLE — a full-corpus Lloyd per trigger is the
            // 100 TB anti-pattern) so the NEXT batch starts from balanced
            // cells. Computed ONLY when the feature is armed — with the
            // MaxValue default the threshold cannot trip, and the
            // code-table groupBy would be pure per-batch overhead on the
            // streaming hot path.
            if (c.reclusterImbalance < Double.MaxValue &&
                Similarity.ivfIndexStats(spark, ix.path)
                  .select(col("imbalance")).collect().head.getDouble(0) >
                  c.reclusterImbalance)
              rebuild(c.trainSampleFraction)
          } else rebuild(1.0)
        }
        // lexical retrieval index: the survivors' postings append with
        // the other per-batch index state BEFORE the MinHash gate
        // commit, for the ANN block's reason — a crash in the window
        // makes the retry REPEAT the append (duplicated postings for
        // one batch: affected docs score high until a rebuild, a
        // visible and repairable drift), whereas committing after the
        // gate would make the retry SKIP it (the batch silently
        // unfindable by lexical retrieval forever)
        textIndex.foreach { cfg =>
          graft.sources.TextIndex.appendBatch(survivors, idCol, textCol,
            cfg)
          maybeCompact(cfg.indexPath, cfg.compactEvery) {
            graft.sources.TextIndex.compact(spark, cfg)
          }
        }
        // point-fetch forward store: the survivors' (id, text) rows land
        // under the pinned kb= layout — appended per batch, same
        // pre-gate retry stance as the text index
        forwardStore.foreach { fs =>
          if (new java.io.File(fs.path, "_key_partitions").exists())
            graft.sources.Bucketing.appendKeyBucketed(
              survivors.select(col(idCol), col(textCol)), fs.path, idCol)
          else
            // CREATION = BACKFILL: the corpus append above already
            // committed, so the (id, text) projection of the corpus AS
            // WRITTEN covers every older batch plus this one — a store
            // enabled on an existing deployment is born complete
            // (snippetTopKStored's store-covers-corpus contract), never
            // permanently missing pre-enable docs
            graft.sources.Bucketing.writeKeyBucketed(
              spark.read.parquet(corpusPath)
                .select(col(idCol), col(textCol)),
              fs.path, idCol, fs.partitions)
          maybeCompact(fs.path, fs.compactEvery) {
            graft.sources.Compaction.compactPartitioned(spark, fs.path)
          }
        }
        // sketch monitoring sidecar: one narrow aggregation over the
        // admitted batch, appended like the ANN/SQ state (before the
        // gate — see the parameter doc for the retry stance), then
        // compacted on its own cadence
        sketch.foreach { cfg =>
          graft.sources.SketchSidecar.appendBatch(survivors, cfg)
          maybeCompact(cfg.sidecarPath, cfg.compactEvery) {
            graft.sources.SketchSidecar.compactFiles(spark, cfg)
          }
          // row-merge on its own (coarser) cadence — the serve re-merges
          // every row per question, so row count IS the serve cost; the
          // counter rides as _maint_rowmerge next to _maint_appends
          if (cfg.rowMergeEvery > 0) {
            val n = readCount(cfg.sidecarPath, "_maint_rowmerge") + 1
            writeCount(cfg.sidecarPath, "_maint_rowmerge", n)
            if (n >= cfg.rowMergeEvery) {
              graft.sources.SketchSidecar.compactRows(spark, cfg)
              writeCount(cfg.sidecarPath, "_maint_rowmerge", 0)
            }
          }
        }
        if (hadIndex)
          Dedup.appendMinhashIndex(survivors, idCol, textCol, indexPath)
        else
          Dedup.writeMinhashIndex(survivors, idCol, textCol, indexPath)
        } catch {
          case scala.util.control.NonFatal(e) =>
            throw new PostAppendFailure(e)
        }
        // MinHash gate committed — from here on a replayed batch matches
        // its own indexed signatures and drops, so the remaining
        // maintenance is crash-safe to repeat
        if (hadIndex) maybeCompact(indexPath, indexCompactEvery) {
          graft.sources.Compaction.compact(spark, s"$indexPath/data")
        }
        // corpus-table small-files hygiene, AFTER the MinHash gate
        // commit like the index's own compaction: the rewrite is
        // content-preserving, but it is an O(corpus) job — placed before
        // the gate commit it would sit inside the crash window where a
        // retry re-appends the batch (permanent duplicates); after the
        // commit, a crash mid-compaction just re-runs the compaction
        maybeCompact(corpusPath, corpusCompactEvery) {
          graft.sources.Compaction.compact(spark, corpusPath)
        }
        // exact-key index LAST, after the MinHash commit — the one
        // sidecar whose premature commit could make a retry skip the
        // gate chain entirely (see the exactKeys parameter doc). Its
        // bloom rows are re-merged on EVERY gate call, so the row-merge
        // cadence is this sidecar's serve-cost bound, not just file
        // hygiene.
        exactKeys.foreach { cfg =>
          graft.sources.BloomKeyIndex.appendBatch(survivors, cfg)
          maybeCompact(cfg.indexPath, cfg.compactEvery) {
            graft.sources.BloomKeyIndex.compactRows(spark, cfg)
          }
        }
        // media fingerprints of the SURVIVORS, from the already-pinned
        // batch hash pass (zero extra decodes) — after the MinHash
        // commit, the exactKeys side of the boundary (see [[MediaGate]])
        (media, mediaHashes) match {
          case (Some(g), Some(h)) =>
            h.join(survivors
                .select(col(idCol).cast("long").as("media_id")),
                Seq("media_id"), "left_semi")
              .write.mode("append").parquet(g.indexPath)
            maybeCompact(g.indexPath, g.compactEvery) {
              graft.sources.Compaction.compact(spark, g.indexPath)
            }
          case _ => ()
        }
      }
      appended
    } finally {
      org.apache.spark.sql.GraftBridge.unpersistCheckpoint(survivors)
      mediaHashes.foreach(
        org.apache.spark.sql.GraftBridge.unpersistCheckpoint)
      if (dupLabels.isDefined) {
        idxMatches.foreach(
          org.apache.spark.sql.GraftBridge.unpersistCheckpoint)
        batchPairs.foreach(
          org.apache.spark.sql.GraftBridge.unpersistCheckpoint)
      }
    }
  }
}

class CorpusPipeline(
    spark: SparkSession,
    sourcePath: String,
    corpusPath: String,
    indexPath: String,
    watermarkPath: String,
    tsCol: String = "ts",
    idCol: String = "doc_id",
    textCol: String = "text",
    threshold: Double = 0.8,
    gates: Seq[(String, Column)] = Seq.empty,
    benchmarkPath: Option[String] = None,
    contaminationN: Int = 8,
    embeddingCol: Option[String] = None,
    annIndexPath: Option[String] = None,
    annNlist: Int = 16,
    annM: Int = 8,
    annK: Int = 16,
    annMinTrainRows: Long = 256,
    annReclusterImbalance: Double = Double.MaxValue,
    annTrainSampleFraction: Double = 1.0,
    annCompactEvery: Int = 0,
    indexCompactEvery: Int = 0,
    lmIndexPath: Option[String] = None,
    lmMaxPpl: Double = Double.MaxValue,
    dsirIndexPath: Option[String] = None,
    dsirMinLogw: Double = Double.NegativeInfinity,
    lrModelPath: Option[String] = None,
    lrMinP: Double = 0.0,
    sketch: Option[graft.sources.SketchSidecar.Cfg] = None,
    exactKeys: Option[graft.sources.BloomKeyIndex.Cfg] = None,
    dupLabelsPath: Option[String] = None,
    corpusCompactEvery: Int = 0,
    dupLabelsPartitions: Int = 0,
    funnelPath: Option[String] = None,
    media: Option[CorpusPipeline.MediaGate] = None) {

  private val lm: Option[CorpusPipeline.LmGate] =
    lmIndexPath.map(CorpusPipeline.LmGate(_, lmMaxPpl))

  private val dsir: Option[CorpusPipeline.DsirGate] =
    dsirIndexPath.map(CorpusPipeline.DsirGate(_, dsirMinLogw))

  private val lrq: Option[CorpusPipeline.LrGate] =
    lrModelPath.map(CorpusPipeline.LrGate(_, lrMinP))

  private val ann: Option[CorpusPipeline.AnnIndex] =
    (annIndexPath, embeddingCol) match {
      case (Some(p), Some(e)) =>
        Some(CorpusPipeline.AnnIndex(p, e, annNlist, annM, annK,
          minTrainRows = annMinTrainRows,
          reclusterImbalance = annReclusterImbalance,
          trainSampleFraction = annTrainSampleFraction,
          compactEvery = annCompactEvery))
      case (None, None) => None
      case _ => throw new IllegalArgumentException(
        "annIndexPath and embeddingCol must be set together")
    }

  /** Run one batch; returns (docs appended, new watermark). */
  def run(): BatchResult = {
    val src = spark.read.parquet(sourcePath)
    val wm = Watermark.read(watermarkPath)
    val fresh = wm match {
      case Some(ts) =>
        src.filter(col(tsCol) > lit(ts).cast(src.schema(tsCol).dataType))
      case None => src
    }
    if (fresh.limit(1).isEmpty) return BatchResult(0L, wm)
    val maxTs = fresh.agg(max(col(tsCol))).collect().head.get(0)

    val appended = CorpusPipeline.dedupAndAppend(fresh, corpusPath,
      indexPath, idCol, textCol, threshold, gates,
      benchmarkPath.map(spark.read.parquet(_)), contaminationN, ann, lm,
      dsir = dsir, lrq = lrq, indexCompactEvery = indexCompactEvery,
      sketch = sketch, exactKeys = exactKeys, dupLabels = dupLabelsPath,
      corpusCompactEvery = corpusCompactEvery,
      dupLabelsPartitions = dupLabelsPartitions,
      funnel = funnelPath, media = media)
    // watermark covers the WHOLE fresh batch (dropped dups AND gate
    // failures were processed — reprocessing them forever would be the
    // bug), and only moves after the appends committed
    Watermark.write(watermarkPath, maxTs.toString)
    BatchResult(appended, Some(maxTs.toString))
  }
}
