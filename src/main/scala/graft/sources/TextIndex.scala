package graft.sources

import java.io.File
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Persisted term-partitioned inverted index — BM25 retrieval WITHOUT a
  * corpus scan.
  *
  * [[graft.operators.Keywords.bm25TopK]] answers a query by re-reading
  * and re-tokenizing the whole corpus: the right shape for a one-off
  * question, the wrong one for a serving path (every query pays the 100 TB
  * scan). This index is the hash-once discipline applied to text — the
  * tokenize/tf/doc-length work is paid ONCE per ingested batch and
  * persisted as postings, and a query then touches only its own terms'
  * partitions:
  *
  * {{{
  * indexPath/postings/tp=<p>/   (term, doc_id, tf, dl)  p = hash(term) % P
  * indexPath/stats/             (n_docs, sum_len)       one row per append
  * indexPath/_index_partitions  P, pinned at creation
  * }}}
  *
  * Design points, in the order they matter at scale:
  *
  *  - '''Serve cost is query-sized, not corpus-sized.''' The postings
  *    read carries `tp IN (hash of each query term)` — a static partition
  *    filter, so the scan lists/reads only |Q| of the P term partitions
  *    (spec-asserted on the plan). Document frequency, the per-term
  *    posting count, comes from those same pruned rows; N and avgdl come
  *    from the `stats` sidecar (O(#appends) rows). Nothing re-visits the
  *    corpus.
  *  - '''Doc length is DENORMALIZED into the posting''' (`dl`, the doc's
  *    total token count). BM25's length norm needs it per candidate doc;
  *    a separate doc→length table would force a corpus-sized join onto
  *    every query. +8 bytes per posting buys a join-free serve — the
  *    same storage-for-shuffle trade the media hash index makes.
  *  - '''Everything is additive''', so the index is INCREMENTAL: tf rows
  *    for distinct docs union, per-term df is the posting count, and the
  *    (n_docs, sum_len) stats rows sum. Appending a batch is one
  *    tokenize+aggregate pass over the batch plus one partitioned write;
  *    no global rebuild, no read-modify-write of existing postings.
  *  - '''Scoring is bit-identical to the scan path''': the serve applies
  *    [[graft.operators.Keywords.bm25ScoreCol]] — the same Column tree
  *    `bm25TopK` uses — with the same 6-decimal round, DECIMAL sum and
  *    id tie-break, so the index-backed top-k hash-matches the scan
  *    path's own DuckDB oracle (the `q_bm25_indexed` correctness row).
  *  - '''Positions are opt-in and layout-pinned''' (`Cfg(positional)`):
  *    a positional index additionally serves exact-phrase retrieval
  *    ([[phraseTopK]]), proximity/NEAR ([[proximityTopK]]) and batched
  *    phrase decontamination ([[phraseMembers]]) from the same pruned
  *    partitions; the BM25 faces never read the column (ReadSchema-
  *    pruned, spec-asserted).
  *  - '''Documents can be UN-indexed''' ([[retract]]): takedowns excise
  *    postings with a rewrite pruned to the docs' terms' partitions and
  *    compensate the additive stats through a doc-id-keyed retraction
  *    LEDGER whose single append is the commit point — exactly-once
  *    across crash re-runs, no reconciliation step —
  *    [[graft.operators.Retraction]] orchestrates this across every
  *    artifact, and the tombstone overlay
  *    ([[graft.sources.Tombstones]]) gives the lazy O(ids) form.
  *
  * Delivery contract: each document is indexed by EXACTLY ONE append (the
  * corpus loop's exact-key gate enforces this upstream). A re-delivered
  * doc would double its tf rows and inflate df/N — the same single-
  * delivery contract every additive sidecar in this package states.
  *
  * Partition count `P` is pinned at creation (`_index_partitions`): terms
  * hash to partitions with the engine's own `xxhash64`, so P is part of
  * the layout and a config drift fails loudly instead of silently reading
  * the wrong partitions. Size P so a term partition stays file-listable
  * (thousands at 100 TB); the default suits the test fixtures.
  */
object TextIndex {

  /** @param indexPath    index root directory
    * @param partitions   term-hash partition count P — pinned into the
    *                     layout at first write
    * @param compactEvery corpus-loop maintenance cadence (see
    *                     [[graft.ingest.CorpusPipeline.dedupAndAppend]]);
    *                     0 = never
    * @param positional   store each posting's token-offset array
    *                     (`positions`) so exact-phrase retrieval
    *                     ([[phraseTopK]]) serves from the pruned
    *                     partitions; pinned into the layout like P
    *                     (mixing positional and bare postings in one
    *                     directory would leave phrase answers silently
    *                     incomplete). Costs one int per token stored;
    *                     every BM25 face ignores the column (parquet
    *                     prunes it from their scans).
    */
  case class Cfg(indexPath: String, partitions: Int = 16,
                 compactEvery: Int = 0, positional: Boolean = false) {
    require(partitions > 0, s"partitions=$partitions")
  }

  private def postingsPath(cfg: Cfg) = s"${cfg.indexPath}/postings"
  private def statsPath(cfg: Cfg) = s"${cfg.indexPath}/stats"
  private def pinFile(cfg: Cfg) = new File(cfg.indexPath, "_index_partitions")
  private def posFile(cfg: Cfg) = new File(cfg.indexPath, "_index_positional")

  /** The RETRACTION LEDGER: one (doc_id, dl) row per compensated
    * takedown — the exactly-once replacement for the negative stats rows
    * [[retract]] used to append. It lives INSIDE the stats directory,
    * dot-prefixed so the stats parquet scan never sees it, which buys
    * the property the two-table design could not have: [[compact]] and
    * [[healStats]] rebuild base rows AND ledger under ONE staged
    * directory and install both with ONE atomic rename — there is no
    * crash window in which one moved and the other did not.
    */
  private def ledgerPath(cfg: Cfg) = s"${statsPath(cfg)}/.retract_ledger"
  private def hasLedger(cfg: Cfg): Boolean = ledgerFiles(cfg).nonEmpty
  private def ledgerFiles(cfg: Cfg): Seq[String] =
    Option(new File(ledgerPath(cfg)).listFiles()).getOrElse(Array.empty)
      .filter(f => f.isFile && f.getName.endsWith(".parquet"))
      .map(_.getPath).sorted.toSeq

  /** The ledger read by its part files: Spark ignores a dot-prefixed
    * directory given as a read root (and logs "All paths were ignored"
    * for it), while a file root is read as named. */
  private def readLedger(spark: SparkSession, cfg: Cfg): DataFrame =
    spark.read.parquet(ledgerFiles(cfg): _*)

  /** The served (n_docs, sum_len) truth — ONE row: the additive stats
    * rows MINUS the retraction ledger's compensations. Every stats
    * consumer (BM25's N/avgdl, [[stats]]) reads through this, so the
    * ledger commit is the single instant a retraction's compensation
    * becomes visible.
    */
  private def mergedStats(spark: SparkSession, cfg: Cfg): DataFrame = {
    val base = spark.read.parquet(statsPath(cfg))
      .agg(coalesce(sum("n_docs"), lit(0L)).as("__sn"),
        coalesce(sum("sum_len"), lit(0L)).as("__ss"))
    if (!hasLedger(cfg))
      base.select(col("__sn").as("n_docs"), col("__ss").as("sum_len"))
    else base.crossJoin(
        readLedger(spark, cfg)
          .agg(count(lit(1)).as("__ln"),
            coalesce(sum("dl"), lit(0L)).as("__ls")))
      .select((col("__sn") - col("__ln")).as("n_docs"),
        (col("__ss") - col("__ls")).as("sum_len"))
  }

  /** The one tokenizer of the text family (Keywords/TextAnalysis):
    * whitespace split of the lowercased, trimmed text, empties dropped.
    * The index MUST match the scan path token-for-token or df/tf drift.
    */
  private[graft] def tokens(textCol: String) =
    filter(split(lower(trim(col(textCol))), "\\s+"), t => length(t) > 0)

  private def checkOrPin(cfg: Cfg): Unit = {
    val f = pinFile(cfg)
    if (f.exists()) {
      val pinned = java.nio.file.Files.readString(f.toPath).trim.toInt
      require(pinned == cfg.partitions,
        s"text index at ${cfg.indexPath} was created with " +
          s"partitions=$pinned, not ${cfg.partitions} — the term-hash " +
          "layout is pinned at creation; re-create the index to change it")
      require(posFile(cfg).exists() == cfg.positional,
        s"text index at ${cfg.indexPath} was created with " +
          s"positional=${posFile(cfg).exists()}, not ${cfg.positional} — " +
          "the postings schema is pinned at creation; re-create the " +
          "index to change it")
    } else {
      Compaction.writeFile(f.toString, cfg.partitions.toString)
      if (cfg.positional) Compaction.writeFile(posFile(cfg).toString, "true")
    }
  }

  /** Index `batch` — ONE job over the batch (the postings write; the
    * stats row is a second 1-row local write). Incremental by
    * construction: call once per ingested batch (single-delivery
    * contract above).
    *
    * Plan shape: posexplode → (doc, term) count/positions [the one
    * data shuffle, keyed on doc so the per-doc length is a window
    * aggregate of tf rows, not a second pass over raw tokens] → doc
    * window for `dl` → cluster by `tp` so each term partition receives
    * whole files. The (n_docs, sum_len) stats scalars ride the SAME
    * job as `observe` metrics (the [[graft.ingest.IncrementalBatch]]
    * discipline) — n_docs observed below the explode so zero-token
    * docs still count into N (avgdl averages over every document,
    * exactly as the scan path's left join does), sum_len observed over
    * the final tf rows. `TextIndexSpec` pins the job count: the old
    * shape re-ran the tokenize+shuffle for `sum_len` and a third job
    * for `n_docs` — at daily 100 TB-pipeline batch sizes that is 3×
    * tokenize cost per append for two scalars.
    */
  def appendBatch(batch: DataFrame, idCol: String, textCol: String,
                  cfg: Cfg): Unit = {
    checkOrPin(cfg)
    // RE-ADMISSION fold, FIRST: a batch doc that was retracted earlier
    // (tombstone ≠ ban) still has its ledger compensation pending; left
    // in place it would make a FUTURE retraction of the re-admitted doc
    // skip as already-compensated. Fold those rows into the base — a
    // net-neutral move (serve = base − ledger before and after), so the
    // fold is safe at any time and idempotent — installed ATOMICALLY:
    // one staged stats dir (folded row + kept ledger rows) and one
    // rename. Cost: nothing while no ledger exists (the steady state —
    // [[compact]] folds pending compensations away); one column-pruned
    // id pass over the batch while one does.
    foldReadmitted(batch.sparkSession, cfg,
      batch.select(col(idCol).cast("long").as("doc_id")).distinct())
    val nDocsObs = new org.apache.spark.sql.Observation
    val sumLenObs = new org.apache.spark.sql.Observation
    val toks = batch
      .observe(nDocsObs, count(lit(1)).as("n_docs"))
      .select(col(idCol).cast("long").as("doc_id"),
        posexplode(tokens(textCol)).as(Seq("pos", "term")))
    val tf =
      if (cfg.positional)
        toks.groupBy("doc_id", "term")
          .agg(count(lit(1)).as("tf"),
            sort_array(collect_list(col("pos"))).as("positions"))
      else
        toks.groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
    // dl = total token count = sum of tf over the doc's terms; a window
    // over the tf rows (already doc-keyed) instead of a join back
    val wDoc = org.apache.spark.sql.expressions.Window.partitionBy("doc_id")
    tf.withColumn("dl", sum("tf").over(wDoc))
      .withColumn("tp", pmod(xxhash64(col("term")), lit(cfg.partitions))
        .cast("int"))
      .observe(sumLenObs, coalesce(sum("tf"), lit(0L)).as("sum_len"))
      .repartition(col("tp"))
      .write.mode("append").partitionBy("tp")
      .parquet(postingsPath(cfg))
    val spark = batch.sparkSession
    import spark.implicits._
    Seq((nDocsObs.get("n_docs").asInstanceOf[Long],
        sumLenObs.get("sum_len").asInstanceOf[Long]))
      .toDF("n_docs", "sum_len")
      .coalesce(1).write.mode("append").parquet(statsPath(cfg))
  }

  /** The re-admission fold of [[appendBatch]]: move the given docs'
    * pending ledger compensations into the base stats (one merged row),
    * keeping served values bit-identical, via ONE staged-dir rename.
    * No-op when no ledger row matches.
    */
  private def foldReadmitted(spark: SparkSession, cfg: Cfg,
                             batchIds: DataFrame): Unit = {
    if (!hasLedger(cfg)) return
    val ledger = readLedger(spark, cfg)
    val overlap = ledger.join(batchIds, Seq("doc_id"), "left_semi")
    if (overlap.isEmpty) return
    // kept rows are re-written under the staging dir — sever their
    // lineage from the very files the swap replaces
    val kept = ledger.join(batchIds, Seq("doc_id"), "left_anti")
      .localCheckpoint(true)
    try {
      val folded = spark.read.parquet(statsPath(cfg))
        .agg(coalesce(sum("n_docs"), lit(0L)).as("__sn"),
          coalesce(sum("sum_len"), lit(0L)).as("__ss"))
        .crossJoin(overlap.agg(count(lit(1)).as("__on"),
          coalesce(sum("dl"), lit(0L)).as("__os")))
        .select((col("__sn") - col("__on")).as("n_docs"),
          (col("__ss") - col("__os")).as("sum_len"))
        .collect().head // two scalars — bounded driver state
      import spark.implicits._
      Compaction.replace(statsPath(cfg), "readmit") { staging =>
        Seq((folded.getLong(0), folded.getLong(1))).toDF("n_docs", "sum_len")
          .coalesce(1).write.parquet(staging.toString)
        if (!kept.isEmpty)
          kept.write.parquet(new File(staging, ".retract_ledger").toString)
        true
      }
    } finally org.apache.spark.sql.GraftBridge.unpersistCheckpoint(kept)
  }

  /** Build from scratch: drop any existing index, then one append. */
  def writeIndex(df: DataFrame, idCol: String, textCol: String,
                 cfg: Cfg): Unit = {
    Compaction.rm(new File(cfg.indexPath))
    appendBatch(df, idCol, textCol, cfg)
  }

  /** The query terms' partition ids, computed by evaluating THE
    * ENGINE'S OWN `XxHash64` expression driver-side (|Q| literal evals,
    * no Spark job) — the writer and the pruner can never disagree on
    * the hash, and the serve spends its jobs only on the pruned reads.
    */
  private def termPartitions(terms: Seq[String], p: Int): Seq[Int] = {
    import org.apache.spark.sql.catalyst.expressions.{Literal, XxHash64}
    terms.map { t =>
      // seed 42 = the SQL xxhash64 function's fixed seed
      val h = XxHash64(Seq(Literal.create(t,
        org.apache.spark.sql.types.StringType)), 42L).eval(null)
        .asInstanceOf[Long]
      (((h % p) + p) % p).toInt // pmod, matching the writer's expression
    }.distinct
  }

  /** BM25 top-`k` served from the index: reads only the query terms'
    * `tp` partitions plus the O(#appends)-row stats sidecar — never the
    * corpus. Output (idCol, bm25), identical row-for-row to
    * [[graft.operators.Keywords.bm25TopK]] on the indexed corpus.
    */
  private def pinnedPartitionCount(cfg: Cfg): Int = {
    val pinned = pinFile(cfg)
    require(pinned.exists(), s"no text index at ${cfg.indexPath}")
    java.nio.file.Files.readString(pinned.toPath).trim.toInt
  }

  /** The pruned postings for `terms` plus the two serving sidecar frames
    * every BM25 face shares: per-term document frequency (a count of the
    * pruned postings — df is a global per-term fact, independent of
    * which queries ask) and the 1-row (N, avgdl) stats merge.
    */
  private def servingFrames(spark: SparkSession, cfg: Cfg,
                            terms: Seq[String])
      : (DataFrame, DataFrame, DataFrame) = {
    val tps = termPartitions(terms, pinnedPartitionCount(cfg))
    // tp is the partition column: this filter prunes statically, the
    // term filter lands on the surviving files' dictionary pages.
    // The tombstone overlay (lazy takedown) is consulted HERE, on the
    // pruned read, so every face — BM25/AND/batched, phrase, proximity,
    // snippets, phrase membership — inherits it in one place: a
    // tombstoned doc's postings never enter any serve, which also
    // shifts df toward its post-excision value (membership and df are
    // immediate; N/avgdl ride the stats sidecar until the physical
    // excision — the visibility contract at [[Tombstones]]).
    val postings = Tombstones.exclude(
      spark.read.parquet(postingsPath(cfg))
        .where(col("tp").isin(tps: _*) && col("term").isin(terms: _*)),
      cfg.indexPath, col("doc_id"))
    val dfreq = postings.groupBy("term").agg(count(lit(1)).as("__bm_df"))
    val stats = mergedStats(spark, cfg)
      // avgdl = sum_len / n_docs: the same exact-long-sums division the
      // scan path's avg() computes
      .select(col("n_docs").as("__bm_n"),
        (col("sum_len").cast("double") / col("n_docs")).as("__bm_avgdl"))
    (postings, dfreq, stats)
  }

  def bm25TopK(spark: SparkSession, cfg: Cfg, idCol: String,
               query: Seq[String], k: Int,
               k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    require(query.nonEmpty, "BM25 needs at least one query term")
    require(idCol != "bm25",
      s"idCol '$idCol' collides with the reserved output column bm25")
    val terms = query.map(_.toLowerCase).distinct
    val (postings, dfreq, stats) = servingFrames(spark, cfg, terms)
    postings.join(broadcast(dfreq), "term")
      .crossJoin(broadcast(stats))
      .select(col("doc_id").as(idCol),
        graft.operators.Keywords.bm25ScoreCol(col("tf"), col("__bm_df"),
          col("__bm_n"), col("dl"), col("__bm_avgdl"), k1, b)
          .as("__bm_score"))
      .groupBy(col(idCol))
      .agg(sum(round(col("__bm_score"), 6).cast("decimal(18,6)"))
        .cast("double").as("bm25"))
      .orderBy(col("bm25").desc, col(idCol))
      .limit(k)
  }

  /** Conjunctive (boolean-AND) BM25: top-`k` among documents containing
    * EVERY query term — the high-precision retrieval mode (all-terms
    * filter, BM25 order). Costs exactly the disjunctive serve plus one
    * HAVING over the per-doc group: postings are unique per (term, doc),
    * so a doc's matched-term count is its posting-row count in the
    * pruned read. A term absent from the corpus empties the result — the
    * correct AND semantics, loudly visible rather than silently relaxed.
    */
  def bm25TopKAll(spark: SparkSession, cfg: Cfg, idCol: String,
                  query: Seq[String], k: Int,
                  k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    require(query.nonEmpty, "BM25 needs at least one query term")
    require(idCol != "bm25",
      s"idCol '$idCol' collides with the reserved output column bm25")
    val terms = query.map(_.toLowerCase).distinct
    val (postings, dfreq, stats) = servingFrames(spark, cfg, terms)
    postings.join(broadcast(dfreq), "term")
      .crossJoin(broadcast(stats))
      .select(col("doc_id").as(idCol),
        graft.operators.Keywords.bm25ScoreCol(col("tf"), col("__bm_df"),
          col("__bm_n"), col("dl"), col("__bm_avgdl"), k1, b)
          .as("__bm_score"))
      .groupBy(col(idCol))
      .agg(sum(round(col("__bm_score"), 6).cast("decimal(18,6)"))
        .cast("double").as("bm25"),
        count(lit(1)).as("__bm_matched"))
      .where(col("__bm_matched") === terms.size)
      .drop("__bm_matched")
      .orderBy(col("bm25").desc, col(idCol))
      .limit(k)
  }

  /** Exact-PHRASE retrieval from a positional index: top-`k` among
    * documents containing the query terms CONSECUTIVELY, ranked by BM25
    * over the phrase's terms (same score tree / decimal sum / id
    * tie-break as every other face) with the occurrence count alongside.
    *
    * Same serve cost as the conjunctive face — only the phrase terms'
    * `tp=` partitions are read — plus the positions arrays of those
    * postings. The adjacency decision is pure array arithmetic, no
    * re-scan of text: a doc contains the phrase iff
    * `∩ᵢ (positions(termᵢ) − i)` is non-empty (each member of the
    * intersection is a start offset, so its size IS the occurrence
    * count; repeated phrase terms fall out of the same algebra — the
    * map holds each term's full position list once, shifted per slot).
    *
    * This is also the position-aware decontamination primitive: a
    * benchmark phrase's member docs come back from pruned partitions
    * instead of the n-gram re-scan [[graft.operators.Contamination]]
    * pays.
    */
  /** The shared positional-candidate stage: docs containing ALL of
    * `terms` (distinct, lowercased), each with its BM25 over those terms
    * and the term → positions map (`__bm_pos`, ≤ |terms| entries — the
    * positional algebra of [[phraseTopK]]/[[proximityTopK]] runs over
    * these small per-candidate arrays, never corpus-sized data).
    */
  private def phraseCandidates(spark: SparkSession, cfg: Cfg,
                               idCol: String, terms: Seq[String],
                               k1: Double, b: Double): DataFrame = {
    require(terms.nonEmpty, "positional retrieval needs at least one term")
    require(idCol != "bm25" && idCol != "n_occurrences",
      s"idCol '$idCol' collides with a reserved output column")
    require(posFile(cfg).exists(),
      s"text index at ${cfg.indexPath} stores no positions — phrase " +
        "retrieval needs an index created with Cfg(positional = true)")
    val (postings, dfreq, stats) = servingFrames(spark, cfg, terms)
    postings.join(broadcast(dfreq), "term")
      .crossJoin(broadcast(stats))
      .select(col("doc_id"), col("term"), col("positions"),
        graft.operators.Keywords.bm25ScoreCol(col("tf"), col("__bm_df"),
          col("__bm_n"), col("dl"), col("__bm_avgdl"), k1, b)
          .as("__bm_score"))
      .groupBy(col("doc_id"))
      .agg(sum(round(col("__bm_score"), 6).cast("decimal(18,6)"))
        .cast("double").as("bm25"),
        count(lit(1)).as("__bm_matched"),
        // ≤ |terms| entries per doc (postings are unique per (term, doc))
        map_from_entries(collect_list(struct(col("term"), col("positions"))))
          .as("__bm_pos"))
      // all terms present is necessary for any positional predicate;
      // checking it first keeps the array algebra off the non-candidates
      .where(col("__bm_matched") === terms.size)
      .select(col("doc_id").as(idCol), col("bm25"), col("__bm_pos"))
  }

  /** The unordered phrase-match core: every matching doc with its BM25
    * and occurrence count — [[phraseTopK]] adds the ranked cut.
    */
  private def phraseHits(spark: SparkSession, cfg: Cfg, idCol: String,
                         phrase: Seq[String],
                         k1: Double, b: Double): DataFrame = {
    val slots = phrase.map(_.toLowerCase)
    val byDoc = phraseCandidates(spark, cfg, idCol, slots.distinct, k1, b)
    val starts = slots.zipWithIndex.map { case (t, i) =>
        transform(col("__bm_pos").getItem(t), p => p - i)
      }.reduce(array_intersect(_, _))
    byDoc
      .withColumn("n_occurrences", size(starts).cast("long"))
      .where(col("n_occurrences") > 0)
      .select(col(idCol), col("bm25"), col("n_occurrences"))
  }

  def phraseTopK(spark: SparkSession, cfg: Cfg, idCol: String,
                 phrase: Seq[String], k: Int,
                 k1: Double = 1.2, b: Double = 0.75): DataFrame =
    phraseHits(spark, cfg, idCol, phrase, k1, b)
      .orderBy(col("bm25").desc, col(idCol))
      .limit(k)

  /** PROXIMITY retrieval (the NEAR operator): top-`k` among documents
    * where EVERY query term occurs within some `window`-token span, in
    * any order — the middle ground between the conjunctive face (terms
    * anywhere in the doc) and [[phraseTopK]] (terms adjacent, ordered).
    * Same pruned serve and BM25 ranking as both neighbors; the span
    * decision is pure position algebra over the candidate's own arrays:
    * a witness set with max−min < window exists iff SOME occurrence `p`
    * (its leftmost member) sees every term in `[p, p+window)` — checked
    * with nested higher-order exists over the ≤ tf-sized arrays of the
    * all-terms candidates, never corpus-sized data.
    */
  def proximityTopK(spark: SparkSession, cfg: Cfg, idCol: String,
                    terms: Seq[String], window: Int, k: Int,
                    k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    require(window >= 1, s"window must be >= 1, got $window")
    val distinctTerms = terms.map(_.toLowerCase).distinct
    val hits = phraseCandidates(spark, cfg, idCol, distinctTerms, k1, b)
    // every occurrence of every term is a candidate leftmost anchor
    val anchors = flatten(map_values(col("__bm_pos")))
    val near = exists(anchors, p =>
      distinctTerms.map(t =>
          exists(col("__bm_pos").getItem(t),
            q => q >= p && q < p + lit(window)))
        .reduce(_ && _))
    hits.where(near)
      .select(col(idCol), col("bm25"))
      .orderBy(col("bm25").desc, col(idCol))
      .limit(k)
  }

  /** SNIPPET extraction for a BM25 top-`k`: each hit comes back with the
    * `window`-token span of its text that contains the most query-term
    * occurrences (earliest span on ties) — the highlighting face of a
    * retrieval stack. Cost shape: the CUT is the pruned index serve
    * ([[bm25TopK]]); only the k winning docs join back to the corpus for
    * their text (the O(matches)-minority join this module's class doc
    * promises for exact verification), and the span argmax runs over
    * each winner's own query-term hit positions — an optimal window can
    * always be left-aligned on a hit, so the candidate starts are the
    * hits themselves, folded with array algebra (struct max = lexico-
    * graphic (count, −start), i.e. most hits then earliest).
    *
    * Output: (idCol, bm25, snippet_start, snippet) — `snippet_start` is
    * the 0-based token offset, `snippet` the engine's token stream
    * (lowercased, whitespace-normalized) re-joined with single spaces.
    */
  def snippetTopK(spark: SparkSession, cfg: Cfg, corpus: DataFrame,
                  idCol: String, textCol: String, query: Seq[String],
                  window: Int, k: Int,
                  k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    require(window >= 1, s"window must be >= 1, got $window")
    val top = bm25TopK(spark, cfg, idCol, query, k, k1, b)
    snippetsOf(top.join(corpus.select(col(idCol), col(textCol)),
        Seq(idCol)),
      idCol, textCol, query, window)
  }

  /** [[snippetTopK]] with the text fetch served from a KEY-BUCKETED
    * forward store ([[Bucketing.writeKeyBucketed]] over (id, text))
    * instead of the flat corpus: the k winning ids are collected (k
    * rows — the cut, bounded by construction) and the text read prunes
    * STATICALLY to their ≤ k `kb=` buckets (PartitionFilters, spec-
    * asserted) — at 100 TB the difference between a k-directory point
    * read and scanning the corpus's whole (id, text) projection for
    * every snippet query. Output identical to [[snippetTopK]] row for
    * row (`q_snippets_stored` carries the same oracle verbatim).
    */
  def snippetTopKStored(spark: SparkSession, cfg: Cfg, storePath: String,
                        idCol: String, textCol: String,
                        query: Seq[String], window: Int, k: Int,
                        k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    require(window >= 1, s"window must be >= 1, got $window")
    // the cut materializes once (k rows) — it is both collected for
    // pruning and joined for output
    val top = bm25TopK(spark, cfg, idCol, query, k, k1, b)
      .localCheckpoint(true)
    val ids = top.select(col(idCol).cast("long")).collect()
      .map(_.getLong(0)).toSeq
    if (ids.isEmpty)
      return snippetsOf(top.withColumn(textCol, lit("")),
        idCol, textCol, query, window)
    val text = Bucketing.readKeys(spark, storePath, idCol, ids)
      .select(col(idCol), col(textCol))
    // the store must cover the corpus ("output identical to snippetTopK
    // row for row" — an inner join would silently DROP a winner whose
    // text row is missing): fail loudly instead, naming the gap. The
    // corpus loop keeps the contract by construction (creation
    // backfills from the corpus as written, every batch appends); a
    // hand-rolled store that skipped older docs surfaces here, not as
    // quietly shorter top-k output. Cost: one ≤ k-row collect.
    val got = text.select(col(idCol).cast("long")).collect()
      .map(_.getLong(0)).toSet
    val missing = ids.filterNot(got)
    if (missing.nonEmpty)
      throw new IllegalStateException(
        s"snippetTopKStored: forward store at $storePath is missing " +
          s"top-k winner(s) ${missing.sorted.mkString(", ")} — the " +
          "store must cover the full corpus (backfill it from the " +
          "corpus's (id, text) projection, or let the corpus loop " +
          "create it)")
    snippetsOf(top.join(text, Seq(idCol)), idCol, textCol, query, window)
  }

  /** The snippet span argmax shared by both fetch paths: for each row
    * of `withText` (idCol, bm25, textCol), the `window`-token span with
    * the most query-term hits, earliest on ties — an optimal window can
    * always be left-aligned on a hit, so candidate starts are the hits
    * themselves, folded with array algebra (struct max = lexicographic
    * (count, −start)).
    */
  private def snippetsOf(withText: DataFrame, idCol: String,
                         textCol: String, query: Seq[String],
                         window: Int): DataFrame = {
    val terms = query.map(_.toLowerCase).distinct
    val t = withText.withColumn("__sn_toks", tokens(textCol))
    val hitPos = t
      .select(col(idCol), posexplode(col("__sn_toks")).as(Seq("pos", "tok")))
      .where(col("tok").isin(terms: _*))
      .groupBy(col(idCol))
      .agg(sort_array(collect_list(col("pos"))).as("__sn_hits"))
    // every top-k doc holds >= 1 query term (BM25 > 0 requires a
    // posting), so the inner join loses nothing
    val scored = transform(col("__sn_hits"), s => struct(
      size(filter(col("__sn_hits"), q => q >= s && q < s + lit(window)))
        .as("cnt"),
      (-s).as("negs")))
    t.join(hitPos, Seq(idCol))
      .withColumn("__sn_best", array_max(scored))
      .select(col(idCol), col("bm25"),
        (-col("__sn_best.negs")).cast("long").as("snippet_start"),
        array_join(slice(col("__sn_toks"),
          -col("__sn_best.negs") + 1, lit(window)), " ").as("snippet"))
  }

  /** Position-aware DECONTAMINATION from the index: the doc ids
    * containing ANY of `phrases` exactly — ONE plan for the whole
    * benchmark, however many phrases it has (the batched-serving
    * discipline of [[bm25BatchTopK]]). The postings read is pruned to
    * the UNION of all phrases' terms; the phrase table ships as a
    * broadcast of (phrase, slot, term) rows; each candidate doc folds
    * its ≤|slots| (slot, positions) structs through the same
    * shifted-intersection algebra as [[phraseTopK]] (the fold is a
    * higher-order `aggregate` — interpreted, but over the per-candidate
    * slot structs, never corpus-sized data). This is the serving-path
    * complement to [[graft.operators.Contamination.ngramOverlap]]'s
    * ingest-time n-gram scan: a benchmark UPDATE is audited with one
    * job, never a corpus text re-scan. Output: distinct (idCol) —
    * membership only, no scores.
    */
  def phraseMembers(spark: SparkSession, cfg: Cfg, idCol: String,
                    phrases: Seq[Seq[String]]): DataFrame = {
    require(phrases.nonEmpty, "phrase decontamination needs >= 1 phrase")
    require(phrases.forall(_.nonEmpty), "empty phrase")
    require(posFile(cfg).exists(),
      s"text index at ${cfg.indexPath} stores no positions — phrase " +
        "retrieval needs an index created with Cfg(positional = true)")
    import spark.implicits._
    val slots = phrases.zipWithIndex.flatMap { case (p, pid) =>
      p.map(_.toLowerCase).zipWithIndex.map { case (t, i) => (pid, i, t) }
    }.toDF("__ph_pid", "__ph_slot", "term")
    val sizes = phrases.zipWithIndex
      .map { case (p, pid) => (pid, p.map(_.toLowerCase).distinct.size) }
      .toDF("__ph_pid", "__ph_nterms")
    val terms = phrases.flatten.map(_.toLowerCase).distinct
    val (postings, _, _) = servingFrames(spark, cfg, terms)
    val perDoc = postings
      .select(col("doc_id"), col("term"), col("positions"))
      .join(broadcast(slots), "term")
      .groupBy(col("__ph_pid"), col("doc_id"))
      .agg(count_distinct(col("term")).as("__ph_matched"),
        // one struct per phrase SLOT of this doc (a repeated term
        // fans out per slot) — array_sort orders by the leading slot
        sort_array(collect_list(struct(col("__ph_slot"), col("positions"))))
          .as("__ph_sp"))
      .join(broadcast(sizes), "__ph_pid")
      // all the phrase's distinct terms present — adjacency can't hold
      // otherwise, and the algebra below stays off the non-candidates
      .where(col("__ph_matched") === col("__ph_nterms"))
    val first = element_at(col("__ph_sp"), 1)
    val rest = slice(col("__ph_sp"), lit(2),
      greatest(size(col("__ph_sp")) - 1, lit(0)))
    val starts = aggregate(rest,
      transform(first.getField("positions"),
        p => p - first.getField("__ph_slot")),
      (acc, x) => array_intersect(acc,
        transform(x.getField("positions"), p => p - x.getField("__ph_slot"))))
    perDoc.where(size(starts) > 0)
      .select(col("doc_id").as(idCol)).distinct()
  }

  /** BATCHED BM25 from the index — a whole query table answered in one
    * plan, identical per query to looping [[bm25TopK]] (and so to
    * [[graft.operators.Keywords.bm25BatchTopK]], whose oracle the
    * `q_bm25_indexed_batched` row reuses verbatim). The postings read is
    * pruned to the UNION of all queries' terms — collected driver-side
    * for partition pruning, bounded by the query batch's vocabulary,
    * never the corpus — scored once per (doc, term), and fanned out to
    * queries by a broadcast join. Returns (query_id, idCol, bm25),
    * per-query top-k with the decimal sum + id tie-break.
    */
  def bm25BatchTopK(spark: SparkSession, cfg: Cfg, idCol: String,
                    queries: DataFrame, queryIdCol: String,
                    queryTermsCol: String, k: Int,
                    k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    require(idCol != "bm25" && idCol != "query_id",
      s"idCol '$idCol' collides with a reserved output column")
    val qterms = queries.select(col(queryIdCol).as("query_id"),
      explode(array_distinct(transform(col(queryTermsCol), lower(_))))
        .as("term"))
    val terms = qterms.select("term").distinct()
      .collect().map(_.getString(0)).toSeq
    require(terms.nonEmpty, "BM25 needs at least one query term")
    // the explicit driver-state contract (the BPE/servedOverlap
    // discipline): partition pruning needs the term union driver-side,
    // so its size is bounded loudly — chunk a larger query table
    require(terms.size <= 65536,
      s"bm25BatchTopK collected ${terms.size} distinct query terms for " +
        "partition pruning (driver-side, bounded by the query batch's " +
        "vocabulary) — the 65536 bound keeps that contract explicit; " +
        "serve a larger query table in chunks")
    val (postings, dfreq, stats) = servingFrames(spark, cfg, terms)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("query_id").orderBy(col("bm25").desc, col(idCol))
    postings.join(broadcast(dfreq), "term")
      .crossJoin(broadcast(stats))
      .join(broadcast(qterms), "term")
      .select(col("query_id"), col("doc_id").as(idCol),
        graft.operators.Keywords.bm25ScoreCol(col("tf"), col("__bm_df"),
          col("__bm_n"), col("dl"), col("__bm_avgdl"), k1, b)
          .as("__bm_score"))
      .groupBy(col("query_id"), col(idCol))
      .agg(sum(round(col("__bm_score"), 6).cast("decimal(18,6)"))
        .cast("double").as("bm25"))
      .withColumn("__bm_rank", row_number().over(w))
      .where(col("__bm_rank") <= k).drop("__bm_rank")
  }

  /** Index health: one row (n_docs, sum_len, avgdl, n_postings,
    * n_terms) — the monitoring face operators poll before trusting a
    * serve (a postings/doc ratio drifting up means the tokenizer or the
    * upstream dedup changed). n_docs/sum_len/avgdl come from the
    * O(#appends) stats sidecar; the postings/terms counts are one
    * narrow aggregate over the (term) column — no text, no corpus.
    */
  def stats(spark: SparkSession, cfg: Cfg): DataFrame = {
    val s = mergedStats(spark, cfg)
    val p = spark.read.parquet(postingsPath(cfg))
      .agg(count(lit(1)).as("n_postings"),
        count_distinct(col("term")).as("n_terms"))
    s.crossJoin(p)
      .select(col("n_docs"), col("sum_len"),
        (col("sum_len").cast("double") / col("n_docs")).as("avgdl"),
        col("n_postings"), col("n_terms"))
  }

  /** TAKEDOWN: excise `docs` (their id + text columns, read from the
    * corpus BEFORE its own rewrite) from the index — postings removed,
    * stats compensated — so every serve answers over the surviving
    * corpus only.
    *
    * Pruning: the docs' terms re-tokenize under the pinned tokenizer,
    * so the touched `tp=` partitions are known up front (≤ P ints
    * driver-side) and ONLY those leaves are rewritten (anti-join on
    * doc_id, staged atomic swap per leaf — untouched partitions keep
    * their files byte-for-byte, spec-asserted).
    *
    * EXACTLY-ONCE compensation, by construction. The stats sidecar is
    * additive and its history is never rewritten; the compensation is a
    * per-doc row in the retraction LEDGER (`stats/.retract_ledger/`,
    * see [[mergedStats]]) appended in ONE write — the verb's single
    * commit point — and every stats read serves base − ledger. The
    * ordering is measure → ledger → leaf rewrites, and a re-run SKIPS
    * ids already in the ledger, which makes every crash window exact:
    *
    *  - crash BEFORE the ledger append: nothing committed; the re-run
    *    re-measures from the still-intact postings (the leaf rewrites
    *    only start after the append) — same values, appended once;
    *  - crash AFTER the append (mid-leaf-rewrites or before them): the
    *    compensation is already serving; the re-run skips the measured
    *    ids entirely and just re-runs the idempotent leaf rewrites.
    *
    * There is no reconciliation step left — [[healStats]] remains as an
    * independent auditor, not a required repair. Zero-token docs carry
    * a ledger row with dl = 0 (they counted into N at append, so they
    * compensate N). A doc RE-ADMITTED after a completed retraction gets
    * its stale ledger row folded away by [[appendBatch]] (atomically,
    * see there), so a later retraction of the re-admitted doc measures
    * and compensates afresh.
    *
    * Returns (docs removed from N, token mass removed) — zeros on a
    * clean re-run.
    */
  def retract(spark: SparkSession, cfg: Cfg, docs: DataFrame,
              idCol: String, textCol: String): (Long, Long) = {
    // an index that was configured but never received an append holds
    // nothing to excise — the no-op every other artifact verb answers
    if (!pinFile(cfg).exists()) return (0L, 0L)
    val p = pinnedPartitionCount(cfg)
    // ONE overlapped setup round (§2.6): the id checkpoint, the
    // not-yet-ledgered-id checkpoint (its count riding as an observed
    // metric) and the touched-partition collect are independent bounded
    // actions — newIds anti-joins the id PLAN (same rows either side of
    // the checkpoint), so nothing serializes on anything.
    val idsPlan = docs.select(col(idCol).cast("long").as("doc_id"))
      .distinct()
    val obsN = new org.apache.spark.sql.Observation
    var idsV: DataFrame = null
    var newIdsV: DataFrame = null
    var tps: Seq[Int] = null
    Compaction.parEach(Seq(
      () => idsV = idsPlan.localCheckpoint(true),
      // already-compensated ids (a prior crashed run's committed ledger
      // rows) are skipped by the measurement — their leaves still
      // rewrite below, which is exactly what a crash-rerun must heal
      () => newIdsV = (if (!hasLedger(cfg)) idsPlan
        else idsPlan.join(readLedger(spark, cfg)
            .select("doc_id"), Seq("doc_id"), "left_anti"))
        .observe(obsN, count(lit(1)).as("__n"))
        .localCheckpoint(true),
      // touched partitions from the docs' own terms — the writer's
      // hash, bounded by P
      () => tps = docs
        .select(explode(tokens(textCol)).as("term"))
        .select(pmod(xxhash64(col("term")), lit(p)).cast("int").as("tp"))
        .distinct().collect().map(_.getInt(0)).toSeq
    ))(_.apply())
    val ids = idsV
    try {
      val newIds = newIdsV
      try {
        val pdir = new File(postingsPath(cfg))
        val liveTps = tps.filter(v => new File(pdir, s"tp=$v").exists())
        val nDocs = org.apache.spark.sql.GraftBridge.observedOrEmpty(obsN)
          .get("__n") match {
          case Some(n: Long) => n
          case _ => newIds.count()
        }
        var sumLen = 0L
        if (nDocs > 0) {
          // per-doc token mass measured from the postings ACTUALLY
          // present (zero-token docs left none → dl 0), written as the
          // ledger append — the one commit of the whole compensation
          val perDoc =
            if (liveTps.isEmpty)
              newIds.select(col("doc_id"), lit(0L).as("dl"))
            else {
              val present = spark.read.parquet(postingsPath(cfg))
                .where(col("tp").isin(liveTps: _*))
                .join(broadcast(newIds), Seq("doc_id"), "left_semi")
                .groupBy("doc_id").agg(sum("tf").as("__dl0"))
              newIds.join(present, Seq("doc_id"), "left")
                .select(col("doc_id"),
                  coalesce(col("__dl0"), lit(0L)).as("dl"))
            }
          val obs = new org.apache.spark.sql.Observation
          perDoc.observe(obs, coalesce(sum("dl"), lit(0L)).as("sl"))
            .coalesce(1).write.mode("append").parquet(ledgerPath(cfg))
          sumLen = obs.get("sl").asInstanceOf[Long]
        }
        // one pruned-scan job rewrites every touched leaf (per-leaf
        // jobs were pure scheduling latency at this leaf size)
        Compaction.rewriteLeaves(spark, postingsPath(cfg), "tp", liveTps,
          df => df.join(broadcast(ids), Seq("doc_id"), "left_anti"))
        (nDocs, sumLen)
      } finally org.apache.spark.sql.GraftBridge.unpersistCheckpoint(newIds)
    } finally org.apache.spark.sql.GraftBridge.unpersistCheckpoint(ids)
  }

  /** Rebuild the stats sidecar exactly from ground truth — since the
    * retraction ledger made [[retract]] exactly-once this is an
    * independent AUDITOR, not a required repair: n_docs from the
    * surviving corpus (zero-token docs included, as at append time),
    * sum_len from the surviving postings (one narrow O(index) aggregate
    * over the tf column — never the corpus text). Staged atomic swap,
    * so a serve mid-heal sees old or new, never half — and because the
    * ledger lives INSIDE the stats directory, the same swap clears it
    * (a ground-truth rebuild supersedes every pending compensation) in
    * the same rename.
    */
  def healStats(spark: SparkSession, cfg: Cfg, corpus: DataFrame): Unit = {
    val n = corpus.count()
    val sl = spark.read.parquet(postingsPath(cfg))
      .agg(coalesce(sum("tf"), lit(0L))).collect().head.getLong(0)
    import spark.implicits._
    Compaction.replace(statsPath(cfg), "statsheal") { staging =>
      Seq((n, sl)).toDF("n_docs", "sum_len")
        .coalesce(1).write.parquet(staging.toString)
      true
    }
  }

  /** Small-files maintenance: per-term-partition rewrite of the postings
    * (atomic per leaf, layout preserved) and a lossless row-merge of the
    * stats sidecar to ONE row. The merged row is base − ledger
    * ([[mergedStats]] — the served value, so every serve is
    * bit-identical across the pass) and the staging dir carries no
    * ledger, so the same atomic rename that installs the row FOLDS AND
    * RETIRES every pending compensation — restoring [[appendBatch]]'s
    * zero-cost steady state.
    */
  def compact(spark: SparkSession, cfg: Cfg): Unit = {
    Compaction.compactPartitioned(spark, postingsPath(cfg))
    val sp = statsPath(cfg)
    val merged = mergedStats(spark, cfg)
      .collect().head // two scalars — bounded driver state
    import spark.implicits._
    Compaction.replace(sp, "statsmerge") { staging =>
      Seq((merged.getLong(0), merged.getLong(1))).toDF("n_docs", "sum_len")
        .coalesce(1).write.parquet(staging.toString)
      true
    }
  }
}
