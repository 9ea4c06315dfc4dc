package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Distributed connected components over an edge list — the step that turns
  * pairwise near-duplicate hits (MinHash/SimHash/embedding pairs) into
  * duplicate CLUSTERS. Pairwise dedup alone under-deletes: for a chain
  * a~b, b~c with no direct a~c pair, the right corpus-cleaning decision is
  * one survivor for {a, b, c}, which is exactly min-per-component.
  *
  * Algorithm: min-label propagation. Every node starts labeled with its own
  * id; each round every node takes the min of its own and its neighbors'
  * labels; converged when no label changed. Each round is one shuffle join
  * of the (node, label) table against the edge list plus one min-aggregate —
  * both keyed on node id, so the two tables can share a partitioning. Rounds
  * needed = graph diameter, which for near-duplicate graphs is small (dup
  * clusters are dense — most are cliques from a common ancestor document).
  * For adversarially deep graphs the alternating large-star/small-star
  * scheme (Kiveris et al., "Connected Components in MapReduce and Beyond")
  * converges in O(log² n) rounds at the cost of rewriting the edge list each
  * round; the label-propagation form is the right default for dedup graphs.
  *
  * Each round materializes the label table via eager `localCheckpoint` —
  * without truncation the plan doubles per iteration and Catalyst analysis
  * itself becomes the bottleneck. Only the CURRENT round's checkpoint stays
  * pinned: each round releases the previous round's blocks, so peak
  * executor storage is one label table (plus the edge list), not one per
  * iteration. The label table is O(nodes-in-pairs) —
  * the duplicate minority, not the corpus. Same executor-loss caveat as
  * [[Dedup.minhashLsh]]'s eager path: on clusters with executor churn,
  * write the final labels to durable storage promptly or swap the
  * `localCheckpoint` for a reliable `checkpoint`.
  */
object Components {

  /** Connected components of the undirected graph given by `pairs`
    * (`srcCol`, `dstCol` node ids, castable to long). Returns one row per
    * distinct node appearing in any pair: (id, component) where `component`
    * is the smallest node id reachable from `id`. Nodes with no edges are
    * not emitted (they are their own singleton components by definition —
    * callers left-join and coalesce to the id itself).
    *
    * `maxIters` bounds the [[Fixpoint]] loop; propagation needs `diameter`
    * rounds, so hitting the bound means labels may not have fully
    * converged — the loop throws rather than returning silently-wrong
    * clusters.
    *
    * The returned frame is backed by the FINAL round's checkpoint blocks
    * (all earlier rounds are released inside the loop); callers that fully
    * consume it may release those too via
    * [[org.apache.spark.sql.GraftBridge.unpersistCheckpoint]].
    */
  def connectedComponents(pairs: DataFrame, srcCol: String, dstCol: String,
                          maxIters: Int = 25): DataFrame = {
    val e = pairs.select(col(srcCol).cast("long").as("src"),
        col(dstCol).cast("long").as("dst"))
      .where(col("src").isNotNull && col("dst").isNotNull)
      // the pair plan is often an expensive generator (LSH banding + verify
      // join); the symmetrizing union below consumes it TWICE, so
      // materialize it once here (released with sym at the end)
      .localCheckpoint(true)
    // undirected: propagate along both directions of every edge
    val sym = e.union(e.select(col("dst").as("src"), col("src").as("dst")))
      .distinct()
      .persist(StorageLevel.MEMORY_AND_DISK) // re-joined every round
    val init = sym.select(col("src").as("id")).distinct()
      .select(col("id"), col("id").as("component"))
    try Fixpoint.iterate("connectedComponents", init, maxIters,
        Some("changed")) { labels =>
      // the best label reachable in one hop: min over in-neighbors
      val nbrMin = sym
        .join(labels.select(col("id").as("dst"), col("component")), "dst")
        .groupBy("src").agg(min("component").as("nbr_min"))
        .withColumnRenamed("src", "id")
      labels.join(nbrMin, Seq("id"), "left")
        .select(col("id"),
          least(col("component"),
            coalesce(col("nbr_min"), col("component"))).as("component"),
          (coalesce(col("nbr_min"), col("component"))
            < col("component")).as("changed"))
    }.select("id", "component")
    finally {
      sym.unpersist(false)
      org.apache.spark.sql.GraftBridge.unpersistCheckpoint(e)
    }
  }

  /** Transitive corpus cleaning: one survivor (the lowest id) per connected
    * component of the near-duplicate graph, instead of [[Dedup]]'s greedy
    * drop-the-right-side-of-every-pair. `pairs` must carry `idA`/`idB`
    * columns with ids from `df(idCol)`.
    */
  def keepComponentMinima(df: DataFrame, idCol: String,
                          pairs: DataFrame, idA: String, idB: String,
                          maxIters: Int = 25): DataFrame = {
    val comp = connectedComponents(pairs, idA, idB, maxIters)
    val losers = comp.where(col("id") =!= col("component"))
      .select(col("id").cast("long").as(idCol))
    df.join(losers, Seq(idCol), "left_anti")
  }

  /** Incremental connected components against a persisted label store —
    * the O(batch)-per-day form of [[connectedComponents]] for a
    * near-duplicate graph that GROWS: each ingest batch contributes a few
    * new pairs (new-doc↔new-doc and new-doc↔indexed-doc hits from the
    * frozen-index dedup gate), and recomputing the closure over every
    * pair ever seen is both O(all-pairs) per day and — worse at scale —
    * needs `diameter(full graph)` propagation rounds.
    *
    * The store replaces the historical edge list with its STAR form: one
    * (id → component) edge per labeled node. Equivalence is exact, not
    * approximate: the star edges induce the same vertex partition as the
    * historical edges, and for any two graphs inducing the same partition,
    * adding the same new edge set yields the same partition — so labels
    * from (star ∪ new) equal labels from (all-pairs-ever ∪ new), which the
    * `dedup_components_incremental_gap` twin enforces as set equality.
    * The scale win is the ROUND count: stars have depth 1, so propagation
    * converges in O(length of the longest new-edge path + 2) rounds
    * regardless of how deep the historical graph was — a chain built over
    * N batches costs ~3 rounds per batch instead of N rounds in one shot
    * (proven in `DedupSpec`: the one-shot form THROWS at the same
    * `maxIters` the incremental form converges under).
    *
    * Each update rewrites the store via the staged atomic swap
    * ([[graft.sources.Compaction.replace]]) — crash-safe like every
    * other sidecar rewrite; a retried batch re-derives the same labels
    * (idempotent: star ∪ same-pairs gives the same partition). The store
    * is O(nodes-in-pairs) — the duplicate minority, not the corpus.
    *
    * Propagation is PRUNED to the affected components: only stored
    * labels whose component contains a new-edge endpoint enter the
    * closure (two semi-joins find them); every other component cannot
    * change (none of its nodes touches a new edge) and is unioned back
    * verbatim. Per-batch closure cost is therefore O(new edges +
    * members of touched components), independent of how large the
    * historical dup graph has grown — without the pruning a daily
    * batch of a few pairs would re-propagate over every label ever
    * stored.
    *
    * The store REWRITE has two layouts. `partitions = 0` (default):
    * one flat table, whole-file atomic swap per update — right while
    * the store is small. `partitions = P`: the store is laid out
    * partitioned by `lp = pmod(xxhash64(component), P)` and an update
    * rewrites ONLY the partitions holding affected or newly-labeled
    * components (dynamic partition overwrite, the
    * [[Merge.keepLatestPartitioned]] pattern) — write cost scales with
    * the touched components, not the store. Rows merely co-resident in
    * a touched partition (hash neighbors) are preserved by unioning
    * them back into the rewrite. P is pinned in a `_label_partitions`
    * meta file at creation; a mismatched `partitions` argument — or
    * mixing the two layouts — fails loudly instead of corrupting the
    * directory. Crash stance: the dynamic overwrite is atomic per
    * partition, not across partitions (keepLatestPartitioned's
    * documented trade) — a retried batch re-derives the same labels,
    * so a partial overwrite converges on replay.
    */
  /** `idBloomBits`/`idBloomExpectedItems` size the per-partition id
    * Bloom rows of the partitioned layout's point-lookup sidecar (see
    * [[lookupComponent]]); an undersized filter only raises the false-
    * positive rate — more candidate partitions read per lookup, never a
    * wrong answer (the confirm filter is exact).
    */
  def updateLabelStore(spark: org.apache.spark.sql.SparkSession,
                       path: String, newPairs: DataFrame,
                       srcCol: String, dstCol: String,
                       maxIters: Int = 25,
                       partitions: Int = 0,
                       idBloomBits: Long = 1L << 22,
                       idBloomExpectedItems: Long = 1000000L): DataFrame = {
    require(partitions >= 0, s"partitions=$partitions")
    val dir = new java.io.File(path)
    val meta = new java.io.File(dir, "_label_partitions")
    val entries = Option(dir.listFiles()).getOrElse(Array.empty)
    val flatExisting =
      entries.exists(f => f.isFile && f.getName.endsWith(".parquet"))
    val partitionedExisting =
      entries.exists(f => f.isDirectory && f.getName.startsWith("lp="))
    val metaP: Option[Int] =
      if (meta.exists()) {
        val raw = java.nio.file.Files.readString(meta.toPath).trim
        require(raw.nonEmpty && raw.forall(_.isDigit),
          s"label store meta at $meta is corrupt ('$raw') — a crashed " +
            "meta write; rebuild the store")
        Some(raw.toInt)
      } else None
    metaP match {
      case Some(p) => require(partitions == p,
        s"label store at $path was created with partitions=$p; " +
          s"got partitions=$partitions — the layout is pinned at creation")
      case None =>
        require(!partitionedExisting,
          s"label store at $path has lp= partitions but no " +
            "_label_partitions meta (crashed creation) — rebuild it")
        if (flatExisting) require(partitions == 0,
          s"label store at $path is a flat table — migrate it " +
            "explicitly before switching to a partitioned layout")
    }
    // pin the layout BEFORE any partitioned data lands: a crash between
    // the two leaves meta-without-data, which the next call treats as a
    // fresh creation at the same pinned P. Write-then-move so a crash
    // mid-write cannot leave a truncated meta.
    if (partitions > 0 && metaP.isEmpty)
      graft.sources.Compaction.writeFile(meta.toString, partitions.toString)
    def lpOf(c: Column): Column = pmod(xxhash64(c), lit(partitions))
    val prior: Option[DataFrame] =
      if (flatExisting || partitionedExisting)
        Some(spark.read.parquet(path))
      else None
    val edges = newPairs.select(col(srcCol).cast("long").as("src"),
      col(dstCol).cast("long").as("dst"))
      // both prunes and the closure consume the edge frame — one
      // materialization (O(batch pairs) small)
      .localCheckpoint(true)
    val (closureInput, priorSplit) = prior match {
      case Some(labels) =>
        val endpoints = edges.select(col("src").as("id"))
          .union(edges.select(col("dst").as("id"))).distinct()
        val affectedComps = labels.join(endpoints, Seq("id"), "left_semi")
          .select(col("component")).distinct()
        val affected = labels.join(affectedComps, Seq("component"),
          "left_semi")
        val kept = labels.join(affectedComps, Seq("component"),
          "left_anti")
        (edges.union(affected.select(col("id").as("src"),
          col("component").as("dst"))), Some((kept, affected)))
      case None => (edges, None)
    }
    val untouched = priorSplit.map(_._1)
    val closed = connectedComponents(closureInput, "src", "dst", maxIters)
    try {
      if (partitions == 0) {
        val labels = untouched match {
          case Some(kept) => closed.union(kept.select("id", "component"))
          case None => closed
        }
        // connectedComponents returns a checkpoint-backed frame, but the
        // `untouched` side still READS the store files the swap replaces
        // — materialize the union before writing so the swap cannot pull
        // the files out from under a lazy scan
        val out = labels.localCheckpoint(true)
        try graft.sources.Compaction.replace(path, "labels") { staging =>
          out.write.parquet(staging.toString)
          true
        } finally org.apache.spark.sql.GraftBridge.unpersistCheckpoint(out)
      } else {
        // touched partitions: where affected components lived (so rows
        // whose component MOVED get erased from their old partition) ∪
        // where the closed labels land. Bounded driver state: ≤ P ints.
        // The affected frame from the prune step is reused — re-deriving
        // it would cost a second full-store join per update.
        val closedLp = closed.withColumn("lp", lpOf(col("component")))
        val touchedLps: Set[Int] = priorSplit.map { case (_, affected) =>
          affected.select(lpOf(col("component")).as("lp")).distinct()
            .collect().map(_.getLong(0).toInt).toSet
        }.getOrElse(Set.empty) ++
          closedLp.select(col("lp")).distinct()
            .collect().map(_.getLong(0).toInt).toSet
        // hash neighbors living in a touched partition ride the rewrite
        val coResident = untouched match {
          case Some(kept) =>
            kept.withColumn("lp", lpOf(col("component")))
              .where(col("lp").isin(touchedLps.toSeq: _*))
              .select("id", "component", "lp")
          case None => closedLp.limit(0).select("id", "component", "lp")
        }
        val out = closedLp.select("id", "component", "lp")
          .union(coResident)
          // sever from the very files the dynamic overwrite replaces
          .localCheckpoint(true)
        try {
          // per-WRITE dynamic mode (the Merge.keepLatestPartitioned
          // discipline) — toggling the session conf would race any
          // concurrent writer on the same session into the wrong
          // overwrite semantics
          out.write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("lp").parquet(path)
          // dynamic overwrite replaces only partitions PRESENT in the
          // output — a partition whose every row moved away (a losing
          // component's members relabeled into the winner's partition,
          // no hash neighbors left behind) ends up with ZERO output
          // rows and would silently keep its stale files, leaving a
          // moved id labeled twice. Those emptied partitions are
          // removed explicitly, after the new data is down: a crash
          // between the two leaves duplicate labels a retry re-deletes
          // (the same per-partition non-atomicity trade documented
          // above).
          val outputLps = out.select("lp").distinct()
            .collect().map(_.getLong(0).toInt).toSet
          (touchedLps -- outputLps).foreach { x =>
            graft.sources.Compaction.rm(new java.io.File(dir, s"lp=$x"))
            graft.sources.Compaction.rm(
              new java.io.File(dir, s"_id_blooms/lp=$x"))
          }
          // point-lookup sidecar LAST: per touched partition, one Bloom
          // row over the ids now resident there ([[lookupComponent]]'s
          // router), refreshed with the same dynamic-overwrite shape as
          // the data. Ordering makes the crash ledger one-sided: a
          // stale bloom for a REMOVED partition routes a lookup to a
          // partition the scan finds empty (a wasted read); a crash
          // before this refresh leaves blooms that may MISS a
          // just-moved id until the retry rewrites both — route-level
          // staleness a replayed batch heals, never a wrong component
          // (the confirm filter matches the id exactly).
          out.groupBy("lp")
            .agg(count(lit(1)).as("n"),
              // raw ids, not xxhash64(id): BloomFilter hashes its input
              // itself, and the probe side tests the same raw long
              org.apache.spark.sql.GraftBridge.bloomFilterAgg(
                col("id"), idBloomExpectedItems, idBloomBits)
                .as("bloom"))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("lp").parquet(s"$path/_id_blooms")
        } finally org.apache.spark.sql.GraftBridge.unpersistCheckpoint(out)
      }
    } finally {
      org.apache.spark.sql.GraftBridge.unpersistCheckpoint(closed)
      org.apache.spark.sql.GraftBridge.unpersistCheckpoint(edges)
    }
    readLabelStore(spark, path)
  }

  /** TAKEDOWN over the label store: re-closure over the SURVIVOR star
    * edges. The store holds one (id → component) star edge per labeled
    * node; retracting a set R keeps exactly the edges with BOTH
    * endpoints outside R — a member row pointing at a retracted
    * canonical is itself a reference to the retracted document and must
    * go. Consequences, stated plainly:
    *
    *  - a retracted SATELLITE simply loses its row;
    *  - a retracted CANONICAL (component minimum) orphans its
    *    satellites back to singletons (the caller convention: no row =
    *    own component). The star form never stored the satellites'
    *    mutual pair evidence — attribution was to the canonical — so
    *    regrouping them from the star alone would be fabrication. Their
    *    TRUE pairs, however, still live in the MinHash signature index,
    *    and [[graft.operators.Retraction.retractDocs]] re-derives them
    *    there ([[Dedup.pairsFromMinhashIndex]], admission threshold)
    *    and re-closes via [[updateLabelStore]] — so provenance queries
    *    for the survivors keep answering after the takedown. This verb
    *    alone (no signature index configured) leaves the singletons.
    *
    * Partitioned layout: rows for ids in R live in their component's
    * `lp=` partition and rows pointing AT R live in `lp(r)` — one
    * column-pruned (id, component, lp) semi-join over the store finds
    * the touched partitions (bounded: ≤ P ints), and only those leaves
    * are rewritten (per-leaf anti-join, staged atomic swap). The
    * `_id_blooms` rows of touched partitions go stale-POSITIVE only
    * (a removed id routes one wasted confirm read — the documented
    * false-positive contract, never a wrong answer). Flat layout: one
    * whole-store rewrite. Idempotent either way.
    */
  def retractFromLabelStore(spark: org.apache.spark.sql.SparkSession,
                            path: String, ids: DataFrame,
                            idCol: String): Unit = {
    val dir = new java.io.File(path)
    val keys = ids.select(col(idCol).cast("long").as("__rid")).distinct()
      .localCheckpoint(true)
    try {
      storePartitions(path) match {
        case None =>
          graft.sources.Compaction.retractRows(spark, path, keys,
            (t, k) => t("id") === k("__rid") ||
              t("component") === k("__rid"))
        case Some(_) =>
          val entries = Option(dir.listFiles()).getOrElse(Array.empty)
          if (!entries.exists(f => f.isDirectory &&
              f.getName.startsWith("lp="))) return
          val store = spark.read.parquet(path)
          val touched = store.select("id", "component", "lp")
            .join(broadcast(keys),
              col("id") === col("__rid") ||
                col("component") === col("__rid"), "left_semi")
            .select("lp").distinct()
            .collect().map(_.getInt(0)).toSeq
          graft.sources.Compaction.rewriteLeaves(spark, dir.toString,
            "lp", touched,
            df => df.join(broadcast(keys),
              col("id") === col("__rid") ||
                col("component") === col("__rid"), "left_anti"))
      }
    } finally org.apache.spark.sql.GraftBridge.unpersistCheckpoint(keys)
  }

  /** Lazy-takedown overlay over label rows: a row is excluded when its
    * id OR its component is tombstoned — exactly the row set the eager
    * [[retractFromLabelStore]] drops (a member row pointing at a
    * retracted canonical is itself a reference to the retracted
    * document). Identity when no overlay exists.
    */
  private def excludeTombstoned(df: DataFrame, path: String): DataFrame =
    graft.sources.Tombstones.exclude(
      graft.sources.Tombstones.exclude(df, path, col("id")),
      path, col("component"))

  /** The label store as (id, component), either layout — the partition
    * column is an implementation detail readers never see. A store with
    * no data yet (never written, or a pinned-meta-only directory from a
    * crash before the first partitioned write) reads as an EMPTY frame,
    * not a schema-inference error — the same fail-open stance as the
    * watermark sidecar. Tombstoned rows (lazy takedown) are excluded.
    */
  def readLabelStore(spark: org.apache.spark.sql.SparkSession,
                     path: String): DataFrame =
    excludeTombstoned(readLabelStoreRaw(spark, path), path)

  /** The PHYSICAL rows, overlay ignored — the form the takedown path
    * itself must read: a tombstoned canonical's satellite rows are
    * hidden from serves but must stay visible to the excision's own
    * re-closure derivation, or the lazy-then-apply path would silently
    * skip re-closing them ([[graft.operators.Retraction.retractDocs]]
    * reads through this).
    */
  private[graft] def readLabelStoreRaw(
      spark: org.apache.spark.sql.SparkSession, path: String): DataFrame = {
    val dir = new java.io.File(path)
    val entries = Option(dir.listFiles()).getOrElse(Array.empty)
    val hasData = entries.exists(f =>
      (f.isFile && f.getName.endsWith(".parquet")) ||
      (f.isDirectory && f.getName.startsWith("lp=")))
    if (!hasData)
      spark.range(0).select(col("id"), col("id").as("component"))
    else spark.read.parquet(path).select("id", "component")
  }

  /** The pinned partition count of a partitioned store (None = flat). */
  private[graft] def storePartitions(path: String): Option[Int] = {
    val meta = new java.io.File(new java.io.File(path), "_label_partitions")
    if (!meta.exists()) None
    else Some(java.nio.file.Files.readString(meta.toPath).trim.toInt)
  }

  /** Candidate `lp` partitions for a list of ids, routed through the
    * `_id_blooms` sidecar — bounded driver state (≤ P ints out, one
    * per-row filter deserialization over ≤ P bloom rows in, each testing
    * the probe array). No sidecar (a store predating it, or never updated
    * since) routes to EVERY partition — degraded to a full scan, never a
    * wrong answer.
    */
  private def candidateLps(spark: org.apache.spark.sql.SparkSession,
                           path: String, ids: Seq[Long]): Seq[Int] = {
    def lps(d: java.io.File): Seq[Int] =
      Option(d.listFiles()).getOrElse(Array.empty).toSeq
        .filter(f => f.isDirectory && f.getName.startsWith("lp="))
        .map(_.getName.stripPrefix("lp=").toInt)
    val bloomsDir = new java.io.File(new java.io.File(path), "_id_blooms")
    if (lps(bloomsDir).isEmpty) return lps(new java.io.File(path))
    val probes = ids.toArray
    val anyHit = udf((bytes: Array[Byte]) => {
      val f = org.apache.spark.util.sketch.BloomFilter.readFrom(bytes)
      probes.exists(f.mightContainLong)
    })
    graft.sources.Compaction.readParquet(spark, Seq(bloomsDir.toString))
      .where(anyHit(col("bloom")))
      .select("lp").collect().map(_.getInt(0)).toSeq
  }

  /** Point lookup: the component label of `id`, served WITHOUT a full
    * store scan — the provenance question a curation pipeline asks per
    * takedown/debug ticket ("why was X dropped; what replaced it").
    *
    * Partitioned layout: the store is partitioned by
    * `lp = pmod(xxhash64(component), P)`, which an id alone cannot
    * prune — so each partition keeps a Bloom row over its RESIDENT ids
    * (`_id_blooms`, refreshed by the same touched-partition rewrite
    * that moves the data) and the lookup routes-then-confirms exactly
    * like [[graft.sources.BloomKeyIndex.novelRows]]: bloom hits pick
    * the candidate partitions (false positives read one extra
    * partition, never corrupt the answer), the pruned scan confirms on
    * `id` itself. Flat layout: the store is small by the layout's own
    * definition — plain filter.
    *
    * None = `id` was never labeled (it is its own singleton component —
    * the [[connectedComponents]] caller convention), or the lookup ran
    * inside the documented crash window between a data rewrite and its
    * bloom refresh (a retried update heals it; see the sidecar comment
    * in [[updateLabelStore]]).
    */
  def lookupComponent(spark: org.apache.spark.sql.SparkSession,
                      path: String, id: Long): Option[Long] =
    storePartitions(path) match {
      case None =>
        readLabelStore(spark, path).where(col("id") === id)
          .select("component").collect().headOption.map(_.getLong(0))
      case Some(_) =>
        val cands = candidateLps(spark, path, Seq(id))
        if (cands.isEmpty) None
        else excludeTombstoned(
            spark.read.parquet(path)
              .where(col("lp").isin(cands: _*) && col("id") === id)
              .select("id", "component"), path)
          .select("component").collect().headOption.map(_.getLong(0))
    }

  /** All (id, component) rows of the component containing `id` — the
    * full provenance answer ("every known duplicate of X, and the
    * surviving representative = the component minimum"). Two pruned
    * point-reads in the partitioned layout: [[lookupComponent]] routes
    * to the id's row, then the members scan prunes STATICALLY on the
    * component's own partition (`lp = pmod(xxhash64(component), P)` is
    * a literal — the plan carries a PartitionFilters entry, asserted in
    * `DedupSpec`). An unlabeled id yields its singleton: (id, id).
    */
  def lookupMembers(spark: org.apache.spark.sql.SparkSession,
                    path: String, id: Long): DataFrame = {
    import spark.implicits._
    lookupComponent(spark, path, id) match {
      case None =>
        Seq((id, id)).toDF("id", "component")
      case Some(c) =>
        storePartitions(path) match {
          case None =>
            readLabelStore(spark, path).where(col("component") === c)
          case Some(p) =>
            val lp = java.lang.Math.floorMod(
              // xxhash64 of a long column under Spark's default seed 42,
              // reproduced driver-side to make the partition filter a
              // literal (static pruning, not a runtime subquery)
              org.apache.spark.sql.catalyst.expressions.XxHash64Function
                .hash(c, org.apache.spark.sql.types.LongType, 42L),
              p.toLong)
            excludeTombstoned(
              spark.read.parquet(path)
                .where(col("lp") === lit(lp) && col("component") === c)
                .select("id", "component"), path)
        }
    }
  }

  /** Batch point lookup — the takedown-list shape of [[lookupComponent]]:
    * map EVERY probe id to its component in ONE bloom-routed pruned
    * read instead of N point reads. Candidate partitions are the union
    * of each bloom's hits over the whole probe list (one pass over ≤ P
    * bloom rows, each testing the broadcast probe array); the pruned
    * scan confirms ids exactly; probes the store has never labeled come
    * back as their own singleton components — every probe is answered.
    * Driver state: the probe list and ≤ P candidate ints.
    */
  def lookupComponents(spark: org.apache.spark.sql.SparkSession,
                       path: String, ids: Seq[Long]): DataFrame = {
    import spark.implicits._
    require(ids.nonEmpty, "empty probe list")
    val probes = ids.distinct
    val probeDf = probes.toDF("id")
    val found = storePartitions(path) match {
      case None =>
        readLabelStore(spark, path).where(col("id").isin(probes: _*))
      case Some(_) =>
        val cands = candidateLps(spark, path, probes)
        if (cands.isEmpty)
          spark.range(0).select(col("id"), col("id").as("component"))
        else excludeTombstoned(
          spark.read.parquet(path)
            .where(col("lp").isin(cands: _*) && col("id").isin(probes: _*))
            .select("id", "component"), path)
    }
    probeDf.join(found, Seq("id"), "left")
      .select(col("id"),
        coalesce(col("component"), col("id")).as("component"))
  }

  /** Dedup ATTRIBUTION over a corpus slice: attach each row's canonical
    * (surviving) document id from the label store — `component` for
    * labeled ids, the id itself for singletons. This is the corpus-wide
    * join form ([[lookupComponents]] is the point form): one equi-join
    * of the slice against the store, whose size is O(nodes-in-pairs) —
    * the duplicate minority — so at 100 TB the join side to worry about
    * is the corpus scan the caller was doing anyway; leave the store
    * side to AQE's broadcast decision rather than forcing one (a
    * billion-row dup graph must NOT be pinned to the driver).
    */
  def attachCanonical(df: DataFrame, idCol: String, storePath: String,
                      outCol: String = "canonical_id"): DataFrame = {
    val labels = readLabelStore(df.sparkSession, storePath)
      .select(col("id").as(idCol), col("component").as("__cc_comp"))
    df.join(labels, Seq(idCol), "left")
      .withColumn(outCol, coalesce(col("__cc_comp"), col(idCol)))
      .drop("__cc_comp")
  }

  /** Transitive cleaning with a QUALITY survivor policy: per connected
    * component keep the member maximizing `qualityCol` (id tie-break)
    * instead of the lowest id — the component analog of
    * [[Dedup.exactBest]]. Rows outside every component (no near-dup hit)
    * survive untouched; the survivor window runs only over component
    * MEMBERS (pair-hit minority), so its shuffle is candidate-sized, not
    * corpus-sized.
    */
  def keepComponentBest(df: DataFrame, idCol: String,
                        pairs: DataFrame, idA: String, idB: String,
                        qualityCol: String,
                        maxIters: Int = 25): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val comp = connectedComponents(pairs, idA, idB, maxIters)
    val members = comp.select(col("id").cast("long").as(idCol),
        col("component"))
      .join(df.select(col(idCol), col(qualityCol)), Seq(idCol))
    val w = Window.partitionBy("component")
      .orderBy(col(qualityCol).desc, col(idCol))
    val losers = members
      .withColumn("__cc_rn", row_number().over(w))
      .where(col("__cc_rn") =!= 1)
      .select(col(idCol))
    df.join(losers, Seq(idCol), "left_anti")
  }
}
