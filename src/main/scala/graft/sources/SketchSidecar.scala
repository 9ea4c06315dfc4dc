package graft.sources

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** A heavy-hitter candidate entry as stored in the sketch sidecar's
  * `topk` column. Top-level (not nested in the object) so the encoder's
  * generated code resolves the class — a nested case class sends every
  * candidate projection down Janino's interpreter fallback.
  */
private[sources] case class KeyCount(key: String, cnt: Long)

/** Persisted mergeable sketch state for the corpus loop — the incremental
  * serving story for distinct counts and value quantiles.
  *
  * The sketch AGGREGATES ([[graft.ExtQueries]]'s `q_approx_distinct` /
  * `q_approx_quantiles` family) prove the math, but they recompute from
  * raw data per question. At 100 TB the point of a sketch is that its
  * state is small and MERGEABLE: the corpus loop appends one sketch row
  * per admitted batch — O(batch) work — and corpus-level questions are
  * answered by merging the accumulated rows — O(#batches), never
  * O(corpus). This is the same frozen-sidecar discipline the MinHash and
  * ANN indexes already follow (append per batch, bounded serve-time
  * state), applied to monitoring. Every CONFIGURED face — base
  * HLL+quantiles, Count-Min heavy hitters, KMV bottom-k, grouped or
  * not — is computed in ONE aggregation pass over the batch
  * ([[batchSummary]]): at 100 TB the batch scan dominates the append,
  * and three scans for three monitoring faces is exactly the cost the
  * corpus loop's fused quality gates refuse elsewhere.
  *
  * Per-batch row (one parquet row, one small file):
  *   - `n`         batch row count
  *   - `hll`       Datasketches HLL registers over `distinctExpr`
  *                 (`hll_sketch_agg`) — union across batches is
  *                 register-level merge, so the merged estimate carries
  *                 the single-sketch rsd (≈ 1.04 / sqrt(2^lgConfigK))
  *                 regardless of batch count. (It is NOT guaranteed to
  *                 be numerically identical to a single-pass sketch:
  *                 the union promotes coupon-list state to the HLL
  *                 array earlier, trading sparse-mode exactness for the
  *                 same rsd contract — the `q_sketch_sidecar_gap` twin
  *                 enforces the contract, not the identity.)
  *   - `qs`        K+1 equi-depth boundaries of `valueExpr`
  *                 (`percentile_approx` at probabilities j/K) — a
  *                 mergeable quantile summary: modelling the batch as K
  *                 point masses of n/K at the upper boundaries bounds the
  *                 merged CDF error by 1/K + 1/accuracy of RANK, so a
  *                 served quantile is within 2/K + 1/accuracy of rank of
  *                 the truth (the bound [[servedQuantiles]] documents and
  *                 the `q_sketch_sidecar_gap` twin enforces)
  *   - `k`, `accuracy`, `lgk`  the configuration, stored per row so a
  *                 misconfigured mixed sidecar fails loudly at serve time
  *
  * Crash/retry semantics inside [[graft.ingest.CorpusPipeline
  * .dedupAndAppend]]: the sketch append runs with the other monitoring
  * sidecars BEFORE the MinHash gate append, so a crash-retry REPEATS it
  * rather than skipping it. A repeated HLL row is harmless (union is
  * idempotent); a repeated quantile row double-weights one batch — a
  * bounded, visible distortion, the same stance the ANN append takes.
  *
  * The sidecar accumulates one small file per batch; compact it on the
  * corpus loop's existing cadence (plain [[Compaction.compact]] — the
  * rows are unpartitioned and self-describing, so a file-level rewrite
  * changes nothing semantically).
  */
object SketchSidecar {

  /** @param distinctExpr SQL expression whose distinct cardinality is
    *   tracked (e.g. "doc_id", "xxhash64(text)")
    * @param valueExpr numeric SQL expression whose quantiles are tracked
    *   (e.g. "length(text)")
    * @param lgConfigK HLL register count = 2^lgConfigK; rsd ≈
    *   1.04/sqrt(2^lgConfigK) (12 → ≈ 1.6%)
    * @param numBuckets K equi-depth buckets per batch summary; merged
    *   rank error ≤ 2/K + 1/accuracy
    * @param compactEvery when > 0, every N-th append compacts the
    *   sidecar's files (content-preserving; counter rides in the sidecar
    *   dir as `_maint_appends`, invisible to the parquet scan)
    * @param rowMergeEvery when > 0 and the sidecar is driven by
    *   [[graft.ingest.CorpusPipeline]], every N-th append ROW-merges the
    *   sidecar ([[compactRows]]/[[compactRowsByGroup]] by layout) — the
    *   [[graft.sources.BloomKeyIndex.Cfg.compactEvery]] discipline: the
    *   rows are re-merged on every serve, so row count is the serve
    *   cost and this cadence is its bound, not just file hygiene. Note
    *   the quantile ledger: each row-merge generation adds ≤ 1/K rank
    *   error, so the cadence is a coarse dial (weekly/monthly), not
    *   per-batch
    * @param heavyKeyExpr when set, each batch row additionally carries a
    *   Count-Min sketch over this key expression plus the batch's exact
    *   top-`topK` keys — the heavy-hitters monitoring state
    *   ([[servedHeavyHitters]]): "which sources/domains/languages
    *   dominate the corpus" answered from the sidecar, never a re-scan
    * @param cmsEps CMS over-count bound: est ≤ true + cmsEps·N (width
    *   ⌈2/eps⌉ counters; never UNDER-counts, by construction)
    * @param cmsConfidence per-key probability the eps bound holds
    *   (depth ⌈ln(1/(1−c))⌉ rows); with the FIXED `cmsSeed` the sketch —
    *   and therefore every served estimate — is fully deterministic
    * @param topK per-batch candidate list capacity — a bounded-memory
    *   Misra-Gries summary computed INSIDE the same aggregation pass as
    *   every other face (one batch scan total, never a second
    *   per-key-groupBy scan). Candidate completeness is PROVABLE, not
    *   heuristic: a key with corpus share ≥ φ has batch share ≥ φ in at
    *   least one batch (weighted average), and within that batch a
    *   Misra-Gries summary of capacity `topK` under-counts any key by
    *   at most N_b/(topK+1) — the mergeable-summaries bound (Agarwal
    *   et al., "Mergeable Summaries", PODS'12), preserved under
    *   Spark's partial-aggregation merge tree — so a key with batch
    *   count ≥ φ·N_b > N_b/(topK+1) keeps a positive counter and
    *   enters the batch's candidate list whenever `topK ≥ ⌈1/φ⌉`.
    *   Serve with φ ≥ 1/topK. Stored per-candidate counts are the MG
    *   lower bounds (diagnostic only — the serve prices every
    *   candidate against the merged CMS, never against these).
    * @param kmvKeyExpr when set, each batch row additionally carries a
    *   KMV (bottom-k / K-Minimum-Values) sketch over this key
    *   expression — the SET-OPERATION sketch HLL registers cannot be:
    *   two corpora's KMV sidecars answer "how much do these datasets
    *   OVERLAP" ([[servedOverlap]] — Jaccard, intersection and union
    *   estimates) without scanning either corpus. The 100 TB use case
    *   is dataset versioning and contamination pricing: overlap between
    *   yesterday's and today's corpus snapshot, or between a candidate
    *   crawl and the training set, from two O(k) sidecars.
    * @param kmvK sketch size: the k smallest distinct `xxhash64` values
    *   are kept. Distinct-estimate rse ≈ 1/sqrt(k−2); Jaccard-estimate
    *   std ≤ 0.5/sqrt(k). A sketch holding fewer than k values is EXACT
    *   (it contains every distinct hash seen).
    * @param groupKeyExpr when set, the sidecar is GROUPED: one row per
    *   (batch, group) instead of per batch, and the base faces (count,
    *   HLL distinct, quantile summary) serve PER GROUP
    *   ([[servedDistinctByGroup]]/[[servedQuantilesByGroup]]) — the
    *   per-domain/per-language monitoring dashboard ("is the length
    *   distribution of lang=vi drifting?") answered from the sidecar,
    *   never a corpus re-scan. Sidecar size scales with #groups ·
    *   #batches; groups are operator-bounded dimensions (domains,
    *   languages, sources), the same boundedness stance as nlist.
    *   COMPOSES with every other face: a grouped sidecar may also carry
    *   CMS/candidate and KMV columns per (batch, group) row — still one
    *   aggregation pass — and because CMS cell-addition, bottom-k union
    *   and register-max are all associative, the corpus-level serves
    *   ([[servedHeavyHitters]], [[servedKmvDistinct]], [[servedOverlap]])
    *   merge straight across the group rows while the per-group serves
    *   ([[servedOverlapByGroup]]) partition on them.
    */
  case class Cfg(sidecarPath: String, distinctExpr: String,
                 valueExpr: String, lgConfigK: Int = 12,
                 numBuckets: Int = 256, accuracy: Int = 10000,
                 compactEvery: Int = 0, rowMergeEvery: Int = 0,
                 heavyKeyExpr: Option[String] = None,
                 cmsEps: Double = 0.001, cmsConfidence: Double = 0.999,
                 cmsSeed: Int = 42, topK: Int = 32,
                 kmvKeyExpr: Option[String] = None, kmvK: Int = 1024,
                 groupKeyExpr: Option[String] = None) {
    require(lgConfigK >= 4 && lgConfigK <= 21, s"lgConfigK=$lgConfigK")
    require(numBuckets >= 2, s"numBuckets=$numBuckets")
    require(accuracy >= 100, s"accuracy=$accuracy")
    require(cmsEps > 0.0 && cmsEps < 1.0, s"cmsEps=$cmsEps")
    require(cmsConfidence > 0.0 && cmsConfidence < 1.0,
      s"cmsConfidence=$cmsConfidence")
    require(topK >= 1, s"topK=$topK")
    require(kmvK >= 16, s"kmvK=$kmvK")
    // driver-memory contract, explicit (the BPE discipline): the overlap
    // serve merges KMV arrays ON THE DRIVER — k longs per side — so the
    // footprint silently scales with kmvK; cap it where the merge is
    // still trivially bounded (64k longs = 512 KB/side) instead of
    // letting a tighter-Jaccard configuration walk into driver pressure
    require(kmvK <= 65536,
      s"kmvK=$kmvK > 65536 — the overlap serve holds k longs per side " +
        "on the driver; raise the cap only with the serve path re-audited")
  }

  /** Bounded-memory Misra-Gries heavy-hitter summary over string keys:
    * ≤ `m` counters per partial buffer, so the candidate face rides the
    * SAME aggregation pass as every other face instead of costing the
    * batch a second per-key-groupBy scan. The mergeable-summaries
    * guarantee (see [[Cfg.topK]]): any counter under-counts its key by
    * at most N/(m+1), after any merge tree — so every key with share
    * > 1/(m+1) of the aggregated slice is present in the final summary.
    * Null keys are not tracked (absence of a key is not a key — the CMS
    * face skips them identically). Output is ordered (count desc, key
    * asc) for a deterministic stored row.
    */
  private class MgTopK(m: Int)
      extends org.apache.spark.sql.expressions.Aggregator[
        String, Map[String, Long], Seq[KeyCount]] {
    def zero: Map[String, Long] = Map.empty
    def reduce(buf: Map[String, Long], key: String): Map[String, Long] =
      if (key == null) buf
      else buf.get(key) match {
        case Some(c) => buf.updated(key, c + 1)
        case None if buf.size < m => buf.updated(key, 1L)
        // full and key absent: the classic all-decrement step — one
        // occurrence of m+1 DISTINCT keys cancels, charging every
        // counter (and the new key) one decrement
        case None => buf.collect { case (k, c) if c > 1 => k -> (c - 1) }
      }
    def merge(a: Map[String, Long], b: Map[String, Long])
        : Map[String, Long] = {
      val combined =
        if (a.size >= b.size) b.foldLeft(a) { case (acc, (k, c)) =>
          acc.updated(k, acc.getOrElse(k, 0L) + c)
        }
        else merge(b, a)
      if (combined.size <= m) combined
      else {
        // subtract the (m+1)-th largest count from every counter and
        // keep the positive ones (Agarwal et al.'s MERGE) — at most m
        // survive, and total under-count stays ≤ N/(m+1)
        val cut = combined.valuesIterator.toArray
          .sorted(Ordering[Long].reverse).apply(m)
        combined.collect { case (k, c) if c > cut => k -> (c - cut) }
      }
    }
    def finish(r: Map[String, Long]): Seq[KeyCount] =
      r.toSeq.sortBy { case (k, c) => (-c, k) }
        .map { case (k, c) => KeyCount(k, c) }
    def bufferEncoder: org.apache.spark.sql.Encoder[Map[String, Long]] =
      org.apache.spark.sql.catalyst.encoders
        .ExpressionEncoder[Map[String, Long]]()
    def outputEncoder: org.apache.spark.sql.Encoder[Seq[KeyCount]] =
      org.apache.spark.sql.catalyst.encoders
        .ExpressionEncoder[Seq[KeyCount]]()
  }

  /** The batch's sidecar row(s) as ONE aggregation over the batch —
    * every configured face (count, HLL registers, quantile summary,
    * CMS + Misra-Gries candidates, KMV bottom-k), grouped or not, in a
    * single scan. Exposed `private[graft]` so the one-scan contract is
    * plan-assertable: the optimized plan has exactly one leaf — the
    * batch — no matter which faces are on.
    */
  private[graft] def batchSummary(batch: DataFrame, cfg: Cfg): DataFrame = {
    val k = cfg.numBuckets
    val probs = array((0 to k).map(j => lit(j.toDouble / k)): _*)
    val v = expr(cfg.valueExpr).cast("double")
    var aggs = Seq(
      count(lit(1)).as("n"),
      hll_sketch_agg(expr(cfg.distinctExpr), cfg.lgConfigK).as("hll"),
      percentile_approx(v, probs, lit(cfg.accuracy)).as("qs"),
      // the EXACT moments face — always on (four scalar aggregates in
      // the same single scan cost nothing next to the sketches) and,
      // unlike every sketch face, merged WITHOUT error: sums, min and
      // max are associative as-is, so the served mean/variance/extrema
      // ([[servedMoments]]) are identical to a direct corpus scan —
      // the one sidecar face that carries a full equality oracle.
      // `vn` counts non-null values (n counts rows), so a partly-null
      // valueExpr serves the mean of its actual values; v·v (not pow)
      // keeps integer-valued inputs exact in the double sum
      count(v).as("vn"),
      sum(v).as("vsum"),
      sum(v * v).as("vsum2"),
      min(v).as("vmin"),
      max(v).as("vmax"))
    cfg.heavyKeyExpr.foreach { ke =>
      val mg = udaf(new MgTopK(cfg.topK), org.apache.spark.sql.Encoders.STRING)
      aggs = aggs :+
        count_min_sketch(expr(ke).cast("string"), lit(cfg.cmsEps),
          lit(cfg.cmsConfidence), lit(cfg.cmsSeed)).as("cms") :+
        mg(expr(ke).cast("string")).as("topk")
    }
    cfg.kmvKeyExpr.foreach { ke =>
      val kmvAgg = udaf(new KmvAgg(cfg.kmvK),
        org.apache.spark.sql.Encoders.scalaLong)
      aggs = aggs :+ kmvAgg(xxhash64(expr(ke))).as("kmv")
    }
    val row = cfg.groupKeyExpr match {
      case Some(ge) =>
        batch.groupBy(expr(ge).cast("string").as("grp"))
          .agg(aggs.head, aggs.tail: _*)
      case None => batch.agg(aggs.head, aggs.tail: _*)
    }
    val withCfgCols = row
      .withColumn("k", lit(k))
      .withColumn("accuracy", lit(cfg.accuracy))
      .withColumn("lgk", lit(cfg.lgConfigK))
    if (cfg.kmvKeyExpr.isDefined)
      withCfgCols.withColumn("kmvk", lit(cfg.kmvK))
    else withCfgCols
  }

  /** ONE aggregation pass over the batch → one appended sidecar row per
    * batch (per (batch, group) when grouped), carrying every configured
    * face. No driver state beyond the collected-at-write rows Spark's
    * writer handles.
    */
  def appendBatch(batch: DataFrame, cfg: Cfg): Unit =
    batchSummary(batch, cfg)
      .coalesce(1)
      .write.mode("append").parquet(cfg.sidecarPath)

  /** Merged distinct-count estimate over every appended batch: one row
    * `(batches, distinct_estimate)`. Register-max union at the rows'
    * common lgConfigK (a mixed sidecar fails loudly rather than
    * silently widening the error); within the sketch's rsd of the true
    * corpus distinct count — see the class doc for why it can differ
    * from a single-pass sketch's estimate while both honor the rsd.
    */
  def servedDistinct(spark: SparkSession, sidecarPath: String): DataFrame =
    spark.read.parquet(sidecarPath)
      .agg(count(lit(1)).as("batches"),
        hll_sketch_estimate(hll_union_agg(col("hll")))
          .as("distinct_estimate"))

  /** Merged quantiles over every appended batch: one row `(p, value)` per
    * requested probability. Each batch contributes K point masses of
    * n/K at its equi-depth upper boundaries; the served value is the
    * smallest point whose merged cumulative mass reaches p·N.
    *
    * Rank-error contract (enforced by the `q_sketch_sidecar_gap` twin):
    * |true rank of served value − p| ≤ 2/numBuckets + 1/accuracy
    * (+ the 1/n granularity of a finite corpus). Derivation: the
    * point-mass CDF of one batch is within 1/K + 1/accuracy of its true
    * CDF everywhere, the weighted merge preserves that bound, and the
    * serve-side selection adds at most one point weight ≤ 1/K.
    *
    * The window below is single-partition by construction — it orders
    * #batches × K summary points (bounded metadata, exactly like the
    * centroid sidecars), never corpus rows.
    */
  def servedQuantiles(spark: SparkSession, sidecarPath: String,
                      ps: Seq[Double]): DataFrame =
    quantilesOfRows(spark, spark.read.parquet(sidecarPath), ps)

  /** Quantiles ACROSS a selected subset of groups — the windowed-
    * quantile companion of [[servedDistinctAcrossGroups]]: with day
    * groups, "p50/p99 document length over this date range" is the
    * point-mass merge of the covered days' summaries, O(rows-in-range),
    * carrying the same rank-error ledger as [[servedQuantiles]] on the
    * window's own rank scale.
    */
  def servedQuantilesAcrossGroups(spark: SparkSession, sidecarPath: String,
                                  groups: Seq[String],
                                  ps: Seq[Double]): DataFrame = {
    require(groups.nonEmpty, "empty group selection")
    quantilesOfRows(spark,
      spark.read.parquet(sidecarPath).where(col("grp").isin(groups: _*)),
      ps)
  }

  /** The point-mass quantile merge over a sidecar row frame (the
    * [[servedQuantiles]] math, row source abstracted so whole-sidecar
    * and group-windowed serves share one implementation). */
  private def quantilesOfRows(spark: SparkSession, rows0: DataFrame,
                              ps: Seq[Double]): DataFrame = {
    require(ps.nonEmpty && ps.forall(p => p > 0.0 && p <= 1.0))
    import spark.implicits._
    val rows = rows0
      .where(col("qs").isNotNull && col("n") > 0)
    // the j-th upper boundary (qs[1..K] — the leading qs[0] is the batch
    // minimum, an anchor only) carries mass n/K
    val points = rows.select(
        explode(expr("slice(qs, 2, size(qs) - 1)")).as("v"),
        (col("n").cast("double") / col("k")).as("w"))
    val cum = points
      .withColumn("cum", sum(col("w")).over(
        Window.orderBy(col("v"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("total", sum(col("w")).over(
        Window.rowsBetween(Window.unboundedPreceding,
          Window.unboundedFollowing)))
    cum.crossJoin(broadcast(ps.toDF("p")))
      .where(col("cum") >= col("p") * col("total") - lit(1e-9))
      .groupBy(col("p"))
      .agg(min(col("v")).as("value"))
      .orderBy(col("p"))
  }

  /** The associative merge of the exact-moments columns — shared by
    * every serve and both row-merge compactions (so a compacted
    * sidecar's moments stay bit-identical to the unmerged rows').
    */
  private def momentMergeAggs: Seq[Column] = Seq(
    sum(col("vn")).as("vn"), sum(col("vsum")).as("vsum"),
    sum(col("vsum2")).as("vsum2"), min(col("vmin")).as("vmin"),
    max(col("vmax")).as("vmax"))

  /** `valueExpr`'s EXACT corpus moments served from the sidecar: one row
    * `(batches, vn, vsum, vmin, vmax, mean, variance, stddev)` —
    * population variance via vsum2/vn − mean². Unlike the sketch faces
    * this serve carries NO error term: the per-batch sums/extrema merge
    * associatively, so the answer equals a direct corpus scan exactly
    * (for integer-valued `valueExpr`, bit-for-bit — double sums of
    * exact integers below 2^53 are order-independent), which is why
    * `q_sketch_moments` holds a full DuckDB equality oracle where every
    * sibling face settles for a floor twin. An all-null corpus serves
    * null moments (vn = 0), not a division error. Fails loudly on a
    * sidecar written before the moments face existed.
    */
  def servedMoments(spark: SparkSession, sidecarPath: String): DataFrame =
    momentsOfRows(readForMoments(spark, sidecarPath), sidecarPath, None)

  /** Moments-serve read: `mergeSchema` so a sidecar whose history spans
    * the introduction of the moments face reads ALL columns regardless
    * of which file's footer wins the schema sample (the
    * CorpusStream.readQuarantine convention for mixed legacy layouts).
    * Legacy rows then carry null moments and are REFUSED loudly by the
    * serve — a pre-moments batch has no sums to merge, so serving
    * around it would present the post-upgrade batches' moments as the
    * corpus answer.
    */
  private def readForMoments(spark: SparkSession,
                             sidecarPath: String): DataFrame =
    spark.read.option("mergeSchema", "true").parquet(sidecarPath)

  /** [[servedMoments]] PER GROUP from a GROUPED sidecar — one row
    * `(grp, batches, vn, vsum, vmin, vmax, mean, variance, stddev)` per
    * group, each exactly the group's own corpus moments.
    */
  def servedMomentsByGroup(spark: SparkSession,
                           sidecarPath: String): DataFrame = {
    val rows = readForMoments(spark, sidecarPath)
    require(rows.columns.contains("grp"),
      s"sidecar at $sidecarPath is not grouped (set Cfg.groupKeyExpr)")
    momentsOfRows(rows, sidecarPath, Some(col("grp")))
  }

  /** [[servedMoments]] ACROSS a selected subset of groups — the
    * windowed-moments serve of a time-grouped sidecar ("mean/stddev
    * document length over this date range"), exact over the covered
    * rows, O(rows-in-range).
    */
  def servedMomentsAcrossGroups(spark: SparkSession, sidecarPath: String,
                                groups: Seq[String]): DataFrame = {
    require(groups.nonEmpty, "empty group selection")
    val rows = readForMoments(spark, sidecarPath)
    require(rows.columns.contains("grp"),
      s"sidecar at $sidecarPath is not grouped (set Cfg.groupKeyExpr)")
    momentsOfRows(rows.where(col("grp").isin(groups: _*)), sidecarPath,
      None, coveredOf = Some(groups))
  }

  /** Distribution drift BETWEEN two group-windows of one grouped
    * sidecar, from the EXACT moments face: Welch's z for the mean shift,
    * z = (mean_a − mean_b) / sqrt(var_a/n_a + var_b/n_b) with the
    * population variances the face serves — "did this week's document
    * length shift against last week's" answered from the covered day
    * rows, no corpus re-scan, and because the inputs are exact sums the
    * statistic carries a full equality oracle (unlike every sketch-fed
    * drift monitor). One row `(a_groups_covered, b_groups_covered, n_a,
    * n_b, mean_a, mean_b, welch_z)`; z is null when either window has
    * no values or both variances are zero (no scale to measure shift
    * against — gate on the counts before alerting).
    */
  def servedMomentsDrift(spark: SparkSession, sidecarPath: String,
                         groupsA: Seq[String],
                         groupsB: Seq[String]): DataFrame = {
    def sideCols(df: DataFrame, p: String): DataFrame =
      df.select(col("groups_covered").as(s"${p}_groups_covered"),
        col("vn").as(s"n_$p"), col("mean").as(s"mean_$p"),
        col("variance").as(s"var_$p"))
    val a = sideCols(
      servedMomentsAcrossGroups(spark, sidecarPath, groupsA), "a")
    val b = sideCols(
      servedMomentsAcrossGroups(spark, sidecarPath, groupsB), "b")
    val se2 = col("var_a") / col("n_a") + col("var_b") / col("n_b")
    a.crossJoin(b)
      .withColumn("welch_z",
        when(col("n_a") > 0 && col("n_b") > 0 && se2 > 0,
          (col("mean_a") - col("mean_b")) / sqrt(se2)))
      .select(col("a_groups_covered"), col("b_groups_covered"),
        col("n_a"), col("n_b"), col("mean_a"), col("mean_b"),
        col("welch_z"))
  }

  /** Batch-vs-corpus anomaly screen from the exact moments face — the
    * statistical REFUSAL hook beside [[servedThreshold]]'s adaptive
    * cut: one row `(n_batch, n_corpus, mean_batch, mean_corpus,
    * welch_z, anomalous)` comparing the ARRIVING batch's `valueExpr`
    * distribution against the accepted corpus's own accumulated
    * moments, `anomalous` when |z| > zMax. Compose it in front of
    * [[graft.ingest.CorpusPipeline.dedupAndAppend]]: collect the row,
    * route an anomalous batch to quarantine (or `require(!anomalous)`)
    * BEFORE the append — read-before-append, as every adaptive hook
    * here, so a poisoned batch cannot move the bar it is judged by.
    * Bootstrap stance: a missing sidecar (or one with no values yet)
    * serves null z and `anomalous = false` — the first batches define
    * the distribution rather than being judged against nothing. Serve
    * cost: one batch aggregation + an O(#rows) sidecar merge.
    */
  def batchAnomaly(batch: DataFrame, cfg: Cfg,
                   zMax: Double): DataFrame = {
    require(zMax > 0, s"zMax=$zMax")
    val spark = batch.sparkSession
    val v = expr(cfg.valueExpr).cast("double")
    val b = batch.agg(count(v).as("n_batch"),
      sum(v).as("bsum"), sum(v * v).as("bsum2"))
    val hp = new org.apache.hadoop.fs.Path(cfg.sidecarPath)
    val fs = hp.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val c =
      if (!fs.exists(hp))
        b.sparkSession.sql(
          "SELECT CAST(0 AS BIGINT) AS n_corpus, " +
            "CAST(NULL AS DOUBLE) AS mean_corpus, " +
            "CAST(NULL AS DOUBLE) AS var_corpus")
      else servedMoments(spark, cfg.sidecarPath)
        .select(col("vn").as("n_corpus"), col("mean").as("mean_corpus"),
          col("variance").as("var_corpus"))
    val meanB = col("bsum") / col("n_batch")
    val varB = col("bsum2") / col("n_batch") - meanB * meanB
    val se2 = varB / col("n_batch") + col("var_corpus") / col("n_corpus")
    val z = when(col("n_batch") > 0 && col("n_corpus") > 0 && se2 > 0,
      (meanB - col("mean_corpus")) / sqrt(se2))
    b.crossJoin(c)
      .withColumn("mean_batch", when(col("n_batch") > 0, meanB))
      .withColumn("welch_z", z)
      .withColumn("anomalous",
        coalesce(abs(z) > zMax, lit(false)))
      .select(col("n_batch"), col("n_corpus"), col("mean_batch"),
        col("mean_corpus"), col("welch_z"), col("anomalous"))
  }

  /** The moments merge + derived statistics over a sidecar row frame
    * (whole-sidecar, grouped and group-windowed serves share it).
    * `coveredOf` adds a `groups_covered` column counting the REQUESTED
    * groups that had rows — the windowed serves' "absent groups are
    * reported, not invented" contract. */
  private def momentsOfRows(rows: DataFrame, ctx: String,
                            grp: Option[Column],
                            coveredOf: Option[Seq[String]] = None)
      : DataFrame = {
    require(rows.columns.contains("vsum"),
      s"sidecar at $ctx predates the moments face — rows carry no " +
        "vsum/vsum2/vmin/vmax columns; the face cannot be reconstructed " +
        "for batches whose sums were never recorded (start a fresh " +
        "sidecar, or serve this one's pre-moments faces only)")
    require(rows.where(col("vn").isNull).isEmpty,
      s"sidecar at $ctx mixes pre-moments rows (null vn) with current " +
        "ones — serving around them would present the post-upgrade " +
        "batches' moments as the corpus answer; row-merge cannot add " +
        "sums that were never recorded, so start a fresh sidecar or " +
        "serve the pre-moments faces only")
    var aggs = (count(lit(1)).as("batches") +: momentMergeAggs)
    coveredOf.foreach(_ =>
      aggs = aggs :+ count_distinct(col("grp")).as("groups_covered"))
    val merged = grp match {
      case Some(g) => rows.groupBy(g).agg(aggs.head, aggs.tail: _*)
      case None => rows.agg(aggs.head, aggs.tail: _*)
    }
    val mean = col("vsum") / col("vn")
    val variance = col("vsum2") / col("vn") - mean * mean
    val out = merged
      .withColumn("mean", when(col("vn") > 0, mean))
      .withColumn("variance", when(col("vn") > 0, variance))
      .withColumn("stddev", when(col("vn") > 0, sqrt(variance)))
    grp.map(_ => out.orderBy("grp")).getOrElse(out)
  }

  /** The corpus-`p` quantile served from the sidecar as one scalar —
    * the ADAPTIVE-GATE hook. A fixed gate ("n_chars >= 100") encodes a
    * guess made at pipeline-authoring time; reading the accepted
    * corpus's own p-quantile each batch (an O(#batches) sidecar merge,
    * never a corpus scan) lets the cut track the distribution the
    * corpus actually has: `gates = thr.map(t => "adaptive_len" ->
    * (col("n_chars") >= t))`. Returns None until a batch row with a
    * non-null summary exists — bootstrap batches should gate on fixed
    * floors until the corpus has history. Read the threshold BEFORE
    * the batch is appended (the natural order in
    * [[graft.ingest.CorpusPipeline.dedupAndAppend]], where gates run
    * first), so a poisoned batch cannot move the bar it is judged by.
    */
  def servedThreshold(spark: SparkSession, sidecarPath: String,
                      p: Double): Option[Double] = {
    require(p > 0.0 && p <= 1.0, s"p=$p")
    val hp = new org.apache.hadoop.fs.Path(sidecarPath)
    val fs = hp.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(hp)) return None
    servedQuantiles(spark, sidecarPath, Seq(p))
      .collect().headOption.map(_.getDouble(1))
  }

  /** The n−1 interior equi-depth boundaries of `valueExpr` served from
    * the sidecar — balanced RANGE-split bounds for an n-bucket layout
    * ([[Bucketing.writeRangeBucketed]]) WITHOUT the sampling pass
    * `repartitionByRange` pays per write: at 100 TB the sampler is an
    * extra read of the data and its bounds drift run to run, while the
    * sidecar already knows the accepted corpus's distribution to within
    * the quantile ledger (each bucket's mass is within 2·(2/K +
    * 1/accuracy) of 1/n, plus any single-value tie mass — enforced by
    * the `q_range_bucketed_gap` twin). Bounds are ascending and
    * deduplicated; a degenerate distribution (fewer distinct boundary
    * values than buckets) yields fewer, still-correct bounds.
    */
  def servedRangeBounds(spark: SparkSession, sidecarPath: String,
                        n: Int): Seq[Double] = {
    require(n >= 2, s"n=$n")
    servedQuantiles(spark, sidecarPath, (1 until n).map(_.toDouble / n))
      .orderBy("p").select("value")
      .collect().map(_.getDouble(0)).toSeq.distinct
  }

  /** The per-group corpus-`p` quantiles of a GROUPED sidecar as a
    * (grp, threshold) frame — the per-domain form of [[servedThreshold]]
    * for ADAPTIVE gates that track each source/language's OWN
    * distribution instead of one global bar (a length floor tuned on
    * English prose systematically mis-gates CJK text; a per-lang
    * threshold does not). Broadcast-join it onto the batch and compare:
    * `batch.join(broadcast(thr), Seq("lang"), "left")
    *   .where(col("n_chars") >= coalesce(col("threshold"), lit(floor)))`
    * — groups with no sidecar history yet fall back to the caller's
    * fixed floor via the coalesce, the [[servedThreshold]] bootstrap
    * stance. Read BEFORE the batch appends, as ever, so a poisoned
    * batch cannot move the bar it is judged by. Returns an empty frame
    * when the sidecar does not exist yet.
    */
  def servedThresholdsByGroup(spark: SparkSession, sidecarPath: String,
                              p: Double): DataFrame = {
    require(p > 0.0 && p <= 1.0, s"p=$p")
    import spark.implicits._
    val hp = new org.apache.hadoop.fs.Path(sidecarPath)
    val fs = hp.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(hp))
      return Seq.empty[(String, Double)].toDF("grp", "threshold")
    servedQuantilesByGroup(spark, sidecarPath, Seq(p))
      .select(col("grp"), col("value").as("threshold"))
  }

  /** Per-group merged distinct estimates from a GROUPED sidecar
    * ([[Cfg.groupKeyExpr]]): one row `(grp, batches, distinct_estimate)`
    * per group — register-max union within each group, same rsd contract
    * as [[servedDistinct]]. `batches` counts the group's sidecar rows
    * (a group absent from some batches has fewer).
    */
  def servedDistinctByGroup(spark: SparkSession,
                            sidecarPath: String): DataFrame =
    spark.read.parquet(sidecarPath)
      .groupBy("grp")
      .agg(count(lit(1)).as("batches"),
        hll_sketch_estimate(hll_union_agg(col("hll")))
          .as("distinct_estimate"))

  /** Distinct estimate ACROSS a selected subset of groups — the
    * any-window serve of a time-grouped sidecar: with `groupKeyExpr` a
    * date (one row per (batch, day)), "distinct users over an arbitrary
    * date range" is the register-max union of the covered days' rows —
    * O(rows-in-range), never an events re-scan, and the union is
    * associative so the answer carries the single-sketch rsd no matter
    * how many days it spans. `groups_covered` reports how many of the
    * REQUESTED groups had sidecar rows (a day with no traffic
    * contributes nothing — callers distinguishing "no data" from "zero
    * distinct" check it against their request length).
    */
  def servedDistinctAcrossGroups(spark: SparkSession, sidecarPath: String,
                                 groups: Seq[String]): DataFrame = {
    require(groups.nonEmpty, "empty group selection")
    spark.read.parquet(sidecarPath)
      .where(col("grp").isin(groups: _*))
      .agg(count_distinct(col("grp")).as("groups_covered"),
        hll_sketch_estimate(hll_union_agg(col("hll")))
          .as("distinct_estimate"))
  }

  /** Per-group merged quantiles from a GROUPED sidecar: one row
    * `(grp, p, value)` per (group, probability) — the same point-mass
    * merge as [[servedQuantiles]] with every window partitioned by the
    * group, so each group's rank-error contract is the single-group
    * bound (2/numBuckets + 1/accuracy of the group's OWN rank scale).
    * The windows order #batches·K summary points per group — bounded
    * metadata times an operator-bounded group count.
    */
  def servedQuantilesByGroup(spark: SparkSession, sidecarPath: String,
                             ps: Seq[Double]): DataFrame = {
    require(ps.nonEmpty && ps.forall(p => p > 0.0 && p <= 1.0))
    import spark.implicits._
    val rows = spark.read.parquet(sidecarPath)
      .where(col("qs").isNotNull && col("n") > 0)
    val points = rows.select(col("grp"),
        explode(expr("slice(qs, 2, size(qs) - 1)")).as("v"),
        (col("n").cast("double") / col("k")).as("w"))
    val cum = points
      .withColumn("cum", sum(col("w")).over(
        Window.partitionBy(col("grp")).orderBy(col("v"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("total", sum(col("w")).over(
        Window.partitionBy(col("grp"))
          .rowsBetween(Window.unboundedPreceding,
            Window.unboundedFollowing)))
    cum.crossJoin(broadcast(ps.toDF("p")))
      .where(col("cum") >= col("p") * col("total") - lit(1e-9))
      .groupBy(col("grp"), col("p"))
      .agg(min(col("v")).as("value"))
      .orderBy(col("grp"), col("p"))
  }

  /** [[servedHeavyHitters]] PER GROUP from a GROUPED sidecar carrying
    * the CMS face: every (group, key) whose estimated count reaches
    * `phi` of the GROUP's total — "which languages dominate each
    * source", one monitoring answer per group with zero corpus
    * scanning. Returns (grp, key, est, total), grouped then heaviest
    * first. All four [[servedHeavyHitters]] guarantees hold PER GROUP
    * on the group's own scale: each group's CMS rows aggregate only
    * that group's slices (over-count ≤ cmsEps·N_g), and a group-φ-heavy
    * key has share ≥ φ in at least one of the group's batch slices, so
    * it enters that slice's Misra-Gries candidates whenever
    * `topK ≥ 1/φ` — the [[Cfg.topK]] argument verbatim with "batch"
    * read as "(batch, group) slice".
    */
  def servedHeavyHittersByGroup(spark: SparkSession, sidecarPath: String,
                                phi: Double): DataFrame = {
    require(phi > 0.0 && phi <= 1.0, s"phi=$phi")
    val rows = spark.read.parquet(sidecarPath)
    require(rows.columns.contains("grp"),
      s"sidecar at $sidecarPath is not grouped (set Cfg.groupKeyExpr)")
    val cmsMerge = udaf(new CmsMerge, org.apache.spark.sql.Encoders.BINARY)
    val merged = rows.groupBy("grp")
      .agg(cmsMerge(col("cms")).as("cms"), sum(col("n")).as("total"))
    val cands = rows
      .select(col("grp"), explode(col("topk")).as("kv"))
      .select(col("grp"), col("kv.key").as("key")).distinct()
    val estimate = udf((bytes: Array[Byte], key: String) =>
      org.apache.spark.util.sketch.CountMinSketch.readFrom(bytes)
        .estimateCount(key))
    cands.join(broadcast(merged), Seq("grp"))
      .select(col("grp"), col("key"),
        estimate(col("cms"), col("key")).as("est"), col("total"))
      .where(col("est") >= col("total") * phi)
      .orderBy(col("grp"), col("est").desc, col("key"))
  }

  /** Per-group merged KMV distinct estimates from a GROUPED sidecar
    * carrying the KMV face — the bottom-k analog of
    * [[servedDistinctByGroup]]: one row `(grp, distinct_estimate)` per
    * group, exact below k, rse ≈ 1/sqrt(kmvK−2) at k.
    */
  def servedKmvDistinctByGroup(spark: SparkSession,
                               sidecarPath: String): DataFrame = {
    val (m, k) = mergedKmvByGroup(spark, sidecarPath)
    import spark.implicits._
    m.toSeq.sortBy(t => Option(t._1)) // null group keys order, not NPE
      .map { case (g, kmv) => (g, kmvEstimate(kmv, k)) }
      .toDF("grp", "distinct_estimate")
  }

  /** TAKEDOWN for sketch state: EPOCH SEGMENTATION made an operator.
    * Sketch faces are one-way additive — a member cannot be subtracted —
    * so per-document retraction is impossible BY DESIGN (the
    * [[graft.operators.Retraction]] stance); what IS exact is excising
    * whole GROUP rows of a grouped sidecar. In the day/epoch-grouped
    * monitoring layout each row is precisely one epoch's state, so
    * dropping a poisoned ingest day's rows leaves every cross-group
    * serve ([[servedMomentsAcrossGroups]], the windowed
    * distinct/quantile/HH/KMV family) answering EXACTLY over the
    * surviving epochs — the kept rows' content is untouched. One anti-join
    * rewrite of the O(#batches·#groups) sidecar via the staged atomic
    * swap; idempotent; refuses an ungrouped sidecar loudly (it has no
    * epoch to segment — re-derive it from the surviving corpus instead,
    * the [[graft.sources.TextIndex.healStats]] shape).
    */
  def retractGroups(spark: SparkSession, sidecarPath: String,
                    groups: Seq[String]): Unit = {
    require(groups.nonEmpty, "empty group selection")
    val rows = spark.read.option("mergeSchema", "true").parquet(sidecarPath)
    require(rows.columns.contains("grp"),
      s"sidecar at $sidecarPath is not grouped (set Cfg.groupKeyExpr) — " +
        "per-epoch retraction needs epoch rows; re-derive an ungrouped " +
        "sidecar from the surviving corpus instead")
    import spark.implicits._
    // mergeSchema: the sidecar's history spans schema generations (faces
    // added over time) — the anti-join rewrite must see every
    // generation's columns or kept epochs lose their newer sketch state
    Compaction.retractRows(spark, sidecarPath, groups.toDF("__rg"),
      (t, k) => t("grp") === k("__rg"),
      readOptions = Map("mergeSchema" -> "true"))
  }

  /** Row-merge compaction for a GROUPED sidecar: collapse each group's
    * batch rows into one merged row — the same ledger as [[compactRows]]
    * face by face (n exact; HLL union, CMS cell-addition and KMV
    * bottom-k union identical-by-associativity; candidates re-priced
    * against the group's merged CMS; re-bucketed quantiles add ≤ 1/K
    * rank error per compaction generation), every merge partitioned by
    * the group. Entirely DataFrame-side — nothing is collected; the
    * swap is the same staged atomic rename.
    */
  def compactRowsByGroup(spark: SparkSession, cfg: Cfg): Unit = {
    // mergeSchema: see compactRows
    val rows = spark.read.option("mergeSchema", "true")
      .parquet(cfg.sidecarPath)
    require(rows.columns.contains("grp"),
      s"${cfg.sidecarPath} is not a grouped sidecar (set Cfg.groupKeyExpr)")
    if (rows.groupBy("grp").count().where(col("count") > 1).isEmpty)
      return // every group already single-row
    val k = cfg.numBuckets
    val hasCms = rows.columns.contains("cms")
    val hasKmv = rows.columns.contains("kmv")
    val served = servedQuantilesByGroup(spark, cfg.sidecarPath,
        (1 to k).map(_.toDouble / k))
      .groupBy("grp")
      // array_sort on (p, value) structs orders by p, so the projected
      // values land in boundary order qs[1..K]
      .agg(transform(array_sort(collect_list(struct(col("p"),
          col("value")))), s => s.getField("value")).as("served"))
    var anchorAggs = Seq(sum(col("n")).as("n"),
      hll_union_agg(col("hll")).as("hll"),
      min(element_at(col("qs"), 1)).as("anchor"))
    // same honest-degrade gate as compactRows
    if (rows.columns.contains("vsum") &&
        rows.where(col("vn").isNull).isEmpty)
      anchorAggs = anchorAggs ++ momentMergeAggs
    if (hasCms) {
      val cmsMerge = udaf(new CmsMerge, org.apache.spark.sql.Encoders.BINARY)
      anchorAggs = anchorAggs :+ cmsMerge(col("cms")).as("cms")
    }
    if (hasKmv) {
      val kmvMerge = udaf(new KmvMergeAgg(cfg.kmvK),
        org.apache.spark.sql.catalyst.encoders
          .ExpressionEncoder[Array[Long]]())
      // a mixed-k sidecar is not union-comparable — same loud failure
      // as the serve path, enforced before the merge rewrites anything
      val ks = rows.where(col("kmv").isNotNull)
        .select(col("kmvk")).distinct().collect().map(_.getInt(0))
      require(ks.forall(_ == cfg.kmvK),
        s"sidecar kmvk ${ks.mkString(",")} != cfg.kmvK=${cfg.kmvK}")
      anchorAggs = anchorAggs :+ kmvMerge(col("kmv")).as("kmv")
    }
    val anchors = rows.groupBy("grp").agg(anchorAggs.head, anchorAggs.tail: _*)
    // per-group candidate union re-priced against the group's merged
    // CMS — the grouped form of compactRows' candidate ledger; the
    // estimate lookup touches only #groups·topK candidate rows
    val topkByGrp =
      if (!hasCms) None
      else Some {
        val cands = rows
          .select(col("grp"), explode(col("topk")).as("kv"))
          .select(col("grp"), col("kv.key").as("key")).distinct()
        val estimate = udf((bytes: Array[Byte], key: String) =>
          org.apache.spark.util.sketch.CountMinSketch.readFrom(bytes)
            .estimateCount(key))
        val w = Window.partitionBy("grp")
          .orderBy(col("cnt").desc, col("key"))
        cands.join(anchors.select(col("grp"), col("cms")), Seq("grp"))
          .select(col("grp"), col("key"),
            estimate(col("cms"), col("key")).as("cnt"))
          .withColumn("__rn", row_number().over(w))
          .where(col("__rn") <= cfg.topK)
          .groupBy("grp")
          // deterministic stored order: count desc, key asc
          .agg(transform(
            array_sort(collect_list(struct((-col("cnt")).as("negcnt"),
              col("key"), col("cnt")))),
            s => struct(s.getField("key").as("key"),
              s.getField("cnt").as("cnt"))).as("topk"))
      }
    val merged = topkByGrp match {
      case Some(t) => anchors.join(t, Seq("grp"), "left")
      case None => anchors
    }
    val out = merged.join(served, Seq("grp"), "left")
      .withColumn("qs",
        // an all-null-qs group merges to a null summary (serve filters
        // null qs), mirroring compactRows' stance
        when(col("anchor").isNull || col("served").isNull,
            lit(null).cast("array<double>"))
          .otherwise(concat(array(col("anchor")), col("served"))))
      .drop("anchor", "served")
      .withColumn("k", lit(k))
      .withColumn("accuracy", lit(cfg.accuracy))
      .withColumn("lgk", lit(cfg.lgConfigK))
    val outK =
      (if (hasKmv) out.withColumn("kmvk", lit(cfg.kmvK)) else out)
      .coalesce(1)
      .localCheckpoint(true)
    try Compaction.replace(cfg.sidecarPath, "rowmerge") { staging =>
      outK.write.parquet(staging.toString)
      true
    } finally org.apache.spark.sql.GraftBridge.unpersistCheckpoint(outK)
  }

  // ---------------------------------------------------------------------
  // KMV (bottom-k) sketch: the k smallest DISTINCT xxhash64 values of a
  // set, kept sorted in unsigned order. Union of sketches = merge-and-cap
  // (associative, commutative, idempotent — safe under crash-retry
  // re-appends, like the HLL registers). Beyond distinct counts it
  // estimates set INTERSECTIONS: for h in the union sketch K_U,
  // θ_U ≤ θ_A, so h ∈ A implies h ∈ KMV(A) — membership of union-sketch
  // values in the per-set sketches is EXACT, making
  // ρ = |K_U ∩ KMV(A) ∩ KMV(B)| / |K_U| a textbook Jaccard estimator
  // (Beyer et al., "On Synopses for Distinct-Value Estimation Under
  // Multiset Operations", SIGMOD'07). All helpers below are pure and
  // driver-safe: every array is ≤ k longs (bounded metadata).
  // ---------------------------------------------------------------------

  /** Unsigned 64-bit hash mapped to a fraction in [0, 1). */
  private[graft] def unsignedFrac(h: Long): Double = {
    val twoTo64 = 1.8446744073709552e19
    val u = h.toDouble + (if (h < 0) twoTo64 else 0.0)
    u / twoTo64
  }

  /** Insert `h` into the sorted-unsigned distinct array `buf`, capped at
    * `k`. O(1) rejection once the sketch is full (probability k/i for
    * the i-th distinct value — accepted inserts collapse fast).
    */
  private[graft] def kmvInsert(buf: Array[Long], h: Long,
                                 k: Int): Array[Long] = {
    if (buf.length == k &&
        java.lang.Long.compareUnsigned(h, buf(k - 1)) >= 0) return buf
    var lo = 0
    var hi = buf.length
    while (lo < hi) {
      val mid = (lo + hi) >>> 1
      if (java.lang.Long.compareUnsigned(buf(mid), h) < 0) lo = mid + 1
      else hi = mid
    }
    if (lo < buf.length && buf(lo) == h) return buf // already present
    val outLen = math.min(buf.length + 1, k)
    val out = new Array[Long](outLen)
    System.arraycopy(buf, 0, out, 0, lo)
    out(lo) = h
    System.arraycopy(buf, lo, out, lo + 1, outLen - lo - 1)
    out
  }

  /** Union of two sketches: merge the sorted distinct arrays, keep the k
    * smallest. Associative and idempotent.
    */
  private[graft] def kmvMergeArrays(a: Array[Long], b: Array[Long],
                                      k: Int): Array[Long] = {
    val out = new Array[Long](math.min(a.length + b.length, k))
    var i = 0; var j = 0; var n = 0
    while (n < k && (i < a.length || j < b.length)) {
      val take =
        if (i >= a.length) { j += 1; b(j - 1) }
        else if (j >= b.length) { i += 1; a(i - 1) }
        else {
          val c = java.lang.Long.compareUnsigned(a(i), b(j))
          if (c < 0) { i += 1; a(i - 1) }
          else if (c > 0) { j += 1; b(j - 1) }
          else { i += 1; j += 1; a(i - 1) }
        }
      out(n) = take; n += 1
    }
    if (n == out.length) out else java.util.Arrays.copyOf(out, n)
  }

  /** Distinct-count estimate: EXACT when the sketch is not full (it then
    * holds every distinct hash seen); (k−1)/θ_k otherwise, the unbiased
    * KMV estimator with rse ≈ 1/sqrt(k−2).
    */
  private[graft] def kmvEstimate(kmv: Array[Long], k: Int): Double =
    if (kmv.length < k) kmv.length.toDouble
    else (k - 1).toDouble / math.max(unsignedFrac(kmv(k - 1)), 1e-18)

  /** One-pass bottom-k aggregator over xxhash64 values. The buffer is a
    * plain sorted long array (≤ k entries); partial merges happen on
    * executors, serialization only at exchange boundaries.
    */
  private class KmvAgg(k: Int)
      extends org.apache.spark.sql.expressions.Aggregator[
        Long, Array[Long], Array[Long]] {
    def zero: Array[Long] = Array.emptyLongArray
    def reduce(buf: Array[Long], h: Long): Array[Long] = kmvInsert(buf, h, k)
    def merge(a: Array[Long], b: Array[Long]): Array[Long] =
      kmvMergeArrays(a, b, k)
    def finish(r: Array[Long]): Array[Long] = r
    def bufferEncoder: org.apache.spark.sql.Encoder[Array[Long]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Array[Long]]()
    def outputEncoder: org.apache.spark.sql.Encoder[Array[Long]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Array[Long]]()
  }

  /** Union-merge of STORED KMV sketches (each input an already-built
    * bottom-k array): executor-side [[kmvMergeArrays]] folds, bounded at
    * k longs per buffer — the grouped-merge analog of [[CmsMerge]].
    */
  private class KmvMergeAgg(k: Int)
      extends org.apache.spark.sql.expressions.Aggregator[
        Array[Long], Array[Long], Array[Long]] {
    def zero: Array[Long] = Array.emptyLongArray
    def reduce(buf: Array[Long], a: Array[Long]): Array[Long] =
      if (a == null) buf else kmvMergeArrays(buf, a, k)
    def merge(a: Array[Long], b: Array[Long]): Array[Long] =
      kmvMergeArrays(a, b, k)
    def finish(r: Array[Long]): Array[Long] = r
    def bufferEncoder: org.apache.spark.sql.Encoder[Array[Long]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Array[Long]]()
    def outputEncoder: org.apache.spark.sql.Encoder[Array[Long]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Array[Long]]()
  }

  /** The sidecar's rows merged to one sketch: explode → distinct → k
    * smallest (unsigned order via the sign-bit flip, so a plain SQL sort
    * works) → collect. Bounded: ≤ #batches·k rows enter the sort, ≤ k
    * longs reach the driver — the centroid-sidecar convention. Returns
    * the merged array and the rows' common `kmvk` (a mixed-k sidecar
    * fails loudly: sketches of different k are not union-comparable).
    */
  private def mergedKmvRows(rows: DataFrame,
                            ctx: String): (Array[Long], Int) = {
    require(rows.columns.contains("kmv"),
      s"sidecar at $ctx carries no KMV sketch (set Cfg.kmvKeyExpr)")
    val ks = rows.where(col("kmv").isNotNull)
      .select(col("kmvk")).distinct().collect().map(_.getInt(0))
    require(ks.nonEmpty,
      s"sidecar at $ctx has a kmv column but no non-null KMV rows — " +
        "nothing was ever appended with kmvKeyExpr set")
    require(ks.length == 1,
      s"mixed kmvK in sidecar at $ctx: ${ks.mkString(",")}")
    val k = ks.head
    val merged = rows.where(col("kmv").isNotNull)
      .select(explode(col("kmv")).as("h")).distinct()
      .orderBy(col("h").bitwiseXOR(lit(Long.MinValue)))
      .limit(k)
      .collect().map(_.getLong(0))
    (merged, k)
  }

  private def mergedKmv(spark: SparkSession,
                        sidecarPath: String): (Array[Long], Int) =
    mergedKmvRows(spark.read.parquet(sidecarPath), sidecarPath)

  /** Merged KMV distinct-count estimate over every appended batch — the
    * bottom-k analog of [[servedDistinct]], same O(#batches) serve cost,
    * rse ≈ 1/sqrt(kmvK−2). One row `(batches, distinct_estimate)`.
    */
  def servedKmvDistinct(spark: SparkSession,
                        sidecarPath: String): DataFrame = {
    // one read serves both the merge and the row count
    val rows = spark.read.parquet(sidecarPath)
    val (kmv, k) = mergedKmvRows(rows, sidecarPath)
    val batches = rows.count()
    import spark.implicits._
    Seq((batches, kmvEstimate(kmv, k)))
      .toDF("batches", "distinct_estimate")
  }

  /** Dataset-overlap estimates from two KMV sidecars — the question two
    * 100 TB corpora cannot afford to answer by scanning: how much does
    * corpus B overlap corpus A (snapshot-to-snapshot drift, crawl-vs-
    * training-set contamination)? Serve cost is O(#batches·k) with k
    * longs of driver state per side; the corpora are never touched.
    *
    * One row: `(a_est, b_est, union_est, jaccard, inter_est,
    * a_only_est, b_only_est)` — the full set algebra: sizes, union,
    * Jaccard, intersection and both differences (new-content and
    * lost-content volume between two snapshots).
    * Estimator: K_U = the k smallest of KMV(A) ∪ KMV(B) (a valid KMV of
    * A ∪ B by associativity); every h ∈ K_U satisfies h ≤ θ_U ≤ θ_A, so
    * h ∈ A ⇔ h ∈ KMV(A) — membership is exact, and
    * ρ = |K_U ∩ KMV(A) ∩ KMV(B)|/|K_U| estimates Jaccard with
    * std ≤ 0.5/sqrt(k); `inter_est` = ρ · `union_est`; the differences
    * use the same exact-membership fractions of K_U (ρ_aOnly ·
    * `union_est`), NOT a_est − inter_est, so each difference carries
    * one fraction's error instead of two estimators' compounded error.
    * When the union sketch is not full every estimate is EXACT (both
    * sketches then hold every distinct hash of their sets). Both
    * sidecars must share one `kmvK` (unequal-k sketches are not
    * union-comparable — fails loudly).
    */
  def servedOverlap(spark: SparkSession, sidecarPathA: String,
                    sidecarPathB: String): DataFrame = {
    val (a, ka) = mergedKmv(spark, sidecarPathA)
    val (b, kb) = mergedKmv(spark, sidecarPathB)
    require(ka == kb, s"kmvK mismatch: $ka vs $kb — sketches of " +
      "different k are not union-comparable")
    import spark.implicits._
    Seq(overlapStats(a, b, ka))
      .toDF("a_est", "b_est", "union_est", "jaccard", "inter_est",
        "a_only_est", "b_only_est")
  }

  /** The exact-membership set algebra of [[servedOverlap]] over two
    * merged sketches — pure and driver-safe (every array ≤ k longs).
    */
  private def overlapStats(a: Array[Long], b: Array[Long], k: Int)
      : (Double, Double, Double, Double, Double, Double, Double) = {
    val u = kmvMergeArrays(a, b, k)
    val aSet = a.toSet
    val bSet = b.toSet
    val inBoth = u.count(h => aSet.contains(h) && bSet.contains(h))
    val aOnly = u.count(h => aSet.contains(h) && !bSet.contains(h))
    val bOnly = u.count(h => bSet.contains(h) && !aSet.contains(h))
    val denom = math.max(u.length, 1).toDouble
    val jaccard = if (u.isEmpty) 1.0 else inBoth / denom
    val unionEst = kmvEstimate(u, k)
    (kmvEstimate(a, k), kmvEstimate(b, k), unionEst, jaccard,
      jaccard * unionEst, aOnly / denom * unionEst,
      bOnly / denom * unionEst)
  }

  /** Per-group merged KMV sketches of a GROUPED sidecar, collected to
    * the driver as (group → sketch): executor-side [[KmvMergeAgg]]
    * partial merges, then ≤ #groups·k longs of driver state — the
    * bounded-metadata stance scaled by an operator-bounded group
    * dimension (domains/languages/sources, the [[Cfg.groupKeyExpr]]
    * contract). Mixed-k sidecars fail loudly, as everywhere.
    */
  private def mergedKmvByGroup(spark: SparkSession, sidecarPath: String)
      : (Map[String, Array[Long]], Int) = {
    val rows = spark.read.parquet(sidecarPath)
    require(rows.columns.contains("grp"),
      s"sidecar at $sidecarPath is not grouped (set Cfg.groupKeyExpr)")
    require(rows.columns.contains("kmv"),
      s"sidecar at $sidecarPath carries no KMV sketch (set Cfg.kmvKeyExpr)")
    val ks = rows.where(col("kmv").isNotNull)
      .select(col("kmvk")).distinct().collect().map(_.getInt(0))
    require(ks.nonEmpty, s"sidecar at $sidecarPath has a kmv column but " +
      "no non-null KMV rows")
    require(ks.length == 1,
      s"mixed kmvK in sidecar at $sidecarPath: ${ks.mkString(",")}")
    val k = ks.head
    val kmvMerge = udaf(new KmvMergeAgg(k),
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Array[Long]]())
    val merged = rows.where(col("kmv").isNotNull)
      .groupBy("grp").agg(kmvMerge(col("kmv")).as("kmv"))
      .collect()
      .map(r => r.getString(0) -> r.getSeq[Long](1).toArray).toMap
    (merged, k)
  }

  /** [[servedOverlap]] PER GROUP from two GROUPED KMV sidecars — the
    * contamination-pricing dashboard by source/language/domain: "how
    * much of domain D's crawl is already in the training set", one row
    * `(grp, a_est, b_est, union_est, jaccard, inter_est, a_only_est,
    * b_only_est)` per group present on either side, served from two
    * O(#groups·k) sidecars without scanning either corpus. A group
    * absent from one side gets that side's empty sketch: its estimates
    * are exact zeros and the overlap is 0 — "nothing of D is in the
    * training set" is an answer, not an error. Per-group error bounds
    * are the single-pair bounds of [[servedOverlap]] on each group's
    * OWN scale (each group has its own full-k sketch — the same
    * per-group-contract stance as [[servedQuantilesByGroup]]).
    */
  def servedOverlapByGroup(spark: SparkSession, sidecarPathA: String,
                           sidecarPathB: String): DataFrame = {
    val (a, ka) = mergedKmvByGroup(spark, sidecarPathA)
    val (b, kb) = mergedKmvByGroup(spark, sidecarPathB)
    require(ka == kb, s"kmvK mismatch: $ka vs $kb — sketches of " +
      "different k are not union-comparable")
    import spark.implicits._
    // sort through Option: a null group key (null groupKeyExpr values
    // are a real group) must order, not NPE
    (a.keySet ++ b.keySet).toSeq.sortBy(Option(_))
      .map { g =>
        val s = overlapStats(a.getOrElse(g, Array.emptyLongArray),
          b.getOrElse(g, Array.emptyLongArray), ka)
        (g, s._1, s._2, s._3, s._4, s._5, s._6, s._7)
      }
      .toDF("grp", "a_est", "b_est", "union_est", "jaccard", "inter_est",
        "a_only_est", "b_only_est")
  }

  /** A Spark `CountMinSketch` opened for arithmetic the class API
    * doesn't expose: depth/width, total added count, the row-hash
    * parameters and the flattened counter table, parsed from the
    * sketch's stable binary form (version 1 — the layout Spark's own
    * `readFrom` consumes). Validated structurally rather than by
    * trusting an assumed field order: in a Count-Min table EVERY row's
    * counters sum to the total added count (each add increments exactly
    * one counter per row), so the parse accepts whichever of the two
    * plausible block orders (hash params before or after the table)
    * satisfies that invariant for every row — a wrong slice fails it
    * immediately and loudly.
    */
  private[graft] case class ParsedCms(depth: Int, width: Int, total: Long,
                                      hashA: Array[Long],
                                      table: Array[Long])

  private[graft] def parseCms(bytes: Array[Byte]): ParsedCms = {
    val in = new java.io.DataInputStream(
      new java.io.ByteArrayInputStream(bytes))
    val version = in.readInt()
    require(version == 1,
      s"unsupported CountMinSketch serialization version $version")
    val total = in.readLong()
    val depth = in.readInt()
    val width = in.readInt()
    require(depth > 0 && width > 0, s"bad CMS dims $depth x $width")
    val expected = 4L + 8 + 4 + 4 + (depth.toLong * width + depth) * 8
    require(bytes.length.toLong == expected,
      s"CMS byte length ${bytes.length} != expected $expected " +
        s"for $depth x $width")
    val longs = new Array[Long](depth * width + depth)
    var i = 0
    while (i < longs.length) { longs(i) = in.readLong(); i += 1 }
    def rowsSumToTotal(tableOff: Int): Boolean =
      (0 until depth).forall { d =>
        var s = 0L; var w = 0
        while (w < width) { s += longs(tableOff + d * width + w); w += 1 }
        s == total
      }
    if (rowsSumToTotal(depth)) // hash params first, then table
      ParsedCms(depth, width, total, longs.slice(0, depth),
        longs.slice(depth, depth + depth * width))
    else if (rowsSumToTotal(0)) // table first, then hash params
      ParsedCms(depth, width, total, longs.slice(depth * width,
        depth * width + depth), longs.slice(0, depth * width))
    else throw new IllegalArgumentException(
      "CMS parse: no block layout satisfies the row-sum invariant — " +
        "serialization format changed upstream; re-audit parseCms")
  }

  /** The sidecar's CMS rows merged to one parsed sketch (cell-wise
    * executor-side merge, ≤ depth·width longs of driver state). */
  private def mergedCms(spark: SparkSession, sidecarPath: String)
      : ParsedCms =
    mergedCmsRows(spark.read.parquet(sidecarPath), sidecarPath)

  private def mergedCmsRows(rows: DataFrame, sidecarPath: String)
      : ParsedCms = {
    require(rows.columns.contains("cms"),
      s"sidecar at $sidecarPath carries no CMS face (set Cfg.heavyKeyExpr)")
    val cmsMerge = udaf(new CmsMerge, org.apache.spark.sql.Encoders.BINARY)
    val bytes = rows.where(col("cms").isNotNull)
      .agg(cmsMerge(col("cms")).as("cms"))
      .collect().head.getAs[Array[Byte]](0)
    require(bytes != null,
      s"sidecar at $sidecarPath has a cms column but no non-null rows")
    parseCms(bytes)
  }

  /** Join-cardinality estimate between two corpora from their CMS
    * sidecars alone — the query-planning question two 100 TB tables
    * cannot afford to answer by joining: |A ⋈ B| on the CMS key
    * (counting multiplicity, i.e. Σ_k cnt_A(k)·cnt_B(k)) estimated as
    * the Count-Min INNER PRODUCT, min over rows d of
    * Σ_w A[d][w]·B[d][w] (Cormode & Muthukrishnan's second canonical
    * CM query, alongside the point estimates [[servedHeavyHitters]]
    * already serves). Guarantees, enforced by the `q_join_size_gap`
    * twin:
    *   - never an under-estimate: each row's inner product contains
    *     every true Σ cnt_A·cnt_B term (colliding keys only ADD);
    *   - bounded over-estimate: excess ≤ 2·N_A·N_B/width per row with
    *     probability 1/2 (Markov on the collision expectation
    *     N_A·N_B/width), so the min over `depth` independent rows
    *     exceeds it with probability ≤ 2^−depth — at the default
    *     eps/confidence (width 2000, depth 10), within 0.1% of
    *     N_A·N_B at odds 1023:1, deterministic at the fixed seed.
    * Serve cost: two O(#batches) sidecar merges + one depth·width
    * driver pass; the corpora are never touched. Both sidecars must
    * share dims AND hash parameters (same cmsEps/cmsConfidence/
    * cmsSeed) — sketches hashed differently are not comparable and
    * fail loudly. One row `(a_n, b_n, join_size_est, bound)`.
    */
  def servedJoinSize(spark: SparkSession, sidecarPathA: String,
                     sidecarPathB: String): DataFrame = {
    val a = mergedCms(spark, sidecarPathA)
    val b = mergedCms(spark, sidecarPathB)
    require(a.depth == b.depth && a.width == b.width,
      s"CMS dims mismatch: ${a.depth}x${a.width} vs ${b.depth}x${b.width}")
    require(java.util.Arrays.equals(a.hashA, b.hashA),
      "CMS hash parameters differ (different cmsSeed?) — sketches are " +
        "not inner-product comparable")
    // double accumulation: a long would overflow near N_A·N_B/width ≈
    // 2^63 — i.e. exactly the 100 TB corpora this serve exists for.
    // Doubles are exact below 2^53 per product/sum and carry ~1e-16
    // relative error beyond, invisible next to the eps·N_A·N_B bound
    var est = Double.PositiveInfinity
    var d = 0
    while (d < a.depth) {
      var s = 0.0
      var w = 0
      while (w < a.width) {
        s += a.table(d * a.width + w).toDouble *
          b.table(d * a.width + w)
        w += 1
      }
      if (s < est) est = s
      d += 1
    }
    val bound = 2.0 * a.total * b.total / a.width
    import spark.implicits._
    Seq((a.total, b.total, est, bound))
      .toDF("a_n", "b_n", "join_size_est", "bound")
  }

  /** Key-skew diagnosis from the CMS sidecar alone — "does this join/
    * group key need salting?" answered without scanning the corpus: the
    * sketch's inner product WITH ITSELF estimates the second frequency
    * moment F2 = Σ_k cnt(k)² (never under, over by ≤ 2·N²/width at the
    * [[servedJoinSize]] confidence), and F2 pins the skew measures a
    * partitioner plans by:
    *   - `l2_l1_ratio` = √F2/N ∈ (0, 1] — 1/√distinct for a uniform
    *     column, → 1 as one key dominates;
    *   - `top_share_ub` = max served-candidate estimate / N — at least
    *     the heaviest candidate's true share since CMS only over-counts
    *     — with `top_share_lb` subtracting the point-query slack
    *     (cmsEps): the heaviest key's corpus share, bracketed
    *     (completeness of the candidate set per [[Cfg.topK]]);
    *   - `uniform_equiv_keys` = N²/F2 — the "effective key count": the
    *     number of EQUALLY-LOADED keys that would produce this F2, so
    *     a 10^9-distinct column with uniform_equiv_keys ≈ 40 tells the
    *     planner it hashes like 40 keys and WILL hotspot without
    *     salting.
    * One row `(n, f2_est, f2_bound, l2_l1_ratio, uniform_equiv_keys,
    * top_share_lb, top_share_ub)`. Serve cost: one O(#batches) sidecar
    * merge + a depth·width driver pass.
    */
  def servedKeySkew(spark: SparkSession, sidecarPath: String): DataFrame = {
    val rows = spark.read.parquet(sidecarPath) // one read serves both legs
    val m = mergedCmsRows(rows, sidecarPath)
    require(m.total > 0,
      s"sidecar at $sidecarPath saw no CMS keys (every batch empty or " +
        "all-null heavyKeyExpr) — skew of an empty key column is not a " +
        "number; gate on n before asking")
    // heaviest candidate: price the sidecar's Misra-Gries union against
    // the merged sketch, exactly the servedHeavyHitters path. total > 0
    // implies some batch had keys, hence a non-empty candidate union
    val topEst = heavyHittersOfRows(rows, phi = 1e-12)
      .agg(max(col("est"))).collect().head.getLong(0)
    import spark.implicits._
    Seq(skewStats(m, topEst))
      .toDF("n", "f2_est", "f2_bound", "l2_l1_ratio",
        "uniform_equiv_keys", "top_share_lb", "top_share_ub")
  }

  /** The CMS self inner product (min over rows of Σ c²) — the F2
    * estimator shared by the global and per-group skew serves. Double
    * accumulation: the long form overflows at the corpus sizes these
    * serves target (see [[servedJoinSize]]).
    */
  private def cmsSelfF2(m: ParsedCms): Double = {
    var f2 = Double.PositiveInfinity
    var d = 0
    while (d < m.depth) {
      var s = 0.0
      var w = 0
      while (w < m.width) {
        val c = m.table(d * m.width + w).toDouble
        s += c * c
        w += 1
      }
      if (s < f2) f2 = s
      d += 1
    }
    f2
  }

  /** The derived skew row (n, f2, bound, l2/l1, effective keys, top
    * share bracket) from one parsed sketch + its priced heaviest
    * candidate — one definition for both skew serves.
    */
  private def skewStats(m: ParsedCms, topEst: Long)
      : (Long, Double, Double, Double, Double, Double, Double) = {
    val f2 = cmsSelfF2(m)
    val n = m.total.toDouble
    val epsEff = 2.0 / m.width
    (m.total, f2, 2.0 * n * n / m.width, math.sqrt(f2) / n,
      n * n / f2, math.max(0.0, topEst / n - epsEff),
      math.min(1.0, topEst / n))
  }

  /** [[servedKeySkew]] PER GROUP from a GROUPED sidecar carrying the CMS
    * face — "WHICH domain's key column is skewed": one row per group
    * with the group's own F2 estimate, skew measures and top-share
    * bracket, every guarantee [[servedKeySkew]]'s on the group's own
    * scale. Groups whose CMS saw no keys (all-null heavyKeyExpr) are
    * OMITTED — their skew is not a number, and a monitoring row of NaNs
    * would read as an answer. Driver state: one parsed sketch per group
    * (depth·width longs — ~160 KB at the default eps/confidence), times
    * the operator-bounded group dimension, the [[Cfg.groupKeyExpr]]
    * contract.
    */
  def servedKeySkewByGroup(spark: SparkSession,
                           sidecarPath: String): DataFrame = {
    val rows = spark.read.parquet(sidecarPath)
    require(rows.columns.contains("grp"),
      s"sidecar at $sidecarPath is not grouped (set Cfg.groupKeyExpr)")
    require(rows.columns.contains("cms"),
      s"sidecar at $sidecarPath carries no CMS face (set Cfg.heavyKeyExpr)")
    val cmsMerge = udaf(new CmsMerge, org.apache.spark.sql.Encoders.BINARY)
    val mergedBytes = rows.where(col("cms").isNotNull)
      .groupBy("grp").agg(cmsMerge(col("cms")).as("cms"))
      .collect()
      .map(r => r.getString(0) -> r.getAs[Array[Byte]](1))
      .toMap
    // candidate keys per group from the stored Misra-Gries lists —
    // bounded metadata; priced driver-side against the ALREADY-merged
    // sketches (one deserialization per group, no second sidecar
    // read + re-merge)
    val cands = rows.select(col("grp"), explode(col("topk")).as("kv"))
      .select(col("grp"), col("kv.key").as("key")).distinct()
      .collect()
      .groupBy(_.getString(0))
      .view.mapValues(_.map(_.getString(1)).toSeq).toMap
    import spark.implicits._
    mergedBytes.toSeq.sortBy(t => Option(t._1))
      .map { case (g, bytes) =>
        val sketch =
          org.apache.spark.util.sketch.CountMinSketch.readFrom(bytes)
        val topEst = cands.getOrElse(g, Seq.empty)
          .map(sketch.estimateCount(_)).foldLeft(0L)(math.max)
        g -> skewStats(parseCms(bytes), topEst)
      }
      .filter(_._2._1 > 0)
      .map { case (g, s) =>
        (g, s._1, s._2, s._3, s._4, s._5, s._6, s._7)
      }
      .toDF("grp", "n", "f2_est", "f2_bound", "l2_l1_ratio",
        "uniform_equiv_keys", "top_share_lb", "top_share_ub")
  }

  /** Distributive Count-Min merge: cell-wise addition of the serialized
    * sketches, run as a real Spark `Aggregator` so partial merges happen
    * on executors (tree shape), never as a driver loop over rows. The
    * buffer is the serialized form — a (de)serialization per sidecar
    * ROW, bounded by #batches, the same bounded-metadata stance as the
    * centroid sidecars.
    */
  private class CmsMerge
      extends org.apache.spark.sql.expressions.Aggregator[
        Array[Byte], Array[Byte], Array[Byte]] {
    import org.apache.spark.util.sketch.CountMinSketch
    def zero: Array[Byte] = null
    def reduce(b: Array[Byte], a: Array[Byte]): Array[Byte] = merge(b, a)
    def merge(x: Array[Byte], y: Array[Byte]): Array[Byte] =
      if (x == null) y
      else if (y == null) x
      else {
        val s = CountMinSketch.readFrom(x)
        s.mergeInPlace(CountMinSketch.readFrom(y))
        s.toByteArray
      }
    def finish(r: Array[Byte]): Array[Byte] = r
    def bufferEncoder: org.apache.spark.sql.Encoder[Array[Byte]] =
      org.apache.spark.sql.Encoders.BINARY
    def outputEncoder: org.apache.spark.sql.Encoder[Array[Byte]] =
      org.apache.spark.sql.Encoders.BINARY
  }

  /** Row-merge compaction: collapse every appended batch row into ONE
    * merged row, so serve cost stays O(1) no matter how many batches the
    * corpus has seen — the file-level `compactEvery` pass bounds FILE
    * count; this bounds ROW count. Atomic via the same staged
    * [[Compaction.replace]] every sidecar rewrite uses; safe to
    * run on any cadence (weekly/monthly), and appends keep landing
    * next to the merged row afterwards.
    *
    * Exactness ledger, per merged component:
    *   - `n`: exact sum;
    *   - `hll`: register-max union — associative, so the merged-row
    *     estimate is IDENTICAL to serving the unmerged rows;
    *   - `cms` (when present): cell-wise addition — associative,
    *     estimates identical to the unmerged serve;
    *   - `topk` (when present): the candidate union re-priced against
    *     the merged CMS, top `topK` kept by estimate. Completeness
    *     survives: a φ-heavy key's estimate ≥ its true count ≥ φ·N, and
    *     at most 1/(φ−cmsEps) keys can estimate ≥ φ·N (each over-counts
    *     by ≤ cmsEps·N), so `topK ≥ 1/(φ−cmsEps)` keeps every φ-heavy
    *     key servable after any number of compactions;
    *   - `qs`: the merged point-mass distribution re-summarized to K
    *     equi-depth boundaries — adds AT MOST 1/K rank error per
    *     compaction GENERATION (re-bucketing granularity). Compact on a
    *     coarse cadence and the ledger stays far inside the serve
    *     contract; the generation count is the operator's dial, not a
    *     hidden constant;
    *   - `kmv` (when present): bottom-k union — associative, the merged
    *     row's sketch is IDENTICAL to merging the unmerged rows, so
    *     every distinct/overlap estimate survives any number of
    *     compactions bit-for-bit.
    *
    * Driver state: the K+1 merged boundaries and the ≤ topK candidate
    * rows (collected to assemble the single output row) — bounded
    * metadata, the centroid-sidecar convention.
    */
  def compactRows(spark: SparkSession, cfg: Cfg): Unit = {
    // mergeSchema: face detection must see every generation's columns,
    // not whichever file's footer wins the schema sample
    val rows = spark.read.option("mergeSchema", "true")
      .parquet(cfg.sidecarPath)
    require(!rows.columns.contains("grp"),
      s"${cfg.sidecarPath} is a grouped sidecar — use compactRowsByGroup " +
        "(the ungrouped row-merge would destroy the group column)")
    if (rows.limit(2).count() < 2) return // nothing to merge
    val k = cfg.numBuckets
    val hasCms = rows.columns.contains("cms")
    // merged boundaries: the served quantiles at j/K over the point-mass
    // merge (K+1 bounded values). p=0 is served as the global minimum
    // anchor (qs[0] of the row whose minimum is smallest — approximated
    // by the smallest stored boundary, exact for the anchor's purpose).
    val probs = (1 to k).map(_.toDouble / k)
    val served = servedQuantiles(spark, cfg.sidecarPath, probs)
      .orderBy(col("p")).select(col("value"))
      .collect().map(_.getDouble(0))
    // a sidecar whose every row carries null qs (all-null valueExpr
    // batches) merges to a null summary, not an NPE — the serve side
    // already filters null qs rows
    val minAnchorRow = rows.select(min(element_at(col("qs"), 1)))
      .collect().head
    val mergedQs: Option[Seq[Double]] =
      if (served.isEmpty || minAnchorRow.isNullAt(0)) None
      else Some(minAnchorRow.getDouble(0) +: served.toSeq)
    var baseAggs = Seq(sum(col("n")).as("n"),
      hll_union_agg(col("hll")).as("hll"))
    // moments merge is EXACT (sum/sum/min/max are associative as-is).
    // Carried only when EVERY row has the face: merging around legacy
    // null-moment rows would stamp the post-upgrade batches' sums onto
    // the whole history's n — the compacted sidecar instead degrades
    // honestly to pre-moments (serves refuse loudly, not subtly wrong)
    if (rows.columns.contains("vsum") &&
        rows.where(col("vn").isNull).isEmpty)
      baseAggs = baseAggs ++ momentMergeAggs
    val aggs = if (hasCms) baseAggs :+ {
      val cmsMerge = udaf(new CmsMerge, org.apache.spark.sql.Encoders.BINARY)
      cmsMerge(col("cms")).as("cms")
    } else baseAggs
    val mergedRow = rows.agg(aggs.head, aggs.tail: _*)
      .withColumn("qs", mergedQs.map(q => typedlit(q))
        .getOrElse(lit(null).cast("array<double>")))
    val withTop = if (hasCms) {
      // candidate union re-priced by the merged sketch, topK kept
      val top = servedHeavyHitters(spark, cfg.sidecarPath, phi = 1e-12)
        .orderBy(col("est").desc, col("key")).limit(cfg.topK)
        .select(col("key"), col("est").as("cnt"))
        .agg(collect_list(struct(col("key"), col("cnt"))).as("topk"))
      mergedRow.crossJoin(top)
    } else mergedRow
    // bottom-k union is associative: the merged row serves identically
    val withKmv = if (rows.columns.contains("kmv")) {
      val (kmvArr, kmvK) = mergedKmvRows(rows, cfg.sidecarPath)
      withTop.withColumn("kmv", typedlit(kmvArr.toSeq))
        .withColumn("kmvk", lit(kmvK))
    } else withTop
    val out = withKmv
      .withColumn("k", lit(k))
      .withColumn("accuracy", lit(cfg.accuracy))
      .withColumn("lgk", lit(cfg.lgConfigK))
      .coalesce(1)
      // sever lineage from the files the swap below replaces
      .localCheckpoint(true)
    try Compaction.replace(cfg.sidecarPath, "rowmerge") { staging =>
      out.write.parquet(staging.toString)
      true
    } finally org.apache.spark.sql.GraftBridge.unpersistCheckpoint(out)
  }

  /** Corpus heavy hitters served from the sidecar: every key whose
    * estimated corpus count reaches `phi`·N, with its estimate and the
    * corpus total. Returns (key, est, total), heaviest first.
    *
    * Mechanics: the per-batch CMS rows merge cell-wise ([[CmsMerge]])
    * into ONE sketch; the candidate set is the union of the per-batch
    * Misra-Gries summaries (≤ #batches·topK keys — bounded metadata,
    * computed inside the batches' single-scan aggregation); each
    * candidate is priced against the merged sketch. Guarantees, all
    * enforced by the `q_heavy_hitters_gap` twin:
    *   - completeness: every key with true share ≥ phi is served
    *     (provable when phi ≥ 1/topK — see [[Cfg.topK]]);
    *   - no under-count: est ≥ true count, always (CMS takes a MIN over
    *     hashed counters that only ever over-count);
    *   - bounded over-count: est ≤ true + cmsEps·N at cmsConfidence
    *     per key — deterministic at a fixed seed;
    *   - soundness: a served key's true share is ≥ phi − cmsEps.
    *
    * The candidate×sketch pricing is a broadcast of one merged-sketch
    * row against the bounded candidate frame; the lookup deserializes
    * the sketch per candidate row, acceptable at candidate scale and
    * kept out of every corpus-sized plan.
    */
  def servedHeavyHitters(spark: SparkSession, sidecarPath: String,
                         phi: Double): DataFrame = {
    require(phi > 0.0 && phi <= 1.0, s"phi=$phi")
    heavyHittersOfRows(spark.read.parquet(sidecarPath), phi)
  }

  /** [[servedHeavyHitters]] ACROSS a selected subset of groups — the
    * any-window serve of a time-grouped sidecar carrying the CMS face:
    * "which keys dominated THIS date range", by cell-wise CMS merge and
    * candidate union over the covered rows only. All four guarantees
    * hold on the window's own scale (the per-(batch, group) slices are
    * exactly the window's batches: over-count ≤ cmsEps·N_window, and a
    * window-φ-heavy key has share ≥ φ in at least one covered slice, so
    * it entered that slice's Misra-Gries candidates whenever
    * topK ≥ ⌈1/φ⌉ — the [[Cfg.topK]] argument with "batch" read as
    * "covered slice").
    */
  def servedHeavyHittersAcrossGroups(spark: SparkSession,
                                     sidecarPath: String,
                                     groups: Seq[String],
                                     phi: Double): DataFrame = {
    require(phi > 0.0 && phi <= 1.0, s"phi=$phi")
    require(groups.nonEmpty, "empty group selection")
    val rows = spark.read.parquet(sidecarPath)
    require(rows.columns.contains("grp"),
      s"sidecar at $sidecarPath is not grouped (set Cfg.groupKeyExpr)")
    val inWindow = rows.where(col("grp").isin(groups: _*))
    // absent groups are reported, not invented — the same coverage
    // column every sibling windowed serve carries (constant per row)
    val covered = inWindow
      .agg(count_distinct(col("grp")).as("groups_covered"))
    heavyHittersOfRows(inWindow, phi).crossJoin(broadcast(covered))
  }

  /** Merged KMV distinct estimate ACROSS a selected subset of groups —
    * the any-window bottom-k serve: one row `(groups_covered,
    * distinct_estimate)`, exact below k, rse ≈ 1/sqrt(kmvK−2) at k —
    * mirroring [[servedDistinctAcrossGroups]] for the face that also
    * supports set algebra. `groups_covered` counts the REQUESTED groups
    * that had rows, as there.
    */
  def servedKmvDistinctAcrossGroups(spark: SparkSession,
                                    sidecarPath: String,
                                    groups: Seq[String]): DataFrame = {
    require(groups.nonEmpty, "empty group selection")
    val rows = spark.read.parquet(sidecarPath)
    require(rows.columns.contains("grp"),
      s"sidecar at $sidecarPath is not grouped (set Cfg.groupKeyExpr)")
    val inWindow = rows.where(col("grp").isin(groups: _*))
    val covered = inWindow.agg(count_distinct(col("grp")))
      .collect().head.getLong(0)
    val (kmv, k) = mergedKmvRows(inWindow, sidecarPath)
    import rows.sparkSession.implicits._
    Seq((covered, kmvEstimate(kmv, k)))
      .toDF("groups_covered", "distinct_estimate")
  }

  /** Set algebra BETWEEN two group-windows of ONE grouped KMV sidecar —
    * the sketch-served form of "how many of this week's users were also
    * active last week": bottom-k union over each window's covered rows,
    * then the exact-membership overlap estimator of [[servedOverlap]].
    * One row `(a_groups_covered, b_groups_covered, a_est, b_est,
    * union_est, jaccard, inter_est, a_only_est, b_only_est)` — the full
    * algebra (returning users = inter, churned = a_only, new = b_only)
    * from O(rows-in-range) work and ≤ k longs of driver state per side,
    * never an events re-scan. Windows may overlap or be disjoint; a
    * window with no covered rows has an empty (exact) sketch, and each
    * side's `*_groups_covered` reports its REQUESTED days that had rows
    * — absent days are reported, not invented. Estimator bounds are
    * [[servedOverlap]]'s verbatim.
    */
  def servedOverlapBetweenWindows(spark: SparkSession, sidecarPath: String,
                                  groupsA: Seq[String],
                                  groupsB: Seq[String]): DataFrame = {
    require(groupsA.nonEmpty && groupsB.nonEmpty, "empty group selection")
    val rows = spark.read.parquet(sidecarPath)
    require(rows.columns.contains("grp"),
      s"sidecar at $sidecarPath is not grouped (set Cfg.groupKeyExpr)")
    def side(groups: Seq[String]): (Long, Array[Long], Int) = {
      val in = rows.where(col("grp").isin(groups: _*))
      val covered = in.agg(count_distinct(col("grp")))
        .collect().head.getLong(0)
      if (covered == 0) (0L, Array.emptyLongArray, 0)
      else {
        val (kmv, k) = mergedKmvRows(in, sidecarPath)
        (covered, kmv, k)
      }
    }
    val (ca, a, ka) = side(groupsA)
    val (cb, b, kb) = side(groupsB)
    require(ka == 0 || kb == 0 || ka == kb,
      s"kmvK mismatch: $ka vs $kb — sketches of different k are not " +
        "union-comparable")
    val k = math.max(ka, kb)
    require(k > 0, "neither window covered any sidecar rows")
    val s = overlapStats(a, b, k)
    import spark.implicits._
    Seq((ca, cb, s._1, s._2, s._3, s._4, s._5, s._6, s._7))
      .toDF("a_groups_covered", "b_groups_covered", "a_est", "b_est",
        "union_est", "jaccard", "inter_est", "a_only_est", "b_only_est")
  }

  /** The CMS-merge + candidate-pricing serve over a sidecar row frame
    * (whole-sidecar and group-windowed serves share it). */
  private def heavyHittersOfRows(rows: DataFrame, phi: Double)
      : DataFrame = {
    val cmsMerge = udaf(new CmsMerge, org.apache.spark.sql.Encoders.BINARY)
    val merged = rows.agg(cmsMerge(col("cms")).as("cms"),
      sum(col("n")).as("total"))
    val cands = rows
      .select(explode(col("topk")).as("kv"))
      .select(col("kv.key").as("key")).distinct()
    val estimate = udf((bytes: Array[Byte], key: String) =>
      org.apache.spark.util.sketch.CountMinSketch.readFrom(bytes)
        .estimateCount(key))
    cands.crossJoin(broadcast(merged))
      .select(col("key"), estimate(col("cms"), col("key")).as("est"),
        col("total"))
      .where(col("est") >= col("total") * phi)
      .orderBy(col("est").desc, col("key"))
  }
}
