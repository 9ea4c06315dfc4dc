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
    *   sidecar ([[compactRows]]: one row per group, an ungrouped sidecar
    *   being one group) — the
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
    *   (batch, group) instead of per batch, and every face also serves
    *   [[Scope.PerGroup]] and [[Scope.Window]] — the
    *   per-domain/per-language monitoring dashboard ("is the length
    *   distribution of lang=vi drifting?") and, with a date key, any
    *   date range, answered from the sidecar, never a corpus re-scan.
    *   Sidecar size scales with #groups · #batches; groups are
    *   operator-bounded dimensions (domains, languages, sources, days),
    *   the same boundedness stance as nlist. COMPOSES with every other
    *   face: a grouped sidecar may also carry CMS/candidate and KMV
    *   columns per (batch, group) row — still one aggregation pass —
    *   and because CMS cell-addition, bottom-k union, register-max and
    *   the moment sums are all associative, [[Scope.Whole]] merges
    *   straight across the group rows while [[Scope.PerGroup]] merges
    *   under the group key.
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

  /** Which sidecar rows a serve merges into one answer. Every face
    * merges associatively, so the three scopes are ONE merge per face
    * applied to different rows — the Dremel serving-tree shape:
    *   - [[Scope.Whole]]: every row, one answer (the corpus);
    *   - [[Scope.PerGroup]]: the rows of each group of a grouped sidecar
    *     ([[Cfg.groupKeyExpr]]), one `grp`-keyed answer per group, each
    *     on the group's OWN scale;
    *   - [[Scope.Window]]: the rows of the requested groups, one answer —
    *     with day groups, any date range, O(rows-in-range) — plus
    *     `groups_covered`, how many of the REQUESTED groups had rows
    *     (absent groups are reported, not invented: callers telling "no
    *     data" from "zero" check it against their request length).
    * PerGroup and Window refuse an ungrouped sidecar loudly.
    */
  sealed trait Scope
  object Scope {
    case object Whole extends Scope
    case object PerGroup extends Scope
    final case class Window(groups: Seq[String]) extends Scope {
      require(groups.nonEmpty, "empty group selection")
    }
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

  /** Every sidecar read: `mergeSchema`, so a sidecar whose history spans
    * schema generations (faces added over time) shows ALL its columns
    * whichever file's footer wins the schema sample — face detection,
    * the compaction's column set and the moments face's pre-moments
    * refusal all depend on it (the CorpusStream.readQuarantine
    * convention for mixed legacy layouts).
    */
  private def read(spark: SparkSession, path: String): DataFrame =
    spark.read.option("mergeSchema", "true").parquet(path)

  private def exists(spark: SparkSession, path: String): Boolean = {
    val hp = new org.apache.hadoop.fs.Path(path)
    hp.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(hp)
  }

  private def requireGrouped(rows: DataFrame, ctx: String,
                             why: String = ""): Unit =
    require(rows.columns.contains("grp"),
      s"sidecar at $ctx is not grouped (set Cfg.groupKeyExpr)$why")

  private def requireFace(rows: DataFrame, column: String, ctx: String,
                          face: String, knob: String): Unit =
    require(rows.columns.contains(column),
      s"sidecar at $ctx carries no $face (set Cfg.$knob)")

  /** A scope's rows and merge keys: all rows under no key
    * ([[Scope.Whole]]), all rows under `grp` ([[Scope.PerGroup]]), or
    * the requested groups' rows under no key ([[Scope.Window]]).
    */
  private def scoped(rows: DataFrame, ctx: String,
                     scope: Scope): (DataFrame, Seq[Column]) = scope match {
    case Scope.Whole => (rows, Nil)
    case Scope.PerGroup =>
      requireGrouped(rows, ctx)
      (rows, Seq(col("grp")))
    case Scope.Window(groups) =>
      requireGrouped(rows, ctx)
      (rows.where(col("grp").isin(groups: _*)), Nil)
  }

  /** How many groups the rows hold — over a window's rows, how many of
    * the REQUESTED groups had any. */
  private def coveredAgg: Column =
    count_distinct(col("grp")).as("groups_covered")

  /** One face's merge applied to a scope: `merge` gets the scope's rows,
    * keys and the aggregates a window adds (`groups_covered`, constant
    * per row). A face whose merge is one aggregation takes them into it:
    * the HLL union estimate depends on the aggregation's merge tree,
    * which the distinct `grp` count shapes (it pre-merges per group), so
    * the window's plan is fixed here rather than by each face. Any other
    * answer gets them cross-joined. */
  private def serve(rows: DataFrame, ctx: String, scope: Scope)(
      merge: (DataFrame, Seq[Column], Seq[Column]) => DataFrame)
      : DataFrame = {
    val (in, keys) = scoped(rows, ctx, scope)
    val extra = if (scope.isInstanceOf[Scope.Window]) Seq(coveredAgg) else Nil
    val out = merge(in, keys, extra)
    if (extra.isEmpty || out.columns.contains("groups_covered")) out
    else out.crossJoin(broadcast(in.agg(coveredAgg)))
  }

  /** Merged distinct-count estimate: one row `(batches,
    * distinct_estimate)` per scope answer (`batches` counts the merged
    * sidecar rows; a group absent from some batches has fewer).
    * Register-max union at the rows' common lgConfigK (a mixed sidecar
    * fails loudly rather than silently widening the error); within the
    * sketch's rsd of the true distinct count of the merged rows — see
    * the class doc for why it can differ from a single-pass sketch's
    * estimate while both honor the rsd. The union is associative, so
    * every scope carries the single-sketch rsd no matter how many
    * batches or groups it spans:
    *   - [[Scope.Whole]]: the corpus;
    *   - [[Scope.PerGroup]]: each group's own distinct count;
    *   - [[Scope.Window]]: with a date `groupKeyExpr`, "distinct users
    *     over an arbitrary date range", O(rows-in-range), never an
    *     events re-scan.
    */
  def servedDistinct(spark: SparkSession, sidecarPath: String,
                     scope: Scope = Scope.Whole): DataFrame =
    serve(read(spark, sidecarPath), sidecarPath, scope) {
      (rows, keys, extra) =>
        rows.groupBy(keys: _*).agg(count(lit(1)).as("batches"),
          hll_sketch_estimate(hll_union_agg(col("hll")))
            .as("distinct_estimate") +: extra: _*)
    }

  /** Merged quantiles: one row `(p, value)` per requested probability
    * and scope answer, ordered by (group, p). Each row contributes K
    * point masses of n/K at its equi-depth upper boundaries; the served
    * value is the smallest point whose merged cumulative mass reaches
    * p·N.
    *
    * Rank-error contract (enforced by the `q_sketch_sidecar_gap`,
    * `q_sketch_by_group_gap` and `q_sketch_window_gap` twins):
    * |true rank of served value − p| ≤ 2/numBuckets + 1/accuracy
    * (+ the 1/n granularity of a finite corpus). Derivation: the
    * point-mass CDF of one batch is within 1/K + 1/accuracy of its true
    * CDF everywhere, the weighted merge preserves that bound, and the
    * serve-side selection adds at most one point weight ≤ 1/K. The rank
    * is on the answer's own scale:
    *   - [[Scope.Whole]]: the corpus's;
    *   - [[Scope.PerGroup]]: each group's OWN (the windows are
    *     partitioned by the group);
    *   - [[Scope.Window]]: the window's ("p50/p99 document length over
    *     this date range").
    *
    * The window functions order #batches × K summary points per answer
    * (bounded metadata, exactly like the centroid sidecars), never
    * corpus rows.
    */
  def servedQuantiles(spark: SparkSession, sidecarPath: String,
                      ps: Seq[Double],
                      scope: Scope = Scope.Whole): DataFrame =
    serve(read(spark, sidecarPath), sidecarPath, scope)(
      (rows, keys, _) => quantilesOfRows(rows, keys, ps))

  /** The point-mass quantile merge over a row frame, per key. */
  private def quantilesOfRows(rows0: DataFrame, keys: Seq[Column],
                              ps: Seq[Double]): DataFrame = {
    require(ps.nonEmpty && ps.forall(p => p > 0.0 && p <= 1.0))
    import rows0.sparkSession.implicits._
    val rows = rows0
      .where(col("qs").isNotNull && col("n") > 0)
    // the j-th upper boundary (qs[1..K] — the leading qs[0] is the batch
    // minimum, an anchor only) carries mass n/K
    val points = rows.select(keys ++ Seq(
        explode(expr("slice(qs, 2, size(qs) - 1)")).as("v"),
        (col("n").cast("double") / col("k")).as("w")): _*)
    val byKey = Window.partitionBy(keys: _*)
    val cum = points
      .withColumn("cum", sum(col("w")).over(byKey.orderBy(col("v"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("total", sum(col("w")).over(byKey
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)))
    cum.crossJoin(broadcast(ps.toDF("p")))
      .where(col("cum") >= col("p") * col("total") - lit(1e-9))
      .groupBy(keys :+ col("p"): _*)
      .agg(min(col("v")).as("value"))
      .orderBy(keys :+ col("p"): _*)
  }

  /** The `p` quantile of each scope answer as a `threshold` column — the
    * ADAPTIVE-GATE hook. A fixed gate ("n_chars >= 100") encodes a
    * guess made at pipeline-authoring time; reading the accepted
    * corpus's own p-quantile each batch (an O(#batches) sidecar merge,
    * never a corpus scan) lets the cut track the distribution the
    * corpus actually has: `gates = thr.map(t => "adaptive_len" ->
    * (col("n_chars") >= t))` over the collected [[Scope.Whole]] row.
    * [[Scope.PerGroup]] gives each source/language its OWN bar (a
    * length floor tuned on English prose systematically mis-gates CJK
    * text): broadcast-join the `(grp, threshold)` frame onto the batch
    * and compare, `batch.join(broadcast(thr), Seq("lang"), "left")
    * .where(col("n_chars") >= coalesce(col("threshold"), lit(floor)))`
    * — groups with no history yet fall back to the caller's fixed floor
    * via the coalesce. Serves NO rows until the sidecar exists and holds
    * a non-null summary: bootstrap batches gate on fixed floors until
    * the corpus has history. Read the threshold BEFORE the batch is
    * appended (the natural order in
    * [[graft.ingest.CorpusPipeline.dedupAndAppend]], where gates run
    * first), so a poisoned batch cannot move the bar it is judged by.
    */
  def servedThreshold(spark: SparkSession, sidecarPath: String, p: Double,
                      scope: Scope = Scope.Whole): DataFrame = {
    require(p > 0.0 && p <= 1.0, s"p=$p")
    import spark.implicits._
    // no sidecar yet: the same merge over no rows, so the empty answer
    // has the scope's columns
    val rows =
      if (exists(spark, sidecarPath)) read(spark, sidecarPath)
      else Seq.empty[(String, Long, Int, Seq[Double])]
        .toDF("grp", "n", "k", "qs")
    serve(rows, sidecarPath, scope)(
        (in, keys, _) => quantilesOfRows(in, keys, Seq(p)))
      .withColumnRenamed("value", "threshold").drop("p")
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

  /** The associative merge of the exact-moments columns — shared by
    * every serve and the row-merge compaction (so a compacted sidecar's
    * moments stay bit-identical to the unmerged rows').
    */
  private def momentMergeAggs: Seq[Column] = Seq(
    sum(col("vn")).as("vn"), sum(col("vsum")).as("vsum"),
    sum(col("vsum2")).as("vsum2"), min(col("vmin")).as("vmin"),
    max(col("vmax")).as("vmax"))

  /** `valueExpr`'s EXACT moments served from the sidecar: one row
    * `(batches, vn, vsum, vsum2, vmin, vmax, mean, variance, stddev)`
    * per scope answer — population variance via vsum2/vn − mean².
    * Unlike the sketch faces this serve carries NO error term in any
    * scope: the per-batch sums/extrema merge associatively, so each
    * answer equals a direct scan of its rows exactly (for
    * integer-valued `valueExpr`, bit-for-bit — double sums of exact
    * integers below 2^53 are order-independent), which is why
    * `q_sketch_moments` and `q_sketch_moments_by_group` hold full DuckDB
    * equality oracles where every sibling face settles for a floor
    * twin. [[Scope.Window]] is the windowed-moments serve of a
    * time-grouped sidecar ("mean/stddev document length over this date
    * range"), O(rows-in-range). An all-null answer serves null moments
    * (vn = 0), not a division error. Fails loudly on a sidecar written
    * before the moments face existed, and on one MIXING pre-moments
    * rows with current ones: a pre-moments batch has no sums to merge,
    * so serving around it would present the post-upgrade batches'
    * moments as the corpus answer.
    */
  def servedMoments(spark: SparkSession, sidecarPath: String,
                    scope: Scope = Scope.Whole): DataFrame =
    serve(read(spark, sidecarPath), sidecarPath, scope)(
      momentsOfRows(_, _, _, sidecarPath))

  /** The moments merge + derived statistics over a row frame, per key. */
  private def momentsOfRows(rows: DataFrame, keys: Seq[Column],
                            extra: Seq[Column], ctx: String): DataFrame = {
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
    val mean = col("vsum") / col("vn")
    val variance = col("vsum2") / col("vn") - mean * mean
    rows.groupBy(keys: _*)
      .agg(count(lit(1)).as("batches"), momentMergeAggs ++ extra: _*)
      .withColumn("mean", when(col("vn") > 0, mean))
      .withColumn("variance", when(col("vn") > 0, variance))
      .withColumn("stddev", when(col("vn") > 0, sqrt(variance)))
  }

  /** Welch's z for a mean shift between samples a and b from their
    * counts, means and population variances: (mean_a − mean_b) /
    * sqrt(var_a/n_a + var_b/n_b); null when either side has no values
    * or both variances are zero (no scale to measure shift against —
    * gate on the counts before alerting).
    */
  private def welchZ(nA: Column, meanA: Column, varA: Column, nB: Column,
                     meanB: Column, varB: Column): Column = {
    val se2 = varA / nA + varB / nB
    when(nA > 0 && nB > 0 && se2 > 0, (meanA - meanB) / sqrt(se2))
  }

  /** Distribution drift BETWEEN two group-windows of one grouped
    * sidecar, from the EXACT moments face: [[welchZ]] of the two
    * windows' [[servedMoments]] — "did this week's document length
    * shift against last week's" answered from the covered day rows, no
    * corpus re-scan, and because the inputs are exact sums the
    * statistic carries a full equality oracle (unlike every sketch-fed
    * drift monitor). One row `(a_groups_covered, b_groups_covered, n_a,
    * n_b, mean_a, mean_b, welch_z)`.
    */
  def servedMomentsDrift(spark: SparkSession, sidecarPath: String,
                         groupsA: Seq[String],
                         groupsB: Seq[String]): DataFrame = {
    def side(groups: Seq[String], p: String): DataFrame =
      servedMoments(spark, sidecarPath, Scope.Window(groups))
        .select(col("groups_covered").as(s"${p}_groups_covered"),
          col("vn").as(s"n_$p"), col("mean").as(s"mean_$p"),
          col("variance").as(s"var_$p"))
    side(groupsA, "a").crossJoin(side(groupsB, "b"))
      .withColumn("welch_z", welchZ(col("n_a"), col("mean_a"),
        col("var_a"), col("n_b"), col("mean_b"), col("var_b")))
      .select(col("a_groups_covered"), col("b_groups_covered"),
        col("n_a"), col("n_b"), col("mean_a"), col("mean_b"),
        col("welch_z"))
  }

  /** Batch-vs-corpus anomaly screen from the exact moments face — the
    * statistical REFUSAL hook beside [[servedThreshold]]'s adaptive
    * cut: one row `(n_batch, n_corpus, mean_batch, mean_corpus,
    * welch_z, anomalous)` comparing the ARRIVING batch's `valueExpr`
    * distribution against the accepted corpus's own accumulated
    * moments ([[welchZ]]), `anomalous` when |z| > zMax. Compose it in
    * front of [[graft.ingest.CorpusPipeline.dedupAndAppend]]: collect
    * the row, route an anomalous batch to quarantine (or
    * `require(!anomalous)`) BEFORE the append — read-before-append, as
    * every adaptive hook here, so a poisoned batch cannot move the bar
    * it is judged by. Bootstrap stance: a missing sidecar (or one with
    * no values yet) serves null z and `anomalous = false` — the first
    * batches define the distribution rather than being judged against
    * nothing. Serve cost: one batch aggregation + an O(#rows) sidecar
    * merge.
    */
  def batchAnomaly(batch: DataFrame, cfg: Cfg,
                   zMax: Double): DataFrame = {
    require(zMax > 0, s"zMax=$zMax")
    val spark = batch.sparkSession
    val v = expr(cfg.valueExpr).cast("double")
    val b = batch.agg(count(v).as("n_batch"),
      sum(v).as("bsum"), sum(v * v).as("bsum2"))
    val c =
      if (!exists(spark, cfg.sidecarPath))
        spark.sql(
          "SELECT CAST(0 AS BIGINT) AS n_corpus, " +
            "CAST(NULL AS DOUBLE) AS mean_corpus, " +
            "CAST(NULL AS DOUBLE) AS var_corpus")
      else servedMoments(spark, cfg.sidecarPath)
        .select(col("vn").as("n_corpus"), col("mean").as("mean_corpus"),
          col("variance").as("var_corpus"))
    val meanB = col("bsum") / col("n_batch")
    val varB = col("bsum2") / col("n_batch") - meanB * meanB
    val z = welchZ(col("n_batch"), meanB, varB, col("n_corpus"),
      col("mean_corpus"), col("var_corpus"))
    b.crossJoin(c)
      .withColumn("mean_batch", when(col("n_batch") > 0, meanB))
      .withColumn("welch_z", z)
      .withColumn("anomalous",
        coalesce(abs(z) > zMax, lit(false)))
      .select(col("n_batch"), col("n_corpus"), col("mean_batch"),
        col("mean_corpus"), col("welch_z"), col("anomalous"))
  }

  /** TAKEDOWN for sketch state: EPOCH SEGMENTATION made an operator.
    * Sketch faces are one-way additive — a member cannot be subtracted —
    * so per-document retraction is impossible BY DESIGN (the
    * [[graft.operators.Retraction]] stance); what IS exact is excising
    * whole GROUP rows of a grouped sidecar. In the day/epoch-grouped
    * monitoring layout each row is precisely one epoch's state, so
    * dropping a poisoned ingest day's rows leaves every
    * [[Scope.Window]] serve answering EXACTLY over the surviving epochs
    * — the kept rows' content is untouched. One anti-join rewrite of
    * the O(#batches·#groups) sidecar via the staged atomic swap;
    * idempotent; refuses an ungrouped sidecar loudly (it has no epoch to
    * segment — re-derive it from the surviving corpus instead, the
    * [[graft.sources.TextIndex.healStats]] shape).
    */
  def retractGroups(spark: SparkSession, sidecarPath: String,
                    groups: Seq[String]): Unit = {
    require(groups.nonEmpty, "empty group selection")
    requireGrouped(read(spark, sidecarPath), sidecarPath,
      " — per-epoch retraction needs epoch rows; re-derive an ungrouped " +
        "sidecar from the surviving corpus instead")
    import spark.implicits._
    // mergeSchema: the sidecar's history spans schema generations (faces
    // added over time) — the anti-join rewrite must see every
    // generation's columns or kept epochs lose their newer sketch state
    Compaction.retractRows(spark, sidecarPath, groups.toDF("__rg"),
      (t, k) => t("grp") === k("__rg"),
      readOptions = Map("mergeSchema" -> "true"))
  }

  /** Row-merge compaction: collapse the batch rows into ONE merged row
    * per group (an ungrouped sidecar is one group), so serve cost stays
    * O(#groups) no matter how many batches the corpus has seen — the
    * file-level `compactEvery` pass bounds FILE count; this bounds ROW
    * count. Atomic via the same staged [[Compaction.replace]] every
    * sidecar rewrite uses; safe to run on any cadence (weekly/monthly),
    * and appends keep landing next to the merged rows afterwards.
    * Entirely DataFrame-side — nothing is collected.
    *
    * Exactness ledger, per merged component:
    *   - `n`: exact sum;
    *   - `hll`: register-max union — associative, so the merged-row
    *     estimate is IDENTICAL to serving the unmerged rows;
    *   - moments: exact sums/min/max — bit-identical serves. Carried
    *     only when EVERY row has the face: merging around legacy
    *     null-moment rows would stamp the post-upgrade batches' sums onto
    *     the whole history's n — the compacted sidecar instead degrades
    *     honestly to pre-moments (serves refuse loudly, not subtly
    *     wrong);
    *   - `cms` (when present): cell-wise addition — associative,
    *     estimates identical to the unmerged serve;
    *   - `topk` (when present): the group's candidate union re-priced
    *     against its merged CMS, top `topK` kept by estimate.
    *     Completeness survives: a φ-heavy key's estimate ≥ its true
    *     count ≥ φ·N, and at most 1/(φ−cmsEps) keys can estimate ≥ φ·N
    *     (each over-counts by ≤ cmsEps·N), so `topK ≥ 1/(φ−cmsEps)`
    *     keeps every φ-heavy key servable after any number of
    *     compactions;
    *   - `qs`: the merged point-mass distribution re-summarized to K
    *     equi-depth boundaries — adds AT MOST 1/K rank error per
    *     compaction GENERATION (re-bucketing granularity). Compact on a
    *     coarse cadence and the ledger stays far inside the serve
    *     contract; the generation count is the operator's dial, not a
    *     hidden constant;
    *   - `kmv` (when present): bottom-k union — associative, the merged
    *     row's sketch is IDENTICAL to merging the unmerged rows, so
    *     every distinct/overlap estimate survives any number of
    *     compactions bit-for-bit. A sidecar whose `kmvk` differs from
    *     `cfg.kmvK` (or mixes k) refuses before anything is rewritten.
    */
  def compactRows(spark: SparkSession, cfg: Cfg): Unit = {
    val rows = read(spark, cfg.sidecarPath)
    val keys =
      if (rows.columns.contains("grp")) Seq(col("grp")) else Seq.empty
    if (rows.groupBy(keys: _*).count().where(col("count") > 1).isEmpty)
      return // every group already single-row
    val k = cfg.numBuckets
    val hasCms = rows.columns.contains("cms")
    val hasKmv = rows.columns.contains("kmv")
    // the served quantiles at j/K; array_sort on (p, value) structs
    // orders by p, so the values land in boundary order qs[1..K]
    val served = quantilesOfRows(rows, keys, (1 to k).map(_.toDouble / k))
      .groupBy(keys: _*)
      .agg(transform(array_sort(collect_list(struct(col("p"),
          col("value")))), s => s.getField("value")).as("served"))
    // qs[0] is the anchor: the smallest stored batch minimum
    var aggs = Seq(sum(col("n")).as("n"),
      hll_union_agg(col("hll")).as("hll"),
      min(element_at(col("qs"), 1)).as("anchor"))
    if (rows.columns.contains("vsum") &&
        rows.where(col("vn").isNull).isEmpty)
      aggs = aggs ++ momentMergeAggs
    if (hasCms) aggs = aggs ++ Seq(cmsMerged, candidates)
    if (hasKmv) {
      kmvKOf(rows, cfg.sidecarPath).foreach(sk => require(sk == cfg.kmvK,
        s"sidecar kmvk $sk != cfg.kmvK=${cfg.kmvK}"))
      aggs = aggs :+ kmvMerged(cfg.kmvK)
    }
    val merged = rows.groupBy(keys: _*).agg(aggs.head, aggs.tail: _*)
    val withTop =
      if (!hasCms) merged
      else merged
        .withColumn("topk", transform(slice(pricedCandidates, 1, cfg.topK),
          s => struct(s.getField("key").as("key"),
            s.getField("est").as("cnt"))))
        .drop("cands")
    // NULL-safe on grp: a null group key is a real group
    val withServed =
      if (keys.isEmpty) withTop.crossJoin(served)
      else withTop.join(served.withColumnRenamed("grp", "__grp"),
        col("grp") <=> col("__grp"), "left").drop("__grp")
    val out = withServed
      .withColumn("qs",
        // an all-null-qs group merges to a null summary (serves filter
        // null qs), not an NPE
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
      // sever lineage from the files the swap below replaces
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

  /** The one bottom-k merge: [[KmvMergeAgg]] over the rows' stored
    * sketches, executor-side partial merges bounded at k longs per
    * buffer (null rows skipped). */
  private def kmvMerged(k: Int): Column =
    udaf(new KmvMergeAgg(k),
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Array[Long]]())(
      col("kmv")).as("kmv")

  /** The rows' common `kmvk`, None when no row carries a sketch. A
    * mixed-k sidecar fails loudly: sketches of different k are not
    * union-comparable. */
  private def kmvKOf(rows: DataFrame, ctx: String): Option[Int] = {
    requireFace(rows, "kmv", ctx, "KMV sketch", "kmvKeyExpr")
    val ks = rows.where(col("kmv").isNotNull)
      .select(col("kmvk")).distinct().collect().map(_.getInt(0))
    require(ks.length <= 1,
      s"mixed kmvK in sidecar at $ctx: ${ks.mkString(",")}")
    ks.headOption
  }

  /** The rows' sketches merged per key: `(keys, batches, kmv)`, with
    * their common k. */
  private def kmvOfRows(rows: DataFrame, keys: Seq[Column],
                        ctx: String): (DataFrame, Int) = {
    val k = kmvKOf(rows, ctx)
    require(k.nonEmpty,
      s"sidecar at $ctx has a kmv column but no non-null KMV rows — " +
        "nothing was ever appended with kmvKeyExpr set")
    (rows.groupBy(keys: _*)
      .agg(count(lit(1)).as("batches"), kmvMerged(k.get)), k.get)
  }

  /** Merged KMV distinct-count estimate — the bottom-k analog of
    * [[servedDistinct]], same O(rows) serve cost: one row `(batches,
    * distinct_estimate)` per scope answer, EXACT below k (the merged
    * sketch then holds every distinct hash), rse ≈ 1/sqrt(kmvK−2) at k,
    * on each answer's own scale (the corpus, each group, the window).
    */
  def servedKmvDistinct(spark: SparkSession, sidecarPath: String,
                        scope: Scope = Scope.Whole): DataFrame =
    serve(read(spark, sidecarPath), sidecarPath, scope) { (rows, keys, _) =>
      val (merged, k) = kmvOfRows(rows, keys, sidecarPath)
      val estimate = udf((kmv: Seq[Long]) => kmvEstimate(kmv.toArray, k))
      merged.withColumn("distinct_estimate", estimate(col("kmv")))
        .drop("kmv")
    }

  /** Dataset-overlap estimates from two KMV sidecars — the question two
    * 100 TB corpora cannot afford to answer by scanning: how much does
    * corpus B overlap corpus A (snapshot-to-snapshot drift, crawl-vs-
    * training-set contamination)? Serve cost is O(#rows·k) with k longs
    * of driver state per side and answer; the corpora are never
    * touched.
    *
    * One row per scope answer: `(a_est, b_est, union_est, jaccard,
    * inter_est, a_only_est, b_only_est)` — the full set algebra: sizes,
    * union, Jaccard, intersection and both differences (new-content and
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
    * union-comparable — fails loudly). Scopes:
    *   - [[Scope.Whole]]: the two corpora;
    *   - [[Scope.PerGroup]]: the contamination-pricing dashboard by
    *     source/language/domain ("how much of domain D's crawl is
    *     already in the training set"), one `grp`-keyed row per group
    *     present on either side, each group's bounds the single-pair
    *     bounds on its OWN scale (each group has its own full-k sketch).
    *     A group absent from one side gets that side's empty sketch: its
    *     estimates are exact zeros and the overlap is 0 — "nothing of D
    *     is in the training set" is an answer, not an error;
    *   - [[Scope.Window]]: both sidecars' rows of the requested groups,
    *     with `a_groups_covered`/`b_groups_covered`.
    */
  def servedOverlap(spark: SparkSession, sidecarPathA: String,
                    sidecarPathB: String,
                    scope: Scope = Scope.Whole): DataFrame =
    overlapOf(spark, sidecarPathA -> scope, sidecarPathB -> scope)

  /** Set algebra BETWEEN two group-windows of ONE grouped KMV sidecar —
    * the sketch-served form of "how many of this week's users were also
    * active last week": [[servedOverlap]] with side A the
    * `Window(groupsA)` rows and side B the `Window(groupsB)` rows. One
    * row `(a_groups_covered, b_groups_covered, a_est, b_est, union_est,
    * jaccard, inter_est, a_only_est, b_only_est)` — returning users =
    * inter, churned = a_only, new = b_only — from O(rows-in-range) work,
    * never an events re-scan. Windows may overlap or be disjoint; a
    * window with no covered rows has an empty (exact) sketch; both
    * empty refuses. Estimator bounds are [[servedOverlap]]'s verbatim.
    */
  def servedOverlapBetweenWindows(spark: SparkSession, sidecarPath: String,
                                  groupsA: Seq[String],
                                  groupsB: Seq[String]): DataFrame =
    overlapOf(spark, sidecarPath -> Scope.Window(groupsA),
      sidecarPath -> Scope.Window(groupsB))

  private def overlapOf(spark: SparkSession, a: (String, Scope),
                        b: (String, Scope)): DataFrame = {
    // one side's merged sketches by group (null under no key), its k —
    // None for a window that covered no rows (an empty, exact sketch) —
    // and a window's coverage
    def side(path: String, scope: Scope)
        : (Map[String, Array[Long]], Option[Int], Option[Long]) = {
      val (rows, keys) = scoped(read(spark, path), path, scope)
      val cov = scope match {
        case _: Scope.Window =>
          Some(rows.agg(coveredAgg).collect().head.getLong(0))
        case _ => None
      }
      if (cov.contains(0L)) (Map.empty, None, cov)
      else {
        val (merged, k) = kmvOfRows(rows, keys, path)
        (merged.collect().map { r =>
          (if (keys.isEmpty) null else r.getAs[String]("grp")) ->
            r.getAs[Seq[Long]]("kmv").toArray
        }.toMap, Some(k), cov)
      }
    }
    val (sa, ka, ca) = side(a._1, a._2)
    val (sb, kb, cb) = side(b._1, b._2)
    require(ka.nonEmpty || kb.nonEmpty,
      "neither window covered any sidecar rows")
    require(ka.isEmpty || kb.isEmpty || ka == kb,
      s"kmvK mismatch: ${ka.getOrElse(0)} vs ${kb.getOrElse(0)} — " +
        "sketches of different k are not union-comparable")
    import spark.implicits._
    // sort through Option: a null group key (null groupKeyExpr values
    // are a real group) must order, not NPE
    val stats = (sa.keySet ++ sb.keySet).toSeq.sortBy(Option(_))
      .map { g =>
        val s = overlapStats(sa.getOrElse(g, Array.emptyLongArray),
          sb.getOrElse(g, Array.emptyLongArray), ka.orElse(kb).get)
        (g, s._1, s._2, s._3, s._4, s._5, s._6, s._7)
      }
      .toDF("grp", "a_est", "b_est", "union_est", "jaccard", "inter_est",
        "a_only_est", "b_only_est")
    val coverage = Seq("a" -> ca, "b" -> cb).collect {
      case (p, Some(c)) => lit(c).as(s"${p}_groups_covered")
    }
    stats.select(coverage ++ stats.columns
      .filter(c => c != "grp" || a._2 == Scope.PerGroup).map(col): _*)
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

  /** The one CMS merge: cell-wise [[CmsMerge]] of the rows' sketches. */
  private def cmsMerged: Column =
    udaf(new CmsMerge, org.apache.spark.sql.Encoders.BINARY)(col("cms"))
      .as("cms")

  /** The union of the rows' Misra-Gries candidate keys (≤ #rows·topK —
    * bounded metadata). */
  private def candidates: Column =
    array_distinct(flatten(collect_list(col("topk.key")))).as("cands")

  /** The one candidate pricing: every merged candidate (`cands`) priced
    * against the merged sketch (`cms`), as `(key, est)` structs heaviest
    * first, ties by key. The lookup deserializes the sketch per
    * candidate — acceptable at candidate scale and kept out of every
    * corpus-sized plan. */
  private def pricedCandidates: Column = {
    val estimate = udf((bytes: Array[Byte], key: String) =>
      org.apache.spark.util.sketch.CountMinSketch.readFrom(bytes)
        .estimateCount(key))
    transform(
      array_sort(transform(col("cands"), c =>
        struct((-estimate(col("cms"), c)).as("neg"), c.as("key")))),
      s => struct(s.getField("key").as("key"),
        (-s.getField("neg")).as("est")))
  }

  /** Heavy hitters served from the sidecar: every key whose estimated
    * count reaches `phi` of its answer's total N, with its estimate and
    * that total — `(key, est, total)` per scope answer, heaviest first.
    *
    * Mechanics: the answer's CMS rows merge cell-wise ([[CmsMerge]])
    * into ONE sketch; the candidate set is the union of its rows'
    * Misra-Gries summaries (computed inside the batches' single-scan
    * aggregation); each candidate is priced against the merged sketch.
    * Guarantees, all enforced by the `q_heavy_hitters_gap`,
    * `q_heavy_hitters_by_group_gap` and `q_hh_window_gap` twins:
    *   - completeness: every key with true share ≥ phi is served
    *     (provable when phi ≥ 1/topK — see [[Cfg.topK]]);
    *   - no under-count: est ≥ true count, always (CMS takes a MIN over
    *     hashed counters that only ever over-count);
    *   - bounded over-count: est ≤ true + cmsEps·N at cmsConfidence
    *     per key — deterministic at a fixed seed;
    *   - soundness: a served key's true share is ≥ phi − cmsEps.
    * N and the shares are on the answer's own scale:
    *   - [[Scope.Whole]]: the corpus ("which sources/domains/languages
    *     dominate the corpus");
    *   - [[Scope.PerGroup]]: each group's ("which languages dominate
    *     each source"): each group's CMS rows aggregate only that
    *     group's slices (over-count ≤ cmsEps·N_g), and a group-φ-heavy
    *     key has share ≥ φ in at least one of the group's (batch, group)
    *     slices, so it enters that slice's candidates whenever
    *     `topK ≥ 1/φ` — the [[Cfg.topK]] argument with "batch" read as
    *     "slice";
    *   - [[Scope.Window]]: the window's ("which keys dominated THIS date
    *     range") — the same argument over the covered slices.
    */
  def servedHeavyHitters(spark: SparkSession, sidecarPath: String,
                         phi: Double,
                         scope: Scope = Scope.Whole): DataFrame = {
    require(phi > 0.0 && phi <= 1.0, s"phi=$phi")
    serve(read(spark, sidecarPath), sidecarPath, scope) { (rows, keys, _) =>
      rows.groupBy(keys: _*)
        .agg(cmsMerged, sum(col("n")).as("total"), candidates)
        .select(keys ++ Seq(explode(pricedCandidates).as("kv"),
          col("total")): _*)
        .select(keys ++ Seq(col("kv.key").as("key"), col("kv.est").as("est"),
          col("total")): _*)
        .where(col("est") >= col("total") * phi)
        .orderBy(keys ++ Seq(col("est").desc, col("key")): _*)
    }
  }

  /** Key-skew diagnosis from the CMS sidecar alone — "does this join/
    * group key need salting?" answered without scanning the corpus: the
    * merged sketch's inner product WITH ITSELF estimates the second
    * frequency moment F2 = Σ_k cnt(k)² (never under, over by ≤
    * 2·N²/width at the [[servedJoinSize]] confidence), and F2 pins the
    * skew measures a partitioner plans by:
    *   - `l2_l1_ratio` = √F2/N ∈ (0, 1] — 1/√distinct for a uniform
    *     column, → 1 as one key dominates;
    *   - `top_share_ub` = max priced-candidate estimate / N — at least
    *     the heaviest candidate's true share since CMS only over-counts
    *     — with `top_share_lb` subtracting the point-query slack
    *     (cmsEps): the heaviest key's share, bracketed (completeness of
    *     the candidate set per [[Cfg.topK]]);
    *   - `uniform_equiv_keys` = N²/F2 — the "effective key count": the
    *     number of EQUALLY-LOADED keys that would produce this F2, so
    *     a 10^9-distinct column with uniform_equiv_keys ≈ 40 tells the
    *     planner it hashes like 40 keys and WILL hotspot without
    *     salting.
    * One row `(n, f2_est, f2_bound, l2_l1_ratio, uniform_equiv_keys,
    * top_share_lb, top_share_ub)` per scope answer, every guarantee on
    * the answer's own scale. A [[Scope.Whole]] or [[Scope.Window]]
    * answer whose CMS saw no keys (every batch empty or all-null
    * heavyKeyExpr) REFUSES loudly — skew of an empty key column is not a
    * number; [[Scope.PerGroup]] ("WHICH domain's key column is skewed")
    * OMITS such groups, since a monitoring row of NaNs would read as an
    * answer. Serve cost: one O(#rows) sidecar merge + a depth·width
    * driver pass per answer (~160 KB per parsed sketch at the default
    * eps/confidence, times the operator-bounded group dimension).
    */
  def servedKeySkew(spark: SparkSession, sidecarPath: String,
                    scope: Scope = Scope.Whole): DataFrame = {
    import spark.implicits._
    serve(read(spark, sidecarPath), sidecarPath, scope) { (rows, keys, _) =>
      requireFace(rows, "cms", sidecarPath, "CMS face", "heavyKeyExpr")
      val merged = rows.where(col("cms").isNotNull).groupBy(keys: _*)
        .agg(cmsMerged, candidates)
        .select(keys ++ Seq(col("cms"),
          try_element_at(pricedCandidates, lit(1)).getField("est")
            .as("top")): _*)
        .collect()
      val stats = merged.toSeq.flatMap { r =>
        val bytes = r.getAs[Array[Byte]]("cms")
        if (keys.isEmpty) require(bytes != null,
          s"sidecar at $sidecarPath has a cms column but no non-null rows")
        val m = parseCms(bytes)
        if (keys.isEmpty) require(m.total > 0,
          s"sidecar at $sidecarPath saw no CMS keys (every batch empty or " +
            "all-null heavyKeyExpr) — skew of an empty key column is not " +
            "a number; gate on n before asking")
        val top = Option(r.getAs[java.lang.Long]("top")).fold(0L)(_.longValue)
        Option.when(m.total > 0) {
          val s = skewStats(m, top)
          (if (keys.isEmpty) null else r.getAs[String]("grp"),
            s._1, s._2, s._3, s._4, s._5, s._6, s._7)
        }
      }
      val out = stats.sortBy(t => Option(t._1))
        .toDF("grp", "n", "f2_est", "f2_bound", "l2_l1_ratio",
          "uniform_equiv_keys", "top_share_lb", "top_share_ub")
      if (keys.isEmpty) out.drop("grp") else out
    }
  }

  /** The CMS self inner product (min over rows of Σ c²) — the F2
    * estimator of [[servedKeySkew]]. Double accumulation: the long form
    * overflows at the corpus sizes these serves target (see
    * [[servedJoinSize]]).
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
    * candidate.
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
    def merged(path: String): ParsedCms = {
      val rows = read(spark, path)
      requireFace(rows, "cms", path, "CMS face", "heavyKeyExpr")
      val bytes = rows.agg(cmsMerged).collect().head.getAs[Array[Byte]](0)
      require(bytes != null,
        s"sidecar at $path has a cms column but no non-null rows")
      parseCms(bytes)
    }
    val a = merged(sidecarPathA)
    val b = merged(sidecarPathB)
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
}
