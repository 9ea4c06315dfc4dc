package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Corpus-distribution divergence — the domain-shift measurement every
  * data-mixing decision leans on: how far apart are two corpus slices as
  * unigram token distributions (KL both directions + the symmetric,
  * bounded Jensen-Shannon), and WHICH tokens drive the gap. This is the
  * diagnostic companion to [[Dsir]] (which acts on the ratio per
  * document) and [[Sampling]]'s mixing operators (which need to know how
  * different the strata actually are before choosing temperatures).
  *
  * Both distributions are add-one smoothed over the UNION vocabulary
  * (p̂(t) = (c(t)+1)/(N+V) — the [[Lm]]/[[Dsir]] convention), so the
  * divergences are finite even on disjoint vocabularies.
  *
  * Spark shape: one tokenize+explode+count aggregation per slice
  * (map-side combined, Heaps-sublinear result), a full-outer join on the
  * token, totals as a single broadcast 1-row cross join, one final sum.
  * Nothing is collected; vocabulary scale is bounded by distinct tokens,
  * not corpus size.
  *
  * Determinism: per-token contributions are rounded to 9 decimals and
  * summed as exact decimals (the BM25-oracle convention), so the result
  * hash-matches any engine computing the same formula — float summation
  * order can't leak into the value.
  */
object Divergence {

  private def toks(textCol: Column): Column =
    filter(split(lower(trim(textCol)), "\\s+"), t => t =!= "")

  private def counts(df: DataFrame, textCol: String): DataFrame =
    df.select(explode(toks(col(textCol))).as("token"))
      .groupBy("token").agg(count(lit(1)).as("c"))

  private def decSum(c: Column): Column =
    sum(round(c, 9).cast("decimal(38,12)")).cast("double")

  /** One row: (vocab, n_a, n_b, kl_ab, kl_ba, js) for the two slices'
    * token distributions. `js` is in [0, ln 2]; 0 ⇔ identical smoothed
    * distributions.
    */
  def tokenDivergence(a: DataFrame, b: DataFrame,
                      textCol: String): DataFrame =
    divergenceOf(
      counts(a, textCol).withColumnRenamed("c", "ca")
        .join(counts(b, textCol).withColumnRenamed("c", "cb"),
          Seq("token"), "full")
        .select(col("token"), coalesce(col("ca"), lit(0L)).as("ca"),
          coalesce(col("cb"), lit(0L)).as("cb")))

  /** The divergence math over a joined (token, ca, cb) count frame. */
  private def divergenceOf(joined: DataFrame): DataFrame = {
    val totals = joined.agg(count(lit(1)).as("v"),
      sum("ca").as("na"), sum("cb").as("nb"))
    val p = (col("ca") + 1).cast("double") / (col("na") + col("v"))
    val q = (col("cb") + 1).cast("double") / (col("nb") + col("v"))
    joined.crossJoin(totals)
      .select(col("v"), col("na"), col("nb"),
        (p * log(p / q)).as("kab"), (q * log(q / p)).as("kba"),
        // JS written as ln(2p/(p+q)) — textually the oracle's form, so
        // both engines evaluate the same float expression tree before
        // the 9-decimal contribution rounding
        (p / 2.0 * log(lit(2.0) * p / (p + q)) +
          q / 2.0 * log(lit(2.0) * q / (p + q))).as("jsc"))
      .groupBy("v", "na", "nb")
      .agg(round(decSum(col("kab")), 6).as("kl_ab"),
        round(decSum(col("kba")), 6).as("kl_ba"),
        round(decSum(col("jsc")), 6).as("js"))
      .select(col("v").as("vocab"), col("na").as("n_a"), col("nb").as("n_b"),
        col("kl_ab"), col("kl_ba"), col("js"))
  }

  /** Freeze a slice's token distribution as a parquet sidecar (the
    * `writeLmIndex`/`writeDsirIndex` convention) — the reference side of
    * a drift monitor: fit once on the curated/accepted corpus, then
    * score every incoming batch against it without re-aggregating the
    * reference.
    */
  def writeReferenceCounts(df: DataFrame, textCol: String,
                           path: String): Unit =
    counts(df, textCol).write.mode("overwrite").parquet(s"$path/counts")

  /** [[tokenDivergence]] of `batch` (side a) against a FROZEN reference
    * sidecar (side b) — identical math, the reference aggregation
    * replaced by a sidecar read. Batch-only tokens smooth against the
    * reference floor exactly as unseen features do in Dsir/Lm scoring.
    */
  def divergenceAgainstReference(batch: DataFrame, textCol: String,
                                 path: String): DataFrame = {
    val ref = batch.sparkSession.read.parquet(s"$path/counts")
    val joined = counts(batch, textCol).withColumnRenamed("c", "ca")
      .join(ref.withColumnRenamed("c", "cb"), Seq("token"), "full")
      .select(col("token"), coalesce(col("ca"), lit(0L)).as("ca"),
        coalesce(col("cb"), lit(0L)).as("cb"))
    divergenceOf(joined)
  }

  /** Freeze the EMBEDDING-space reference for drift monitoring: the cell
    * occupancy histogram of an IVF index (one count per centroid cell —
    * nlist rows, bounded like the centroid sidecar itself). Written once
    * per index (re)build from a column-pruned grouped count; REWRITE it
    * after [[Similarity.reclusterIvfIndex]] (new centroids ⇒ new cell
    * space — the sidecar rides through the swap by copy but prices the
    * OLD partition of the space until refreshed).
    */
  def writeCellOccupancy(spark: org.apache.spark.sql.SparkSession,
                         indexPath: String): Unit = {
    val occ = spark.read.parquet(Similarity.cellTableDir(spark, indexPath))
      .groupBy(col("cell").cast("long").as("cell"))
      .agg(count(lit(1)).as("c"))
      .coalesce(1)
    // staged write + atomic rename, NOT a direct mode("overwrite") on the
    // live path: a crash mid-rewrite (or a concurrent monitor micro-batch
    // reading during the delete-then-write) must see the previous
    // snapshot, never a missing/partial one — the same swap discipline
    // every other sidecar rewrite in the repo follows
    graft.sources.Compaction.replace(s"$indexPath/cell_occupancy",
        "occupancy") { staging =>
      occ.write.parquet(staging.toString)
      true
    }
  }

  /** Embedding-space drift of a batch against a frozen IVF index — the
    * vector-modality companion to [[divergenceAgainstReference]]: token
    * distributions miss a drift that is textually unremarkable (a new
    * embedding model version, an out-of-domain content cluster, a
    * modality shift), but such a batch LANDS DIFFERENTLY on the index's
    * Voronoi cells. Each batch vector is assigned to its nearest
    * centroid (the same narrow in-row argmax every IVF write/append
    * uses — centroids are literal, nothing joins), the cell histogram is
    * compared against the frozen [[writeCellOccupancy]] sidecar with the
    * same smoothed KL/JS math, cells standing in for tokens. Per-batch
    * cost: one narrow scan of the batch + a join of two ≤ nlist-row
    * frames — the corpus and the index data are never touched.
    *
    * Same output row as [[tokenDivergence]] with `vocab` = number of
    * distinct cells observed on either side.
    */
  def embeddingDivergenceAgainstIndex(batch: DataFrame, vecCol: String,
                                      indexPath: String): DataFrame = {
    val spark = batch.sparkSession
    val cents = Similarity.readCentroids(spark, indexPath)
    val ref = spark.read.parquet(s"$indexPath/cell_occupancy")
    val batchCells = batch
      .select(Similarity.bestCellFor(cents)(
        graft.functions.Vectors.toDouble(col(vecCol))).as("cell"))
      .groupBy("cell").agg(count(lit(1)).as("ca"))
    val joined = batchCells
      .join(ref.withColumnRenamed("c", "cb"), Seq("cell"), "full")
      .select(col("cell").cast("string").as("token"),
        coalesce(col("ca"), lit(0L)).as("ca"),
        coalesce(col("cb"), lit(0L)).as("cb"))
    divergenceOf(joined)
  }

  /** The k tokens most over-represented in either slice: (token, c_a,
    * c_b, log_ratio) with log_ratio = ln(p̂_a/p̂_b) under the same
    * smoothing, ordered by |log_ratio| desc then token — the "what
    * changed between these corpora" report. Top-k cut is a
    * TakeOrderedAndProject, never a global sort materialization.
    */
  def topShiftedTokens(a: DataFrame, b: DataFrame, textCol: String,
                       k: Int = 20): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val joined = counts(a, textCol).withColumnRenamed("c", "ca")
      .join(counts(b, textCol).withColumnRenamed("c", "cb"),
        Seq("token"), "full")
      .select(col("token"), coalesce(col("ca"), lit(0L)).as("ca"),
        coalesce(col("cb"), lit(0L)).as("cb"))
    val totals = joined.agg(count(lit(1)).as("v"),
      sum("ca").as("na"), sum("cb").as("nb"))
    val p = (col("ca") + 1).cast("double") / (col("na") + col("v"))
    val q = (col("cb") + 1).cast("double") / (col("nb") + col("v"))
    joined.crossJoin(totals)
      .select(col("token"), col("ca").as("c_a"), col("cb").as("c_b"),
        round(log(p / q), 6).as("log_ratio"))
      .orderBy(abs(col("log_ratio")).desc, col("token"))
      .limit(k)
  }
}
