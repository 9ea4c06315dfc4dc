package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Trained discriminative quality classifier — the fasttext-shaped linear
  * model every production corpus pipeline eventually distills its
  * heuristic gate chain into (CCNet trains against Wikipedia, GPT-3's
  * WebText classifier against curated pages, FineWeb-Edu against LLM
  * labels; Joulin et al. 2017, "Bag of tricks for efficient text
  * classification"). The engine already scores documents with GENERATIVE
  * models ([[Lm]] perplexity, [[Dsir]] likelihood ratios); this is the
  * discriminative third leg: logistic regression over hashed bag-of-token
  * features, TRAINED inside the plan — weights live in a bounded
  * DataFrame, every gradient step is joins + grouped sums, no driver-side
  * model beyond the loop counter.
  *
  * Features per document (all deterministic, engine-standard
  * lower+trim+`\s+` tokens):
  *  - hashed unigram counts, log-damped (`1 + ln(count)` — the standard
  *    sublinear tf), feature id `xxhash64(token) mod buckets`;
  *  - an always-on bias feature (id −1, x = 1);
  *  - a length feature (id −2, x = min(n_tokens/64, 4)) so length-gated
  *    labels stay linearly separable — hashed presence alone encodes
  *    length only diffusely.
  *
  * Training is full-batch gradient descent with a FIXED iteration count
  * (the [[Graph.pageRank]] convention: result is a pure function of the
  * input, no convergence round-trips). Per round:
  *
  *   z_d = Σ_f x_{d,f}·w_f,   r_d = σ(z_d) − y_d,
  *   w'_f = w_f·(1 − lr·l2) − lr·(Σ_d r_d·x_{d,f}) / n
  *
  * Scale shape: the weight table is bounded at `buckets`+2 rows no matter
  * the corpus, so it rides every round as a BROADCAST join against the
  * feature stream; the two per-round shuffles (score agg on doc, gradient
  * agg on feature) are both map-side combined. The feature stream is
  * persisted once and reused by all rounds. At 100 TB you train on a
  * sampled slice (a classifier needs ~10⁵–10⁶ labeled docs, not the
  * corpus — [[Sampling.hashSplit]] gives the reproducible sample) and
  * SCORE the full corpus with [[scoreLogReg]], which is one broadcast
  * join + one grouped sum per document: embarrassingly parallel.
  *
  * The trained model is approximate by nature (hash collisions, finite
  * iterations), so driver queries price it with an [[auc]] quality twin
  * under a documented floor rather than a value oracle; [[auc]] and
  * [[prCurve]] themselves are exact integer-arithmetic operators with
  * cross-engine hash oracles.
  */
object Classifier {

  private def toks(textCol: Column): Column =
    filter(split(lower(trim(textCol)), "\\s+"), t => t =!= "")

  private def guard(df: DataFrame, idCol: String): Unit = {
    require(!df.columns.exists(_.startsWith("__cl_")),
      "input already carries __cl_-prefixed internals")
    require(!Seq("f", "x", "w", "z", "p").contains(idCol),
      s"idCol '$idCol' collides with a Classifier internal/output column")
  }

  /** Feature stream (id, f, x) for the document set — one row per
    * (document, distinct feature). Bounded feature space: `buckets`
    * hashed-unigram ids plus the two reserved ids −1 (bias) and −2
    * (length).
    *
    * Plan shape: the TEXT column is scanned exactly once (the expensive
    * read at corpus scale); the bias/length rows derive from the
    * already-aggregated token counts (doc length = Σ counts) plus an
    * id-only scan so empty/whitespace docs still carry bias and a zero
    * length — parquet prunes that second scan to the id column.
    */
  def features(df: DataFrame, idCol: String, textCol: String,
               buckets: Int): DataFrame = {
    guard(df, idCol)
    require(buckets >= 2, s"buckets must be >= 2, got $buckets")
    val cnts = df
      .select(col(idCol), explode(toks(col(textCol))).as("__cl_t"))
      .groupBy(col(idCol),
        pmod(xxhash64(col("__cl_t")), lit(buckets.toLong)).as("f"))
      .agg(count(lit(1)).as("__cl_c"))
    val tok = cnts.select(col(idCol), col("f"),
      (lit(1.0) + log(col("__cl_c").cast("double"))).as("x"))
    val lens = df.select(col(idCol))
      .join(cnts.groupBy(idCol).agg(sum("__cl_c").as("__cl_n")),
        Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("__cl_n"), lit(0L)).cast("double").as("__cl_n"))
    val biasLen = lens.select(col(idCol),
        explode(array(
          struct(lit(-1L).as("f"), lit(1.0).as("x")),
          struct(lit(-2L).as("f"),
            least(col("__cl_n") / 64.0, lit(4.0)).as("x")))).as("__cl_bl"))
      .select(col(idCol), col("__cl_bl.f").as("f"), col("__cl_bl.x").as("x"))
    tok.unionByName(biasLen)
  }

  /** Train logistic-regression weights on `df` with binary labels in
    * `labelCol` (castable to double, 0.0/1.0). Returns the model as a
    * (f, w) frame — bounded at `buckets` + 2 rows, ready to broadcast
    * into [[scoreLogReg]]. The same `buckets` MUST be passed to scoring;
    * weights are meaningless under a different hash width.
    */
  def trainLogReg(df: DataFrame, idCol: String, textCol: String,
                  labelCol: String, buckets: Int = 4096,
                  iterations: Int = 30, lr: Double = 0.5,
                  l2: Double = 1e-4): DataFrame = {
    guard(df, idCol)
    require(iterations >= 1 && iterations <= 500,
      s"iterations must be in [1, 500], got $iterations")
    require(lr > 0.0, s"lr must be positive, got $lr")
    require(l2 >= 0.0, s"l2 must be non-negative, got $l2")
    val feats = features(df, idCol, textCol, buckets)
      .persist(StorageLevel.MEMORY_AND_DISK)
    val labels = df.select(col(idCol),
      col(labelCol).cast("double").as("__cl_y"))
    val n = labels.count() // the one driver scalar, as in Graph.pageRank
    require(n > 0, "trainLogReg needs at least one labeled row")
    var w = feats.select("f").distinct()
      .withColumn("w", lit(0.0)).localCheckpoint(true)
    var prev: DataFrame = w
    for (_ <- 1 to iterations) {
      val scores = feats.join(broadcast(w), "f")
        .groupBy(idCol).agg(sum(col("x") * col("w")).as("z"))
      val resid = labels.join(scores, idCol)
        .select(col(idCol),
          (lit(1.0) / (lit(1.0) + exp(-col("z"))) - col("__cl_y"))
            .as("__cl_r"))
      val grad = feats.join(resid, idCol)
        .groupBy("f").agg((sum(col("x") * col("__cl_r")) / n).as("__cl_g"))
      val next = w.join(grad, Seq("f"), "left")
        .select(col("f"),
          (col("w") * (1.0 - lr * l2) -
            lit(lr) * coalesce(col("__cl_g"), lit(0.0))).as("w"))
        .localCheckpoint(true)
      org.apache.spark.sql.GraftBridge.unpersistCheckpoint(prev)
      prev = next
      w = next
    }
    feats.unpersist(false)
    w
  }

  /** Score every row of `df` under trained `weights`: input columns plus
    * (z, p). One broadcast join + one grouped sum — no iteration, the
    * full-corpus path.
    */
  def scoreLogReg(df: DataFrame, idCol: String, textCol: String,
                  weights: DataFrame, buckets: Int = 4096): DataFrame = {
    guard(df, idCol)
    require(!df.columns.contains("z") && !df.columns.contains("p"),
      "input already has a z/p column")
    val scores = features(df, idCol, textCol, buckets)
      .join(broadcast(weights), "f")
      .groupBy(idCol).agg(sum(col("x") * col("w")).as("z"))
    df.join(scores, Seq(idCol), "left")
      .withColumn("z", coalesce(col("z"), lit(0.0)))
      .withColumn("p", lit(1.0) / (lit(1.0) + exp(-col("z"))))
  }

  /** Freeze a trained model as a parquet sidecar (the
    * `writeDsirIndex`/`writeLmIndex` convention): bounded weight table
    * plus a 1-row meta frame carrying the hash width, so scoring can
    * never silently run under a different `buckets` than training.
    */
  def writeLrModel(weights: DataFrame, buckets: Int, path: String): Unit = {
    require(Seq("f", "w").forall(weights.columns.contains),
      s"weights must be a (f, w) frame, got ${weights.columns.toSeq}")
    weights.coalesce(1).write.mode("overwrite").parquet(s"$path/weights")
    val spark = weights.sparkSession
    import spark.implicits._
    Seq(buckets).toDF("buckets").coalesce(1)
      .write.mode("overwrite").parquet(s"$path/meta")
  }

  /** Score a fresh batch against a FROZEN model sidecar — exactly
    * [[scoreLogReg]] with the weight table read back and the hash width
    * taken from the sidecar's meta, the corpus-loop serving path.
    */
  def scoreAgainstModel(df: DataFrame, idCol: String, textCol: String,
                        path: String): DataFrame = {
    val spark = df.sparkSession
    val buckets = graft.sources.SidecarCache.memo(spark, s"$path/meta",
      "classifier")(spark.read.parquet(s"$path/meta").collect().head.getInt(0))
    scoreLogReg(df, idCol, textCol,
      spark.read.parquet(s"$path/weights"), buckets)
  }

  /** Exact ROC AUC of `scoreCol` against binary `labelCol`, one row
    * (n_pos, n_neg, auc) — the Mann-Whitney rank statistic computed the
    * scale-safe way: scores collapse to a DISTINCT-score histogram first
    * (one grouped agg over the corpus), and the single-partition window
    * runs over that bounded table, never the rows. Ties get the standard
    * midrank treatment. All arithmetic until the final division is exact
    * longs (auc = Σ_s pos_s·(2·cumneg_s + neg_s) / (2·n_pos·n_neg)), so
    * the value is bit-reproducible cross-engine — an oracle-checkable
    * evaluation operator, unlike the model it usually grades.
    */
  def auc(df: DataFrame, scoreCol: String, labelCol: String): DataFrame = {
    val y = col(labelCol).cast("double")
    val hist = df.groupBy(col(scoreCol).as("__cl_s"))
      .agg(sum(when(y === 1.0, 1L).otherwise(0L)).as("__cl_p"),
        sum(when(y === 1.0, 0L).otherwise(1L)).as("__cl_n"))
    val win = org.apache.spark.sql.expressions.Window
      .orderBy("__cl_s")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    hist
      .select(col("__cl_p"), col("__cl_n"),
        coalesce(sum("__cl_n").over(win), lit(0L)).as("__cl_cumn"))
      .agg(sum("__cl_p").as("n_pos"), sum("__cl_n").as("n_neg"),
        sum(col("__cl_p") * (lit(2L) * col("__cl_cumn") + col("__cl_n")))
          .as("__cl_num2"))
      .select(col("n_pos"), col("n_neg"),
        round(col("__cl_num2").cast("double") /
          (lit(2.0) * col("n_pos") * col("n_neg")), 6).as("auc"))
  }

  /** Precision/recall curve: one row per distinct score threshold
    * (classify positive when score >= threshold), descending —
    * (threshold, tp, fp, precision, recall, f1). Same histogram shape as
    * [[auc]]: the window runs over distinct scores, counts stay exact
    * longs, ratios round at 6 — hash-stable cross-engine.
    */
  def prCurve(df: DataFrame, scoreCol: String, labelCol: String): DataFrame = {
    val y = col(labelCol).cast("double")
    val hist = df.groupBy(col(scoreCol).as("threshold"))
      .agg(sum(when(y === 1.0, 1L).otherwise(0L)).as("__cl_p"),
        sum(when(y === 1.0, 0L).otherwise(1L)).as("__cl_n"))
    val desc = org.apache.spark.sql.expressions.Window
      .orderBy(col("threshold").desc)
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    // total positives ride the plan as a 1-row cross join (the
    // Sampling.temperatureTake scalar-total move) — no driver collect
    val totals = hist.agg(sum("__cl_p").as("__cl_np"))
    hist
      .select(col("threshold"),
        sum("__cl_p").over(desc).as("tp"), sum("__cl_n").over(desc).as("fp"))
      .crossJoin(totals)
      .select(col("threshold"), col("tp"), col("fp"),
        round(col("tp").cast("double") / (col("tp") + col("fp")), 6)
          .as("precision"),
        round(col("tp").cast("double") / col("__cl_np"), 6).as("recall"),
        round(lit(2.0) * col("tp") /
          (lit(2.0) * col("tp") + col("fp") + (col("__cl_np") - col("tp"))), 6)
          .as("f1"))
  }
}
