package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Statistical language-model quality scoring — the CCNet/CC-100 move
  * (Wenzek et al. 2020): score every document's perplexity under an n-gram
  * LM and gate on it, the filter that separates fluent text from word-soup
  * spam better than any single heuristic ratio. Here the LM is an add-one
  * smoothed BIGRAM model trained on the corpus itself (self-perplexity —
  * outlier documents score high against the corpus's own statistics); a
  * curated reference corpus slots in by passing it as `train`.
  *
  * Spark shape, end to end in joins — no driver-side model object:
  *  - tokenize once per doc (the engine's standard lower+trim+`\s+` split,
  *    identical to the TF-IDF and repetition operators, so the DuckDB twin
  *    reuses proven tokenization SQL);
  *  - bigram counts c(prev, w) and context totals c(prev) are two grouped
  *    aggregations with map-side partial combine — by Heaps' law the count
  *    tables grow sublinearly in the corpus, and Catalyst broadcasts them
  *    when small (document-scale joins otherwise);
  *  - per-doc score joins each document's bigram stream against the count
  *    tables and averages log-probabilities: one narrow explode + two
  *    equi-joins + one keyed aggregation.
  *
  * p(w|prev) = (c(prev,w) + 1) / (c(prev) + |V|); perplexity =
  * exp(−mean ln p). Unseen-in-training bigrams of SCORED docs degrade to
  * the smoothing floor via left joins (count 0), so scoring a fresh batch
  * against a frozen training corpus is the same plan.
  */
object Lm {

  private def toks(textCol: Column): Column =
    filter(split(lower(trim(textCol)), "\\s+"), t => t =!= "")

  /** The (prev, next) bigram stream of a STAGED token-array column —
    * staged because lambda-referenced expressions re-evaluate per element.
    */
  private def bigrams(w: Column): Column =
    transform(sequence(lit(1), size(w) - 1),
      i => struct(element_at(w, i).as("p"), element_at(w, i + 1).as("n")))

  /** Per-document bigram perplexity of `docs` under an add-one smoothed
    * bigram LM estimated from `train` (pass `docs` itself for
    * self-perplexity). Documents with fewer than two tokens carry no
    * bigram evidence and are omitted — a gate treats absent ids by policy,
    * not by a fabricated score. Returns (idCol, n_bigrams, ppl).
    */
  private def guard(docs: DataFrame, idCol: String): Unit = {
    // house rule (cf. Keywords/Contamination): internal names fail loudly
    // instead of silently colliding with user columns
    require(!docs.columns.exists(_.startsWith("__lm_")),
      "input already carries __lm_-prefixed internals")
    require(!Seq("p", "n", "bg", "cbn", "cpn", "vocab", "lp",
        "n_bigrams", "ppl") // the last two are OUTPUT columns — an idCol
      .contains(idCol),     // named like them would duplicate silently
      s"idCol '$idCol' collides with an Lm internal or output column name")
  }

  private def stream(df: DataFrame, textCol: String,
                     cols: Column*): DataFrame = df
    .withColumn("__lm_w", toks(col(textCol)))
    .where(size(col("__lm_w")) >= 2)
    .select((explode(bigrams(col("__lm_w"))).as("bg") +: cols): _*)
    .select((col("bg.p").as("p") +: col("bg.n").as("n") +: cols): _*)

  /** The trained model as three frames: bigram counts (p, n, cbn),
    * context totals (p, cpn), vocabulary size (1 row).
    */
  private def fit(train: DataFrame,
                  textCol: String): (DataFrame, DataFrame, DataFrame) = {
    val cb = stream(train, textCol).groupBy("p", "n")
      .agg(count(lit(1)).as("cbn"))
    val cp = cb.groupBy("p").agg(sum("cbn").as("cpn"))
    // vocabulary = distinct tokens of the TRAINING stream (both positions
    // — the first token of each doc appears only as a context)
    val v = cb.select(col("p").as("w")).union(cb.select(col("n").as("w")))
      .distinct().agg(count(lit(1)).as("vocab"))
    (cb, cp, v)
  }

  private def score(docs: DataFrame, idCol: String, textCol: String,
                    cb: DataFrame, cp: DataFrame, v: DataFrame): DataFrame =
    stream(docs, textCol, col(idCol))
      .join(cb, Seq("p", "n"), "left")
      .join(cp, Seq("p"), "left")
      .crossJoin(v)
      .select(col(idCol),
        log((coalesce(col("cbn"), lit(0L)) + 1.0) /
          (coalesce(col("cpn"), lit(0L)) + col("vocab"))).as("lp"))
      .groupBy(idCol)
      .agg(count(lit(1)).as("n_bigrams"),
        round(exp(-avg(col("lp"))), 4).as("ppl"))

  def bigramPerplexity(docs: DataFrame, train: DataFrame, idCol: String,
                       textCol: String): DataFrame = {
    guard(docs, idCol)
    require(!train.columns.exists(_.startsWith("__lm_")),
      "train already carries __lm_-prefixed internals")
    val (cb, cp, v) = fit(train, textCol)
    score(docs, idCol, textCol, cb, cp, v)
  }

  /** The (u, v, w) trigram stream of a staged token-array column. */
  private def trigrams(w: Column): Column =
    transform(sequence(lit(1), size(w) - 2),
      i => struct(element_at(w, i).as("u"), element_at(w, i + 1).as("v"),
        element_at(w, i + 2).as("w")))

  /** Per-document perplexity under an INTERPOLATED trigram LM (Jelinek–
    * Mercer): p(w|u,v) = λ3·p3(w|u,v) + λ2·p2(w|v) + λ1·p1(w), each term
    * add-one smoothed — the next rung up from [[bigramPerplexity]] on the
    * CCNet ladder (a pure trigram model would zero out on every unseen
    * history; interpolation backs off gracefully, which is what makes
    * trigram LMs usable as corpus-quality gates).
    *
    * All count tables derive from the full token stream of `train` in
    * three grouped aggregations (unigram/bigram/trigram — each map-side
    * combined, sublinear by Heaps' law); scoring is one explode plus five
    * left equi-joins against them. No driver-side model state. Documents
    * with fewer than three tokens carry no trigram evidence and are
    * omitted (same policy as the bigram scorer). The interpolation is a
    * fixed-association expression, deterministic cross-engine. Returns
    * (idCol, n_trigrams, ppl).
    */
  def trigramPerplexity(docs: DataFrame, train: DataFrame, idCol: String,
                        textCol: String, l3: Double = 0.6, l2: Double = 0.3,
                        l1: Double = 0.1): DataFrame = {
    guard(docs, idCol)
    require(!train.columns.exists(_.startsWith("__lm_")),
      "train already carries __lm_-prefixed internals")
    require(!Seq("u", "v", "w", "tg", "n_trigrams").contains(idCol),
      s"idCol '$idCol' collides with an Lm trigram internal column name")
    // token stream of the training corpus — every count table hangs off it
    val tw = train.withColumn("__lm_w", toks(col(textCol)))
    val uni = tw.select(explode(col("__lm_w")).as("w"))
      .groupBy("w").agg(count(lit(1)).as("c1"))
    val totals = uni.agg(sum("c1").as("n_tokens"),
      count(lit(1)).as("vocab"))
    val bi = tw.where(size(col("__lm_w")) >= 2)
      .select(explode(bigrams(col("__lm_w"))).as("bg"))
      .select(col("bg.p").as("v"), col("bg.n").as("w"))
      .groupBy("v", "w").agg(count(lit(1)).as("c2"))
    val biCtx = bi.groupBy("v").agg(sum("c2").as("c2ctx"))
    val tri = tw.where(size(col("__lm_w")) >= 3)
      .select(explode(trigrams(col("__lm_w"))).as("tg"))
      .select(col("tg.u").as("u"), col("tg.v").as("v"), col("tg.w").as("w"))
      .groupBy("u", "v", "w").agg(count(lit(1)).as("c3"))
    val triCtx = tri.groupBy("u", "v").agg(sum("c3").as("c3ctx"))
    docs.withColumn("__lm_w", toks(col(textCol)))
      .where(size(col("__lm_w")) >= 3)
      .select(explode(trigrams(col("__lm_w"))).as("tg"), col(idCol))
      .select(col("tg.u").as("u"), col("tg.v").as("v"), col("tg.w").as("w"),
        col(idCol))
      .join(tri, Seq("u", "v", "w"), "left")
      .join(triCtx, Seq("u", "v"), "left")
      .join(bi, Seq("v", "w"), "left")
      .join(biCtx, Seq("v"), "left")
      .join(uni, Seq("w"), "left")
      .crossJoin(broadcast(totals))
      .select(col(idCol),
        log(lit(l3) * ((coalesce(col("c3"), lit(0L)) + 1.0) /
              (coalesce(col("c3ctx"), lit(0L)) + col("vocab"))) +
            lit(l2) * ((coalesce(col("c2"), lit(0L)) + 1.0) /
              (coalesce(col("c2ctx"), lit(0L)) + col("vocab"))) +
            lit(l1) * ((coalesce(col("c1"), lit(0L)) + 1.0) /
              (col("n_tokens") + col("vocab")))).as("lp"))
      .groupBy(idCol)
      .agg(count(lit(1)).as("n_trigrams"),
        round(exp(-avg(col("lp"))), 4).as("ppl"))
  }

  /** Materialize the trained bigram LM as an index sidecar — the
    * [[Dedup.writeMinhashIndex]] / [[CellIndex.write]] pattern
    * applied to the LM: count tables (sublinear in the corpus by Heaps'
    * law) written once, so a corpus-builder loop gates every batch
    * against a FROZEN reference model without retraining. Layout:
    * `bigrams` (p, n, cbn), `contexts` (p, cpn), `vocab` (1 row).
    */
  def writeLmIndex(train: DataFrame, textCol: String, path: String): Unit = {
    val (cb, cp, v) = fit(train, textCol)
    cb.write.mode("overwrite").parquet(s"$path/bigrams")
    cp.write.mode("overwrite").parquet(s"$path/contexts")
    v.coalesce(1).write.mode("overwrite").parquet(s"$path/vocab")
  }

  /** Score documents against a FROZEN materialized LM — the exact
    * [[bigramPerplexity]] plan with the training aggregations replaced by
    * sidecar reads; unseen bigrams hit the add-one smoothing floor via
    * the same left joins. Cost per batch: the batch's own bigram stream
    * plus two equi-joins against the count tables.
    */
  def perplexityAgainstIndex(docs: DataFrame, idCol: String,
                             textCol: String, path: String): DataFrame = {
    guard(docs, idCol)
    val spark = docs.sparkSession
    score(docs, idCol, textCol,
      spark.read.parquet(s"$path/bigrams"),
      spark.read.parquet(s"$path/contexts"),
      spark.read.parquet(s"$path/vocab"))
  }
}
