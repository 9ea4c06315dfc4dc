package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.Vectors

/** A materialized ANN index over one [[VectorCodec]]: a code table plus
  * the codec's params sidecar. Two layouts:
  *
  *  - [[FlatIndex]] — one unpartitioned table; every serve scans every
  *    code (column-pruned to id + code: the codec's bandwidth win). Right
  *    while the code table is memory-scale.
  *  - [[CellIndex]] — the table partitioned into the cells of a
  *    [[CellAssigner]] plus its geometry sidecar: Voronoi `cell`s around
  *    `centroids` (the FAISS `IVFx,<codec>` layout) or LSH
  *    `(table, bucket)`s under `meta`. A query reads only its probed cell
  *    directories through parquet PartitionFilters and only the code
  *    column within them. Codec params are GLOBAL, not per cell, so a
  *    vector's code is independent of its cells.
  *
  * Both serve the same contract: approximate candidates from the codes,
  * cut at k·oversample per query, reranked by EXACT cosine against the
  * raw vectors (the index's own for SQ/BQ, the caller's `rawCorpus` for
  * PQ), then cut to k — any recall loss is purely candidate-set misses.
  * The [[VectorCodec.Exact]] codec scores candidates by their exact
  * cosine already, so its serves cut straight at k (plain IVF is
  * `CellIndex(Voronoi, Exact)`, LSH `CellIndex(Hyperplane, Exact)`).
  * Sidecars are frozen once written: appends encode (and assign cells)
  * with them; drift is a rebuild decision. The lazy-takedown overlay
  * ([[graft.sources.Tombstones]]) is consulted on the one table read, so
  * it covers candidates AND the rerank. `attrCols` ride in the code table
  * so an optional `filter` over them lands inside the pruned scan
  * (parquet PushedFilters) before candidate generation; an append must
  * pass the build's `attrCols` (parquet would otherwise leave the missing
  * columns null — silently unfilterable rows).
  */
sealed trait CodecIndex {
  def path: String
  def codec: VectorCodec
  /** The cell assigner partitioning the table; None for a flat index. */
  protected def layout: Option[CellAssigner]

  protected def tableDir: String = s"$path/${codec.table}"
  private def partCols: Seq[String] = layout.toSeq.flatMap(_.partCols)

  /** TAKEDOWN: excise `ids` from the code table; sidecars are geometry,
    * not membership — untouched. Idempotent (absent ids are a no-op). */
  def retract(spark: SparkSession, ids: DataFrame, idsCol: String,
              indexIdCol: String): Unit
  /** Small-files maintenance of the code table, layout preserved. */
  def compact(spark: SparkSession): Unit

  /** Rows as stored: id, raw vector (when the codec keeps it), code
    * (unless the raw vector is the code), attrs, and the cells the trained
    * geometry assigns (a cell index). */
  private def stored(df: DataFrame, idCol: String, vecCol: String,
                     p: VectorCodec.Params, attrCols: Seq[String],
                     cells: Option[CellAssigner.Cells]): DataFrame =
    df.select(Seq(col(idCol)) ++
      (if (codec.storesRaw) Seq(col(vecCol)) else Nil) ++
      codec.codeCol.map(p.encode(col(vecCol)).as(_)) ++ attrCols.map(col) ++
      cells.map(_.assign(col(vecCol))): _*)

  /** Build the index: train (the cell geometry on the corpus, codec params
    * on a seeded `sampleFraction` sample — quantizer quality needs a
    * representative sample, not the population), encode EVERY row, write
    * the table and the sidecars. */
  def write(corpus: DataFrame, idCol: String, vecCol: String,
            sampleFraction: Double = 1.0, attrCols: Seq[String] = Nil): Unit = {
    require(sampleFraction > 0.0 && sampleFraction <= 1.0,
      "sampleFraction must be in (0, 1]")
    val cells = layout.map(_.train(corpus, idCol, vecCol, sampleFraction))
    val p = codec.train(
      if (sampleFraction < 1.0)
        corpus.sample(withReplacement = false, sampleFraction, seed = 42L)
      else corpus,
      idCol, vecCol)
    stored(corpus, idCol, vecCol, p, attrCols, cells)
      .write.mode("overwrite").partitionBy(partCols: _*)
      .parquet(tableDir)
    val spark = corpus.sparkSession
    cells.foreach(_.write(spark, path))
    p.write(spark, path)
  }

  /** Append a batch encoded (and cell-assigned) with the FROZEN sidecars.
    * The AQE rebalance (by the cell columns for a cell index) lands a
    * batch smaller than one target file as ONE file per touched cell
    * whatever its input partitioning; large batches keep their write
    * parallelism. */
  def append(batch: DataFrame, idCol: String, vecCol: String,
             attrCols: Seq[String] = Nil): Unit = {
    val spark = batch.sparkSession
    stored(batch, idCol, vecCol, codec.read(spark, path), attrCols,
        layout.map(_.read(spark, path)))
      .hint("rebalance", partCols.map(col): _*)
      .write.mode("append").partitionBy(partCols: _*)
      .parquet(tableDir)
  }

  /** The code table as a serve reads it: probed cells only
    * (PartitionFilters), the optional metadata filter (PushedFilters), the
    * tombstone overlay. */
  private def scan(spark: SparkSession, idCol: String,
                   probed: Option[Seq[Seq[Any]]],
                   filter: Option[Column]): DataFrame =
    spark.read.parquet(tableDir)
      .transform(df => probed.fold(df)(cs => df.where(cellFilter(cs))))
      .transform(df => filter.fold(df)(df.where))
      .transform(graft.sources.Tombstones.exclude(_, path, col(idCol)))

  /** The probed cells as a predicate over the partition columns only. */
  private def cellFilter(cells: Seq[Seq[Any]]): Column = partCols match {
    case _ if cells.isEmpty => lit(false)
    case Seq(c) => col(c).isin(cells.map(_.head): _*)
    case cs => cells.map(v => cs.zip(v).map { case (c, x) => col(c) === x }
      .reduce(_ && _)).reduce(_ || _)
  }

  private def rerankSource(rows: DataFrame,
                           rawCorpus: Option[DataFrame]): DataFrame =
    if (codec.storesRaw) rows
    else rawCorpus.getOrElse(throw new IllegalArgumentException(
      s"$codec stores codes only: serving needs the raw corpus to rerank"))

  /** The batch's probed-cell join: each query row computes its own codec
    * state in-plan (the PQ ADC table, the BQ code) and carries it through
    * the broadcast join; a cell index probes each query's cells in-plan
    * and the equi-join on the cell columns restricts it to ITS OWN cells
    * (the batch's probed set — bounded by batch·probes — is collected for
    * the partition pruning; an empty query table probes nothing). One
    * candidate row per (query, id) — the duplicates of rows stored in
    * several cells are dropped — scored in [[CodecIndex.scoreCol]].
    * `queries` is evaluated more than once; checkpoint an expensive query
    * pipeline first. Returns (the scanned rows, the candidates, the query
    * table with `__qvec`).
    */
  private def probedJoin(spark: SparkSession, idCol: String, vecCol: String,
                         queries: DataFrame, queryIdCol: String,
                         queryVecCol: String, filter: Option[Column],
                         p: VectorCodec.Params)
      : (DataFrame, DataFrame, DataFrame) = {
    val qs = queries.select(col(queryIdCol).as("query_id"),
      Vectors.toDouble(col(queryVecCol)).as("__qvec"),
      p.queryState(col(queryVecCol)).as("__qstate"))
    val cells = layout.map(_.read(spark, path))
    val assigned = cells.fold(qs)(_.probe(qs, col("__qvec")))
    val probed = cells.map(_ => assigned.select(partCols.map(col): _*)
      .distinct().collect().map(_.toSeq).toSeq)
    val rows = scan(spark, idCol, probed, filter)
    val codes = rows.select(Seq(col(idCol),
      p.decode(col(codec.codeCol.getOrElse(vecCol))).as("__code")) ++
      partCols.map(col): _*)
    val candidates =
      (if (partCols.isEmpty) codes.crossJoin(broadcast(assigned))
       else codes.join(broadcast(assigned), partCols))
        .select(col("query_id"), col(idCol),
          p.score(col("__code"), col("__qstate"))
            .as(CodecIndex.scoreCol(codec)))
        .transform(df => if (cells.exists(_.perRow > 1))
          df.dropDuplicates("query_id", idCol) else df)
    (rows, candidates, qs)
  }

  /** BATCHED serving: a whole query table in ONE plan ([[probedJoin]]),
    * job count independent of the batch size. Candidates are cut per
    * query at k·oversample ordered by (approximate score, id), reranked
    * exactly and cut to k — or, for the exact codec, cut at k directly.
    * Per-query results equal looping [[topK]] (the literal and in-plan
    * query states and probe sets are bit-identical). Returns (query_id,
    * idCol, score).
    */
  def batchTopK(spark: SparkSession, idCol: String, vecCol: String,
                queries: DataFrame, queryIdCol: String, queryVecCol: String,
                k: Int, oversample: Int = codec.defaultOversample,
                filter: Option[Column] = None,
                rawCorpus: Option[DataFrame] = None): DataFrame = {
    val (rows, candidates, qs) = probedJoin(spark, idCol, vecCol, queries,
      queryIdCol, queryVecCol, filter, codec.read(spark, path))
    val approx = col(CodecIndex.scoreCol(codec))
    val ranked = candidates
      .withColumn("__rank", row_number().over(Window.partitionBy("query_id")
        .orderBy(if (codec.ascending) approx.asc else approx.desc, col(idCol))))
    if (codec.codeCol.isEmpty)
      return ranked.where(col("__rank") <= k).drop("__rank")
    ranked.where(col("__rank") <= k * oversample)
      .select("query_id", idCol)
      .join(rerankSource(rows, rawCorpus).select(col(idCol), col(vecCol)), idCol)
      .join(broadcast(qs.select("query_id", "__qvec")), "query_id")
      .select(col("query_id"), col(idCol),
        Vectors.cosine(col(vecCol), col("__qvec")).as("score"))
      .withColumn("__rank", row_number().over(Window.partitionBy("query_id")
        .orderBy(col("score").desc, col(idCol))))
      .where(col("__rank") <= k).drop("__rank")
  }

  /** Range search: every indexed row within cosine `threshold` of each
    * query, over its probed cells — [[probedJoin]] with a threshold cut in
    * place of the top-k cut. Needs the exact codec (an approximate score
    * cannot be thresholded). Returns (query_id, idCol, score).
    */
  def withinThreshold(spark: SparkSession, idCol: String, vecCol: String,
                      queries: DataFrame, queryIdCol: String,
                      queryVecCol: String, threshold: Double): DataFrame = {
    require(codec.codeCol.isEmpty,
      s"$codec scores approximately: threshold search needs the exact codec")
    probedJoin(spark, idCol, vecCol, queries, queryIdCol, queryVecCol, None,
      codec.read(spark, path))._2.where(col("score") >= threshold)
  }

  /** Single-query serving: `query` carries exactly ONE vector row,
    * collected once; a cell index ranks its probed cells from that vector
    * driver-side over the bounded geometry. Returns (idCol, score).
    */
  def topK(spark: SparkSession, idCol: String, vecCol: String,
           query: DataFrame, queryVecCol: String, k: Int,
           oversample: Int = codec.defaultOversample,
           filter: Option[Column] = None,
           rawCorpus: Option[DataFrame] = None): DataFrame = {
    val q = Similarity.collectSingleQuery(query, queryVecCol)
    val cells = layout.map(_.read(spark, path))
    val rows = scan(spark, idCol, cells.map(_.probe(q)), filter)
      .transform(df => if (cells.exists(_.perRow > 1))
        df.dropDuplicates(idCol) else df)
    CodecIndex.singleQueryTopK(rows, rerankSource(rows, rawCorpus), idCol,
      vecCol, q, k, codec.read(spark, path), codec, oversample)
  }
}

object CodecIndex {

  /** The candidate score column of a serve: already the final `score`
    * for the exact codec. */
  private def scoreCol(codec: VectorCodec): String =
    if (codec.codeCol.isEmpty) "score" else "__approx"

  /** The single-query plan: the query state is a LITERAL of the collected
    * vector, the approximate top k·oversample is a TakeOrderedAndProject
    * over (id, score) — no window, no join with the query frame — and the
    * exact rerank reads only the candidates' raw vectors through a
    * `left_semi` join, against the SAME collected vector (a stray extra
    * query row can never mix into the rerank). The exact codec's score is
    * final: its top k is the answer.
    */
  private[operators] def singleQueryTopK(codes: DataFrame, raw: DataFrame,
      idCol: String, vecCol: String, q: Seq[Double], k: Int,
      p: VectorCodec.Params, codec: VectorCodec, oversample: Int): DataFrame = {
    val approx = col(scoreCol(codec))
    val ranked = codes
      .select(col(idCol), p.score(
        p.decode(col(codec.codeCol.getOrElse(vecCol))), p.queryState(q))
        .as(scoreCol(codec)))
      .orderBy(if (codec.ascending) approx.asc else approx.desc, col(idCol))
    if (codec.codeCol.isEmpty) return ranked.limit(k)
    raw.join(ranked.limit(k * oversample).select(idCol), Seq(idCol),
        "left_semi")
      .select(col(idCol), Vectors.cosine(col(vecCol), typedlit(q)).as("score"))
      .orderBy(col("score").desc, col(idCol))
      .limit(k)
  }
}

/** The unpartitioned code table `<path>/<codec.table>`. */
final case class FlatIndex(path: String, codec: VectorCodec)
    extends CodecIndex {
  protected def layout: Option[CellAssigner] = None

  /** One anti-join rewrite of the table via the staged atomic swap. */
  def retract(spark: SparkSession, ids: DataFrame, idsCol: String,
              indexIdCol: String): Unit =
    graft.sources.Compaction.retractRows(spark, tableDir,
      ids.select(col(idsCol).cast("long").as("__rid")).distinct(),
      (t, k) => t(indexIdCol).cast("long") === k("__rid"))

  def compact(spark: SparkSession): Unit =
    graft.sources.Compaction.compact(spark, tableDir)
}

/** The code table partitioned by the cells of `assigner` plus its geometry
  * sidecar: plain IVF is `CellIndex(path, Voronoi(...), Exact)`, LSH
  * `CellIndex(path, Hyperplane(...), Exact)`, IVF-PQ
  * `CellIndex(path, Voronoi(...), Pq.Codec(...))`.
  */
final case class CellIndex(path: String, assigner: CellAssigner,
                           codec: VectorCodec) extends CodecIndex {
  protected def layout: Option[CellAssigner] = Some(assigner)

  /** Cell-pruned rewrite of only the leaves holding `ids`: one
    * column-pruned pass (id + the directory-derived cell columns, no
    * vectors or codes read) finds the touched cells (bounded by
    * |ids|·cells per row), then ONE
    * [[graft.sources.Compaction.rewriteLeavesN]] job anti-joins the ids
    * out of exactly those leaves (staged atomic swap per leaf); untouched
    * cells keep their files byte-for-byte. */
  def retract(spark: SparkSession, ids: DataFrame, idsCol: String,
              indexIdCol: String): Unit = {
    // an index that never materialized holds nothing to excise
    if (!new java.io.File(tableDir).exists()) return
    val cellCols = assigner.partCols.map(col)
    val keys = ids.select(col(idsCol).cast("long").as("__rid")).distinct()
      .localCheckpoint(true)
    try {
      val touched = spark.read.parquet(tableDir)
        .select(col(indexIdCol).cast("long").as("__rid") +: cellCols: _*)
        .join(broadcast(keys), Seq("__rid"), "left_semi")
        .select(cellCols: _*).distinct()
        .collect().map(_.toSeq).toSeq
      graft.sources.Compaction.rewriteLeavesN(spark, tableDir,
        assigner.partCols, touched,
        df => df.join(broadcast(keys),
          df(indexIdCol).cast("long") === keys("__rid"), "left_anti"))
    } finally org.apache.spark.sql.GraftBridge.unpersistCheckpoint(keys)
  }

  def compact(spark: SparkSession): Unit =
    graft.sources.Compaction.compactPartitioned(spark, tableDir)
}
