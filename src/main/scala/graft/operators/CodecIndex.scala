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
  *  - [[CellIndex]] — the table partitioned by Voronoi `cell` plus the
  *    `centroids` sidecar (the FAISS `IVFx,<codec>` layout): a query reads
  *    nprobe/nlist of the cell directories through parquet PartitionFilters
  *    and only the code column within them. Codec params are GLOBAL, not
  *    per cell, so a vector's code is independent of its cell.
  *
  * Both serve the same contract: approximate candidates from the codes,
  * cut at k·oversample per query, reranked by EXACT cosine against the
  * raw vectors (the index's own for SQ/BQ, the caller's `rawCorpus` for
  * PQ), then cut to k — any recall loss is purely candidate-set misses.
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

  protected def tableDir: String = s"$path/${codec.table}"

  /** Centroids trained for a cell index's write; None for a flat one. */
  protected def trainCells(corpus: DataFrame, idCol: String, vecCol: String,
                           sampleFraction: Double)
      : Option[Seq[(Long, Seq[Double])]] = None
  /** (centroids, nprobe) of a cell index; None for a flat one. */
  protected def probe(spark: SparkSession)
      : Option[(Seq[(Long, Seq[Double])], Int)] = None
  /** TAKEDOWN: excise `ids` from the code table; sidecars are geometry,
    * not membership — untouched. Idempotent (absent ids are a no-op). */
  def retract(spark: SparkSession, ids: DataFrame, idsCol: String,
              indexIdCol: String): Unit
  /** Small-files maintenance of the code table, layout preserved. */
  def compact(spark: SparkSession): Unit

  /** Rows as stored: id, raw vector (when the codec keeps it), code,
    * attrs, and the cell assigned by `cents` (a cell index). */
  private def stored(df: DataFrame, idCol: String, vecCol: String,
                     p: VectorCodec.Params, attrCols: Seq[String],
                     cents: Option[Seq[(Long, Seq[Double])]]): DataFrame =
    df.select(Seq(col(idCol)) ++
      (if (codec.storesRaw) Seq(col(vecCol)) else Nil) ++
      (p.encode(col(vecCol)).as(codec.codeCol) +: attrCols.map(col)) ++
      cents.map(cs => Similarity.bestCellFor(cs)(col(vecCol)).as("cell")): _*)

  private def partCols(cents: Option[Seq[(Long, Seq[Double])]]): Seq[String] =
    cents.map(_ => "cell").toSeq

  /** Build the index: train (centroids on the corpus, codec params on a
    * seeded `sampleFraction` sample — quantizer quality needs a
    * representative sample, not the population), encode EVERY row, write
    * the table and the sidecars. */
  def write(corpus: DataFrame, idCol: String, vecCol: String,
            sampleFraction: Double = 1.0, attrCols: Seq[String] = Nil): Unit = {
    require(sampleFraction > 0.0 && sampleFraction <= 1.0,
      "sampleFraction must be in (0, 1]")
    val cents = trainCells(corpus, idCol, vecCol, sampleFraction)
    val p = codec.train(
      if (sampleFraction < 1.0)
        corpus.sample(withReplacement = false, sampleFraction, seed = 42L)
      else corpus,
      idCol, vecCol)
    stored(corpus, idCol, vecCol, p, attrCols, cents)
      .write.mode("overwrite").partitionBy(partCols(cents): _*)
      .parquet(tableDir)
    val spark = corpus.sparkSession
    import spark.implicits._
    cents.foreach(_.toDF("cid", "cvec")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/centroids"))
    p.write(spark, path)
  }

  /** Append a batch encoded (and cell-assigned) with the FROZEN sidecars.
    * The AQE rebalance (by `cell` for a cell index) lands a batch smaller
    * than one target file as ONE file per touched cell whatever its input
    * partitioning; large batches keep their write parallelism. */
  def append(batch: DataFrame, idCol: String, vecCol: String,
             attrCols: Seq[String] = Nil): Unit = {
    val spark = batch.sparkSession
    val cents = probe(spark).map(_._1)
    stored(batch, idCol, vecCol, codec.read(spark, path), attrCols, cents)
      .hint("rebalance", partCols(cents).map(col): _*)
      .write.mode("append").partitionBy(partCols(cents): _*)
      .parquet(tableDir)
  }

  /** The code table as a serve reads it: probed cells only
    * (PartitionFilters), the optional metadata filter (PushedFilters), the
    * tombstone overlay. */
  private def scan(spark: SparkSession, idCol: String,
                   cells: Option[Seq[Long]], filter: Option[Column]): DataFrame =
    spark.read.parquet(tableDir)
      .transform(df => cells.fold(df)(cs => df.where(col("cell").isin(cs: _*))))
      .transform(df => filter.fold(df)(df.where))
      .transform(graft.sources.Tombstones.exclude(_, path, col(idCol)))

  private def rerankSource(rows: DataFrame,
                           rawCorpus: Option[DataFrame]): DataFrame =
    if (codec.storesRaw) rows
    else rawCorpus.getOrElse(throw new IllegalArgumentException(
      s"$codec stores codes only: serving needs the raw corpus to rerank"))

  /** BATCHED serving: a whole query table in ONE plan, job count
    * independent of the batch size. Each query row computes its own
    * codec state in-plan (the PQ ADC table, the BQ code) and carries it
    * through the broadcast join; a cell index soft-assigns each query to
    * its `nprobe` cells in-plan and the equi-join on `cell` restricts it
    * to ITS OWN cells (the batch's probed set — bounded by
    * min(nlist, batch·nprobe) — is collected for the partition pruning).
    * Candidates are cut per query at k·oversample ordered by (approximate
    * score, id), reranked exactly and cut to k. Per-query results equal
    * looping [[topK]] (the literal and in-plan query states are
    * bit-identical). `queries` is evaluated more than once; checkpoint an
    * expensive query pipeline first. Returns (query_id, idCol, score).
    */
  def batchTopK(spark: SparkSession, idCol: String, vecCol: String,
                queries: DataFrame, queryIdCol: String, queryVecCol: String,
                k: Int, oversample: Int = codec.defaultOversample,
                filter: Option[Column] = None,
                rawCorpus: Option[DataFrame] = None): DataFrame = {
    val p = codec.read(spark, path)
    val qs = queries.select(col(queryIdCol).as("query_id"),
      Vectors.toDouble(col(queryVecCol)).as("__qvec"),
      p.queryState(col(queryVecCol)).as("__qstate"))
    val cellProbe = probe(spark)
    val assigned = cellProbe.fold(qs.select("query_id", "__qstate")) {
      case (cents, nprobe) => qs.select(col("query_id"), col("__qstate"),
        explode(Similarity.topCellsFor(cents, nprobe)(col("__qvec"))).as("cell"))
    }
    val cells = cellProbe.map { _ =>
      val cs = assigned.select("cell").distinct().collect().map(_.getLong(0))
      require(cs.nonEmpty, "cell-index batch serving got an empty query table")
      cs.toSeq
    }
    val rows = scan(spark, idCol, cells, filter)
    val codes = rows.select(Seq(col(idCol),
      p.decode(col(codec.codeCol)).as("__code")) ++ cells.map(_ => col("cell")): _*)
    val approx = col("__approx")
    val candidates = cells.fold(codes.crossJoin(broadcast(assigned)))(_ =>
        codes.join(broadcast(assigned), "cell"))
      .select(col("query_id"), col(idCol),
        p.score(col("__code"), col("__qstate")).as("__approx"))
      .withColumn("__rank", row_number().over(Window.partitionBy("query_id")
        .orderBy(if (codec.ascending) approx.asc else approx.desc, col(idCol))))
      .where(col("__rank") <= k * oversample)
      .select("query_id", idCol)
    candidates
      .join(rerankSource(rows, rawCorpus).select(col(idCol), col(vecCol)), idCol)
      .join(broadcast(qs.select("query_id", "__qvec")), "query_id")
      .select(col("query_id"), col(idCol),
        Vectors.cosine(col(vecCol), col("__qvec")).as("score"))
      .withColumn("__rank", row_number().over(Window.partitionBy("query_id")
        .orderBy(col("score").desc, col(idCol))))
      .where(col("__rank") <= k).drop("__rank")
  }

  /** Single-query serving: `query` carries exactly ONE vector row,
    * collected once; a cell index ranks its `nprobe` cells from that
    * vector over the bounded centroid set. Returns (idCol, score).
    */
  def topK(spark: SparkSession, idCol: String, vecCol: String,
           query: DataFrame, queryVecCol: String, k: Int,
           oversample: Int = codec.defaultOversample,
           filter: Option[Column] = None,
           rawCorpus: Option[DataFrame] = None): DataFrame = {
    val q = Similarity.collectSingleQuery(query, queryVecCol)
    val cells = probe(spark).map { case (cents, nprobe) =>
      Similarity.probeCellIds(q, cents, nprobe)
    }
    val rows = scan(spark, idCol, cells, filter)
    CodecIndex.singleQueryTopK(rows, rerankSource(rows, rawCorpus), idCol,
      vecCol, q, k, codec.read(spark, path), codec, oversample)
  }
}

object CodecIndex {

  /** The single-query plan: the query state is a LITERAL of the collected
    * vector, the approximate top k·oversample is a TakeOrderedAndProject
    * over (id, score) — no window, no join with the query frame — and the
    * exact rerank reads only the candidates' raw vectors through a
    * `left_semi` join, against the SAME collected vector (a stray extra
    * query row can never mix into the rerank).
    */
  private[operators] def singleQueryTopK(codes: DataFrame, raw: DataFrame,
      idCol: String, vecCol: String, q: Seq[Double], k: Int,
      p: VectorCodec.Params, codec: VectorCodec, oversample: Int): DataFrame = {
    val approx = col("__approx")
    val candidates = codes
      .select(col(idCol),
        p.score(p.decode(col(codec.codeCol)), p.queryState(q)).as("__approx"))
      .orderBy(if (codec.ascending) approx.asc else approx.desc, col(idCol))
      .limit(k * oversample)
    raw.join(candidates.select(idCol), Seq(idCol), "left_semi")
      .select(col(idCol), Vectors.cosine(col(vecCol), typedlit(q)).as("score"))
      .orderBy(col("score").desc, col(idCol))
      .limit(k)
  }
}

/** The unpartitioned code table `<path>/<codec.table>`. */
final case class FlatIndex(path: String, codec: VectorCodec)
    extends CodecIndex {

  /** One anti-join rewrite of the table via the staged atomic swap. */
  def retract(spark: SparkSession, ids: DataFrame, idsCol: String,
              indexIdCol: String): Unit =
    graft.sources.Compaction.retractRows(spark, tableDir,
      ids.select(col(idsCol).cast("long").as("__rid")).distinct(),
      (t, k) => t(indexIdCol).cast("long") === k("__rid"))

  def compact(spark: SparkSession): Unit =
    graft.sources.Compaction.compact(spark, tableDir)
}

/** The code table partitioned by `cell` plus the `centroids` sidecar:
  * `nlist`/`kmeansIters` shape a write, `nprobe` a serve.
  */
final case class CellIndex(path: String, codec: VectorCodec,
                           nlist: Int = 16, nprobe: Int = 4,
                           kmeansIters: Int = 0) extends CodecIndex {

  override protected def trainCells(corpus: DataFrame, idCol: String,
                                    vecCol: String, sampleFraction: Double) =
    Some(Similarity.trainCentroids(corpus, idCol, vecCol, nlist,
      kmeansIters, sampleFraction))

  override protected def probe(spark: SparkSession) =
    Some((Similarity.readCentroids(spark, path), nprobe))

  /** Cell-pruned rewrite of only the leaves holding `ids`
    * ([[Similarity.retractFromIndex]]). */
  def retract(spark: SparkSession, ids: DataFrame, idsCol: String,
              indexIdCol: String): Unit =
    Similarity.retractFromIndex(spark, path, ids, idsCol, indexIdCol)

  def compact(spark: SparkSession): Unit =
    graft.sources.Compaction.compactPartitioned(spark, tableDir)
}
