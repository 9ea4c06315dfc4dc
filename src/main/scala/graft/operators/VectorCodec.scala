package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.Vectors

/** A vector-compression codec for the ANN indexes ([[FlatIndex]],
  * [[CellIndex]]): what a quantizer contributes to the shared
  * candidates → k·oversample → exact-rerank serving contract
  * (asymmetric serving — compressed corpus, full-precision query and
  * rerank; Jégou et al., "Product Quantization for Nearest Neighbor
  * Search", TPAMI 2011). Four points on the compression spectrum:
  *
  *  - [[VectorCodec.Exact]] — no compression: the raw vector is the code
  *    and the candidate score is already the exact cosine (plain IVF and
  *    LSH are this codec over a [[CellIndex]]);
  *  - [[VectorCodec.Sq8]] — int8 per dimension, 4× (FAISS `SQ8`,
  *    Lucene `int8_hnsw`): near-lossless;
  *  - [[VectorCodec.Bq]] — one sign bit per dimension, 32× (FAISS binary,
  *    Lucene BBQ): Hamming distance, leans hardest on the oversample;
  *  - [[Pq.Codec]] — m sub-codes per vector, 16–32×, ADC table scoring.
  *
  * A codec trains its [[VectorCodec.Params]] (small bounded metadata,
  * written as a sidecar next to the index table and frozen for appends:
  * params never move under a reader; rebuild when drift matters) and
  * says how its index table is laid out: the table directory, the code
  * column, and whether the raw vector rides along for the rerank (SQ,
  * BQ) or the rerank reads a caller-supplied raw corpus (PQ — the code
  * table alone is what makes a 100 TB corpus servable).
  */
trait VectorCodec extends Serializable {
  /** Train params on `corpus` (the index writer passes its seeded sample). */
  def train(corpus: DataFrame, idCol: String, vecCol: String): VectorCodec.Params
  /** The params sidecar written by [[VectorCodec.Params.write]], read back. */
  def read(spark: SparkSession, path: String): VectorCodec.Params
  /** The approximate score is a distance (smaller = nearer). */
  def ascending: Boolean
  def defaultOversample: Int
  /** The index table stores the raw vector next to the code. */
  def storesRaw: Boolean
  /** Index table directory under the root, and its code column — None
    * when the code IS the stored raw vector, which makes the approximate
    * score the exact one: serves cut straight at k, with no rerank join.
    */
  def table: String
  def codeCol: Option[String]
}

object VectorCodec {

  /** Trained codec params: the sidecar, the encode expression, the
    * per-query state and the approximate score.
    */
  trait Params extends Serializable {
    def write(spark: SparkSession, path: String): Unit
    /** Code of a raw vector column — runs once per row at index build or
      * append time, never in the serving hot path. */
    def encode(vec: Column): Column
    /** Corpus-side half of the approximate score, applied once per index
      * row BEFORE the query join (SQ dequantizes here, not per pair). */
    def decode(code: Column): Column = code
    /** Per-query state computed in-plan for a batch of queries. */
    def queryState(vec: Column): Column
    /** The same state for one collected query vector, as a literal — must
      * equal [[queryState]] bit for bit. */
    def queryState(q: Seq[Double]): Column
    def score(decoded: Column, state: Column): Column
  }

  /** Per-dimension (min, max) or mean over the corpus: one posexplode +
    * grouped aggregate (map-side partial agg, `dim` result rows).
    */
  private def perDim(corpus: DataFrame, vecCol: String,
                     aggs: Column*): Array[org.apache.spark.sql.Row] =
    corpus
      .select(posexplode(Vectors.toDouble(col(vecCol))).as(Seq("__dim", "__x")))
      .groupBy("__dim").agg(aggs.head, aggs.tail: _*)
      .orderBy("__dim")
      .collect()

  /** The per-dimension params sidecar's rows in `dim` order, read once
    * per commit of the sidecar ([[graft.sources.SidecarCache]]). */
  private def readParams(spark: SparkSession, path: String,
                         codec: String): Array[org.apache.spark.sql.Row] =
    graft.sources.SidecarCache.memo(spark, s"$path/params", codec) {
      spark.read.parquet(s"$path/params").collect().sortBy(_.getInt(0))
    }

  /** Scalar (int8) quantization: each dimension is affinely mapped to one
    * signed byte by the per-dimension (min, max) trained on the corpus.
    * Out-of-range values of frozen-params appends clamp to the byte domain
    * — the documented drift failure mode, priced by `ann_sq8_recall`.
    */
  object Sq8 extends VectorCodec {
    final case class Ranges(mins: Array[Double], maxs: Array[Double])
        extends Params {
      private def minsL = typedlit(mins)
      private def spansL = typedlit(mins.indices.map { i =>
        val s = maxs(i) - mins(i); if (s > 0) s else 1.0
      }.toArray)

      def write(spark: SparkSession, path: String): Unit = {
        import spark.implicits._
        mins.indices.map(i => (i, mins(i), maxs(i))).toDF("dim", "mn", "mx")
          .coalesce(1).write.mode("overwrite").parquet(s"$path/params")
      }

      /** `code_i = round(clamp((x_i − mn_i)/span_i, 0, 1)·255) − 128` ∈
        * [−128, 127]; zero-span dimensions map to −128. */
      def encode(vec: Column): Column =
        transform(Vectors.toDouble(vec), (x, i) =>
          (round(least(greatest(
              (x - element_at(minsL, i + 1)) / element_at(spansL, i + 1),
              lit(0.0)), lit(1.0)) * 255) - 128).cast("int"))

      /** Reconstruction `x̂_i = mn_i + (code_i + 128)/255 · span_i`. */
      override def decode(code: Column): Column =
        transform(code, (c, i) =>
          element_at(minsL, i + 1) +
            (c + 128).cast("double") / 255.0 * element_at(spansL, i + 1))

      def queryState(vec: Column): Column = Vectors.toDouble(vec)
      def queryState(q: Seq[Double]): Column = typedlit(q)
      def score(decoded: Column, state: Column): Column =
        Vectors.cosine(decoded, state)
    }

    def train(corpus: DataFrame, idCol: String, vecCol: String): Ranges = {
      val rows = perDim(corpus, vecCol, min("__x"), max("__x"))
      Ranges(rows.map(_.getDouble(1)), rows.map(_.getDouble(2)))
    }

    def read(spark: SparkSession, path: String): Ranges = {
      val rows = readParams(spark, path, "sq8")
      Ranges(rows.map(_.getDouble(1)), rows.map(_.getDouble(2)))
    }

    val ascending = false
    val defaultOversample = 4
    val storesRaw = true
    val table = "data"
    val codeCol = Some("code")
  }

  /** Binary (1-bit) quantization: bit `b` of word `w` is set iff
    * `x[64w+b]` exceeds its per-dimension threshold — the MEAN (balanced
    * bits; a constant 0 would waste bits on a non-centered corpus). The
    * code packs into ⌈dim/64⌉ longs and the approximate score is a
    * HAMMING distance (for mean-centered data a monotone proxy for angular
    * distance — Charikar, STOC 2002), so 1 bit/dim wants a deeper
    * oversample than int8 does (16 vs 4).
    */
  object Bq extends VectorCodec {
    final case class Thresholds(th: Array[Double]) extends Params {
      def write(spark: SparkSession, path: String): Unit = {
        import spark.implicits._
        th.indices.map(i => (i, th(i))).toDF("dim", "th")
          .coalesce(1).write.mode("overwrite").parquet(s"$path/params")
      }

      /** The per-bit `when`s expand STATICALLY (`shiftleft` takes a literal
        * shift, and a static tree keeps the encode inside codegen). */
      def encode(vec: Column): Column = {
        require(th.nonEmpty, "BQ needs at least one dimension")
        val thL = typedlit(th)
        val v = Vectors.toDouble(vec)
        array((0 until words).map { w =>
          (0 until 64).filter(b => w * 64 + b < th.length).map { b =>
            when(element_at(v, w * 64 + b + 1) >
                element_at(thL, w * 64 + b + 1), lit(1L << b))
              .otherwise(lit(0L))
          }.reduce((a, c) => a.bitwiseOR(c))
        }: _*)
      }

      private def words = (th.length + 63) / 64

      def queryState(vec: Column): Column = encode(vec)
      def queryState(q: Seq[Double]): Column =
        typedlit((0 until words).map { w =>
          (0 until 64).filter(b => w * 64 + b < th.length)
            .foldLeft(0L) { (acc, b) =>
              if (q(w * 64 + b) > th(w * 64 + b)) acc | (1L << b) else acc
            }
        })

      /** XOR + popcount per word, summed (`bit_count` is a codegen'd
        * builtin; the fold is over ⌈dim/64⌉ words). */
      def score(decoded: Column, state: Column): Column =
        aggregate(
          zip_with(decoded, state, (x, y) => bit_count(x.bitwiseXOR(y))),
          lit(0), (acc, v) => acc + v)
    }

    def train(corpus: DataFrame, idCol: String, vecCol: String): Thresholds =
      Thresholds(perDim(corpus, vecCol, avg("__x")).map(_.getDouble(1)))

    def read(spark: SparkSession, path: String): Thresholds =
      Thresholds(readParams(spark, path, "bq").map(_.getDouble(1)))

    val ascending = true
    val defaultOversample = 16
    val storesRaw = true
    val table = "data"
    val codeCol = Some("code")
  }

  /** No quantization: the index table stores the raw vector (`data/`, the
    * plain IVF and LSH layouts) and scores candidates by their exact
    * cosine, so there is nothing to train, no params sidecar and no
    * rerank.
    */
  object Exact extends VectorCodec with Params {
    def train(corpus: DataFrame, idCol: String, vecCol: String): Params = this
    def read(spark: SparkSession, path: String): Params = this
    def write(spark: SparkSession, path: String): Unit = ()
    def encode(vec: Column): Column = vec
    def queryState(vec: Column): Column = Vectors.toDouble(vec)
    def queryState(q: Seq[Double]): Column = typedlit(q)
    def score(decoded: Column, state: Column): Column =
      Vectors.cosine(decoded, state)

    val ascending = false
    val defaultOversample = 1
    val storesRaw = true
    val table = "data"
    val codeCol = None
  }
}
