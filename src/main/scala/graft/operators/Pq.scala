package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.Vectors

/** Product quantization (Jégou et al., "Product Quantization for Nearest
  * Neighbor Search", TPAMI 2011) — the memory side of ANN at scale: each
  * vector is stored as `m` small codes (here ints; 8 bits each at k=256)
  * instead of `dim` floats, a 16–32× compression that is what actually
  * lets a 100 TB embedding corpus serve from RAM. Search is ADC
  * (asymmetric distance computation): the query builds an m×k lookup
  * table once, scoring a candidate costs m array lookups — no float math
  * against the corpus at all — and the ADC top candidates are reranked
  * EXACTLY against their raw vectors (the production IVF-PQ shape: the
  * approximate pass prunes, the exact pass decides).
  *
  * Spark shapes: codebooks are bounded driver state (m·k·subDim doubles —
  * like IVF centroids), trained by per-subspace Lloyd iterations in plain
  * Scala over a capped, seeded sample collected once. Encoding and the
  * per-query ADC tables are FUSED native expressions
  * ([[graft.functions.PqEncodeExpr]]): primitive codegen loops over the
  * codebooks as one flat reference array — constant generated-code size
  * at any m·k, where the composed per-centroid expression trees blew
  * Janino's 64 KB method limit and fell back to the interpreter on the
  * corpus-sized encode. ADC scoring is m `element_at` lookups summed —
  * narrow. Serving lives in [[FlatIndex]] / [[CellIndex]] with [[Codec]].
  */
object Pq {

  /** Trained per-subspace codebooks: `cents(m)(j)` is the j-th centroid of
    * subspace m, over L2-NORMALIZED input vectors (so ADC inner product
    * approximates cosine). As codec params the per-query state is the m×k
    * ADC table and the approximate score is its m lookups.
    */
  case class Codebooks(m: Int, k: Int, subDim: Int,
                       cents: Seq[Seq[Seq[Double]]])
      extends VectorCodec.Params {

    /** The codebook sidecar: m rows (subspace, centroids). */
    def write(spark: SparkSession, path: String): Unit = {
      import spark.implicits._
      cents.zipWithIndex
        .map { case (cs, mi) => (mi, cs) }
        .toDF("subspace", "centroids")
        .coalesce(1).write.mode("overwrite").parquet(s"$path/codebooks")
    }

    /** Per subspace, argmin_j ‖sub/‖v‖ − c_j‖² as one fused native
      * expression ([[graft.functions.PqEncodeExpr.pqEncode]]). */
    def encode(vec: Column): Column =
      graft.functions.PqEncodeExpr.pqEncode(Vectors.toDouble(vec), cents)

    /** The per-ROW ADC tables (m arrays of k doubles) — each query row
      * carries its own table through the broadcast join. */
    def queryState(vec: Column): Column =
      graft.functions.PqEncodeExpr.pqAdcTables(Vectors.toDouble(vec), cents)

    /** table(mi)(j) = dot(cents(mi)(j), q_sub) / ‖q‖ for a collected query.
      * The normalization enters as a final scalar division of each dot —
      * EXACTLY the arithmetic the in-plan tables use, so the two are
      * bit-identical (both dots sum sequentially left-to-right).
      */
    def queryState(q: Seq[Double]): Column = {
      val qn = math.sqrt(q.map(x => x * x).sum)
      val safe = if (qn == 0) 1.0 else qn
      typedlit((0 until m).map { mi =>
        val sub = q.slice(mi * subDim, (mi + 1) * subDim)
        cents(mi).map(c =>
          c.zip(sub).map { case (a, b) => a * b }.sum / safe)
      })
    }

    def score(decoded: Column, state: Column): Column =
      (0 until m).map(mi =>
          element_at(element_at(state, mi + 1),
            element_at(decoded, mi + 1) + 1))
        .reduce(_ + _)
  }

  /** The PQ codec: `m` subspaces of `k` centroids, `iters` Lloyd rounds.
    * The index stores codes only (`codes/`, column `pq_codes`) and the
    * rerank reads the caller's raw corpus.
    */
  final case class Codec(m: Int = 8, k: Int = 16, iters: Int = 5)
      extends VectorCodec {
    def train(corpus: DataFrame, idCol: String, vecCol: String): Codebooks =
      Pq.train(corpus, idCol, vecCol, m, k, iters)

    def read(spark: SparkSession, path: String): Codebooks = {
      val rows = spark.read.parquet(s"$path/codebooks")
        .orderBy("subspace").collect()
        .map(r => r.getSeq[scala.collection.Seq[Double]](1)
          .map(_.toSeq).toSeq).toSeq
      Codebooks(rows.size, rows.head.size, rows.head.head.size, rows)
    }

    def ascending = false
    def defaultOversample = 4
    def storesRaw = false
    def table = "codes"
    def codeCol = Some("pq_codes")
  }

  /** Train codebooks on a seeded sample (capped at `maxSample` rows
    * collected to the driver — PQ-standard: codebook quality needs a
    * representative sample, not the corpus). The cap takes rows in
    * scrambled-id order (TakeOrderedAndProject — no full sort), NOT input
    * order: a bare limit() would train on the first parquet split's rows,
    * a biased non-sample on any corpus laid out by time or source.
    */
  def train(corpus: DataFrame, idCol: String, vecCol: String, m: Int,
            k: Int, iters: Int = 5, maxSample: Int = 4096): Codebooks = {
    require(m > 0 && k > 1 && iters >= 0)
    val sampled = corpus
      .orderBy(Sampling.scramble(col(idCol)), col(idCol))
      .limit(maxSample)
      .select(Vectors.toDouble(col(vecCol)).as("v"))
      .collect().map(_.getSeq[Double](0).toArray)
    require(sampled.nonEmpty, "PQ needs a non-empty training sample")
    val dim = sampled.head.length
    require(dim % m == 0, s"dim $dim must divide into $m subspaces")
    val subDim = dim / m
    // normalize once; all subsequent math is on unit vectors
    val normed = sampled.map { v =>
      val n = math.sqrt(v.map(x => x * x).sum)
      if (n == 0) v else v.map(_ / n)
    }
    val cents = (0 until m).map { mi =>
      val subs = normed.map(_.slice(mi * subDim, (mi + 1) * subDim))
      // deterministic seeds: k distinct subvectors in input order
      var cs: Seq[Seq[Double]] = subs.map(_.toSeq).distinct.take(k).toSeq
      if (cs.size < k) cs = cs ++ Seq.fill(k - cs.size)(cs.head)
      var round = 0
      while (round < iters) {
        val sums = Array.fill(k)(new Array[Double](subDim))
        val counts = new Array[Int](k)
        subs.foreach { s =>
          var best = 0; var bestD = Double.MaxValue
          var j = 0
          while (j < k) {
            var d = 0.0; var t = 0
            while (t < subDim) {
              val diff = s(t) - cs(j)(t); d += diff * diff; t += 1
            }
            if (d < bestD) { bestD = d; best = j }
            j += 1
          }
          counts(best) += 1
          var t = 0
          while (t < subDim) { sums(best)(t) += s(t); t += 1 }
        }
        cs = cs.zipWithIndex.map { case (c, j) =>
          if (counts(j) == 0) c
          else sums(j).map(_ / counts(j)).toSeq
        }
        round += 1
      }
      cs
    }
    Codebooks(m, k, subDim, cents)
  }

  /** ADC top-k with exact rerank over an UN-indexed corpus: encode every
    * row with `cb`, keep the top `k`·`oversample` ADC candidates, rerank
    * only those against their raw vectors — the single-query plan of
    * [[CodecIndex]] over codes computed in-plan.
    */
  def topK(corpus: DataFrame, idCol: String, vecCol: String,
           query: DataFrame, queryVecCol: String, k: Int,
           cb: Codebooks, oversample: Int = 4): DataFrame =
    CodecIndex.singleQueryTopK(
      corpus.select(col(idCol), cb.encode(col(vecCol)).as("pq_codes")),
      corpus, idCol, vecCol, Similarity.collectSingleQuery(query, queryVecCol),
      k, cb, Codec(), oversample)
}
