package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.Vectors

/** How a [[CellIndex]] partitions its table into cells — the second small
  * interface beside [[VectorCodec]]. An assigner trains a geometry on the
  * corpus, writes it as a sidecar next to the table (frozen for appends,
  * like codec params), places each stored row in its cells and names the
  * cells a query probes. A cell is one leaf directory of the table
  * (`partCols`), so probing is parquet partition pruning. Two assigners:
  *
  *  - [[CellAssigner.Voronoi]] — nearest centroid, one `cell` per row
  *    (the IVF coarse quantizer);
  *  - [[CellAssigner.Hyperplane]] — the random-hyperplane signature per
  *    LSH table, `tables` `(table, bucket)` cells per row.
  */
trait CellAssigner extends Serializable {
  /** The table's partition columns: one value tuple is one cell. */
  def partCols: Seq[String]
  /** Train the geometry (an index writer passes its `sampleFraction`). */
  def train(corpus: DataFrame, idCol: String, vecCol: String,
            sampleFraction: Double): CellAssigner.Cells
  /** The geometry sidecar written by [[CellAssigner.Cells.write]], read
    * back. */
  def read(spark: SparkSession, path: String): CellAssigner.Cells
}

object CellAssigner {

  /** A trained geometry: its sidecar, the cells of a stored row and the
    * cells a query probes.
    */
  trait Cells {
    def write(spark: SparkSession, path: String): Unit
    /** Cells each stored row lands in — above 1, a query reaches one row
      * through several probed cells and serves drop the duplicates. */
    def perRow: Int
    /** The `partCols` of a stored row, as one select column (a generator
      * when `perRow` > 1). */
    def assign(vec: Column): Column
    /** `qs` exploded to one row per (query, probed cell), `partCols`
      * appended — computed in-plan from the query vector `vec`. */
    def probe(qs: DataFrame, vec: Column): DataFrame
    /** The cells one collected query vector probes, `partCols`-aligned —
      * ranked driver-side, equal to the in-plan [[probe]]. */
    def probe(q: Seq[Double]): Seq[Seq[Any]]
  }

  /** Voronoi cells around `nlist` centroids (deterministic lowest-id seeds
    * plus `kmeansIters` Lloyd rounds, [[Similarity.trainCentroids]]) in the
    * `centroids` sidecar; a row lands in its nearest cell and a query
    * probes its `nprobe` nearest.
    */
  final case class Voronoi(nlist: Int = 16, nprobe: Int = 4,
                           kmeansIters: Int = 0) extends CellAssigner {
    val partCols = Seq("cell")

    def train(corpus: DataFrame, idCol: String, vecCol: String,
              sampleFraction: Double): Cells =
      Centroids(Similarity.trainCentroids(corpus, idCol, vecCol, nlist,
        kmeansIters, sampleFraction))

    def read(spark: SparkSession, path: String): Cells =
      Centroids(Similarity.readCentroids(spark, path))

    private case class Centroids(cents: Seq[(Long, Seq[Double])])
        extends Cells {
      def write(spark: SparkSession, path: String): Unit = {
        import spark.implicits._
        cents.toDF("cid", "cvec")
          .coalesce(1).write.mode("overwrite").parquet(s"$path/centroids")
      }
      def perRow = 1
      def assign(vec: Column): Column =
        Similarity.bestCellFor(cents)(vec).as("cell")
      def probe(qs: DataFrame, vec: Column): DataFrame =
        qs.withColumn("cell", explode(Similarity.topCellsFor(cents, nprobe)(vec)))
      def probe(q: Seq[Double]): Seq[Seq[Any]] =
        Similarity.probeCellIds(q, cents, nprobe).map(Seq(_))
    }
  }

  /** Random-hyperplane LSH: `tables` signatures of `nBits` bits each
    * ([[Vectors.hyperplaneBucket]] — hyperplanes derive from the table
    * seed, so only (nBits, tables) go to the `meta` sidecar). A row lands
    * in one `(table, bucket)` cell per table (the index replicates the
    * corpus `tables`×); a query probes its own bucket per table, plus the
    * buckets `hammingProbe` (0, 1 or 2) bit flips away.
    */
  final case class Hyperplane(nBits: Int = 12, tables: Int = 4,
                              hammingProbe: Int = 0) extends CellAssigner {
    val partCols = Seq("table", "bucket")

    def train(corpus: DataFrame, idCol: String, vecCol: String,
              sampleFraction: Double): Cells = Planes(nBits, tables)

    def read(spark: SparkSession, path: String): Cells = {
      val meta = spark.read.parquet(s"$path/meta").collect().head
      Planes(meta.getInt(0), meta.getInt(1))
    }

    private case class Planes(bits: Int, n: Int) extends Cells {
      def write(spark: SparkSession, path: String): Unit = {
        import spark.implicits._
        Seq((bits, n)).toDF("n_bits", "tables")
          .coalesce(1).write.mode("overwrite").parquet(s"$path/meta")
      }
      def perRow: Int = n
      private def buckets(vec: Column): Column = array((0 until n).map(t =>
        Vectors.hyperplaneBucket(vec, bits, tableSeed = t)): _*)
      def assign(vec: Column): Column =
        posexplode(buckets(vec)).as(Seq("table", "bucket"))
      def probe(qs: DataFrame, vec: Column): DataFrame =
        qs.select(col("*"), posexplode(buckets(vec)).as(Seq("table", "__b0")))
          .select(col("*"), explode(Similarity.probeSet(col("__b0"), bits,
            hammingProbe)).as("bucket"))
          .drop("__b0")
      def probe(q: Seq[Double]): Seq[Seq[Any]] = {
        val masks = Similarity.probeMasks(bits, hammingProbe)
        (0 until n).flatMap { t =>
          val b = graft.functions.HyperplaneBucketExpr.bucketOf(q, bits, t)
          (b +: masks.map(b ^ _)).map(Seq(t, _))
        }
      }
    }
  }
}
