package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.operators.Divergence
import graft.operators.CellAssigner.Voronoi
import graft.operators.VectorCodec.Exact

class DivergenceSpec extends AnyFunSuite with SparkFixture {
  import spark.implicits._

  private def df(text: String) = Seq(Tuple1(text)).toDF("text")

  test("tokenDivergence: hand-computed two-token fixture") {
    // A = "a a b", B = "a b b": V=2, N=3 each
    // p = (0.6, 0.4), q = (0.4, 0.6) ⇒ KL(p‖q) = KL(q‖p) = 0.2·ln 1.5
    val r = Divergence.tokenDivergence(df("a a b"), df("a b b"), "text")
      .as[(Long, Long, Long, Double, Double, Double)].head()
    assert((r._1, r._2, r._3) === ((2L, 3L, 3L)))
    val expected = 0.2 * math.log(1.5)
    assert(math.abs(r._4 - expected) < 1e-5, s"kl_ab ${r._4}")
    assert(r._4 === r._5) // symmetric fixture
    assert(r._6 > 0.0 && r._6 < r._4) // JS below both KLs, positive
  }

  test("tokenDivergence: identical slices diverge by exactly zero") {
    val r = Divergence.tokenDivergence(df("x y z y"), df("x y z y"), "text")
      .as[(Long, Long, Long, Double, Double, Double)].head()
    assert((r._4, r._5, r._6) === ((0.0, 0.0, 0.0)))
  }

  test("frozen reference roundtrip: divergenceAgainstReference equals " +
      "tokenDivergence with the reference as the b side") {
    val a = df("x y z x")
    val b = df("x y y w")
    val dir = java.nio.file.Files.createTempDirectory("div_ref").toString
    graft.operators.Divergence.writeReferenceCounts(b, "text", dir)
    val direct = Divergence.tokenDivergence(a, b, "text").collect().toSeq
    val frozen = Divergence.divergenceAgainstReference(a, "text", dir)
      .collect().toSeq
    assert(frozen === direct)
  }

  test("DriftMonitor: an in-distribution batch scores near zero, a " +
      "shifted batch spikes the JS metric, one row per micro-batch") {
    import org.apache.spark.sql.functions.col
    val dir = java.nio.file.Files.createTempDirectory("drift")
    val src = dir.resolve("src").toString
    val ref = dir.resolve("ref").toString
    val metrics = dir.resolve("metrics").toString
    val ckpt = dir.resolve("ckpt").toString
    val normal = "the data table holds rows and the table holds columns"
    graft.operators.Divergence.writeReferenceCounts(
      Seq.fill(20)(normal).zipWithIndex
        .map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text"),
      "text", ref)
    val schema = Seq((0L, "")).toDF("doc_id", "text").schema
    Seq((100L, normal), (101L, normal)).toDF("doc_id", "text")
      .write.mode("append").parquet(src)
    graft.streaming.DriftMonitor
      .start(spark, src, schema, ref, metrics, ckpt).awaitTermination()
    Seq((200L, "spam casino jackpot spam casino jackpot winner spam"))
      .toDF("doc_id", "text").write.mode("append").parquet(src)
    graft.streaming.DriftMonitor
      .start(spark, src, schema, ref, metrics, ckpt).awaitTermination()
    val rows = spark.read.parquet(metrics)
      .orderBy("batch_id").select("batch_id", "js")
      .as[(Long, Double)].collect().toSeq
    assert(rows.length === 2)
    assert(rows(0)._2 < 0.05, s"in-distribution js ${rows(0)._2}")
    assert(rows(1)._2 > 10 * rows(0)._2,
      s"shifted js ${rows(1)._2} vs ${rows(0)._2}")
    assert(spark.read.parquet(metrics).where(col("js").isNull).count() === 0)
  }

  test("embedding drift: cell-occupancy divergence separates an " +
      "in-distribution batch from a mean-shifted one; the streaming " +
      "monitor logs one row per micro-batch") {
    import org.apache.spark.sql.functions._
    val dir = java.nio.file.Files.createTempDirectory("emb_drift")
    val idx = dir.resolve("idx").toString
    // two well-separated 4-d clusters; the index freezes their geometry
    def vec(cluster: Int, i: Int): Seq[Float] = {
      val base = if (cluster == 0) Seq(1f, 0f, 0f, 0f) else Seq(0f, 1f, 0f, 0f)
      base.zipWithIndex.map { case (b, d) =>
        b + 0.01f * ((i * 7 + d * 3) % 5) }
    }
    val corpus = (0 until 80).map(i => (i.toLong, vec(i % 2, i)))
      .toDF("vec_id", "embedding")
    graft.operators.CellIndex(idx, Voronoi(nlist = 2, kmeansIters = 2),
      Exact).write(corpus, "vec_id", "embedding")
    graft.operators.Divergence.writeCellOccupancy(spark, idx)
    assert(spark.read.parquet(s"$idx/cell_occupancy").count() === 2)
    // in-distribution batch: same 50/50 cluster mix → tiny js
    val inDist = (100 until 140).map(i => (i.toLong, vec(i % 2, i)))
      .toDF("vec_id", "embedding")
    val jsIn = Divergence
      .embeddingDivergenceAgainstIndex(inDist, "embedding", idx)
      .select("js").as[Double].head()
    // shifted batch: everything collapses onto cluster 0's cell
    val shifted = (200 until 240).map(i => (i.toLong, vec(0, i)))
      .toDF("vec_id", "embedding")
    val jsShift = Divergence
      .embeddingDivergenceAgainstIndex(shifted, "embedding", idx)
      .select("js").as[Double].head()
    assert(jsIn < 0.02, s"in-distribution js $jsIn")
    assert(jsShift > 5 * math.max(jsIn, 1e-6),
      s"shifted js $jsShift vs in-dist $jsIn")
    // streaming monitor: two micro-batches, one metrics row each, and
    // the logged values equal the batch-side operator's
    val src = dir.resolve("src").toString
    val metrics = dir.resolve("metrics").toString
    val ckpt = dir.resolve("ckpt").toString
    val schema = inDist.schema
    inDist.write.mode("append").parquet(src)
    graft.streaming.DriftMonitor
      .startEmbedding(spark, src, schema, idx, metrics, ckpt)
      .awaitTermination()
    shifted.write.mode("append").parquet(src)
    graft.streaming.DriftMonitor
      .startEmbedding(spark, src, schema, idx, metrics, ckpt)
      .awaitTermination()
    val rows = spark.read.parquet(metrics)
      .orderBy("batch_id").select("batch_id", "js")
      .as[(Long, Double)].collect().toSeq
    assert(rows.map(_._1) === Seq(0L, 1L))
    assert(rows(0)._2 === jsIn && rows(1)._2 === jsShift)
  }

  test("topShiftedTokens: disjoint-slice tokens rank above shared ones, " +
      "ties break on the token") {
    val rows = Divergence.topShiftedTokens(
        df("only_a only_a shared"), df("only_b only_b shared"), "text", k = 3)
      .as[(String, Long, Long, Double)].collect().toSeq
    assert(rows.map(_._1) === Seq("only_a", "only_b", "shared"))
    assert(rows(0)._4 === -rows(1)._4) // symmetric counts, mirrored ratio
    assert(math.abs(rows(2)._4) < math.abs(rows(0)._4))
  }
}
