package graft

import java.nio.file.Files
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.{CellIndex, CodecIndex, FlatIndex, Keywords, Pq,
  VectorCodec}
import graft.operators.CellAssigner.Voronoi
import graft.sources.{SidecarCache, TextIndex}

/** The driver memo of small sidecars: a value is reused only while its
  * directory's listing is unchanged, so every commit — a rebuild over the
  * same path, a stats or ledger append, a staged swap — is seen by the
  * next serve, and a warm serve launches fewer Spark jobs than a cold one.
  */
class SidecarCacheSpec extends AnyFunSuite with SparkFixture {
  import spark.implicits._

  private def tmp(name: String): String =
    Files.createTempDirectory(name).resolve("x").toString

  test("memo: a hit needs an equal listing stamp; an append or an " +
      "overwrite is a miss; a missing or empty directory and a read the " +
      "directory moved under are never stored") {
    val dir = tmp("memo")
    var reads = 0
    def rows(what: String = "rows"): Long =
      SidecarCache.memo(spark, dir, what) {
        reads += 1
        spark.read.parquet(dir).count()
      }
    intercept[org.apache.spark.sql.AnalysisException](rows())
    intercept[org.apache.spark.sql.AnalysisException](rows())
    assert(reads === 2, "a missing directory was stored")
    new java.io.File(dir).mkdirs()
    intercept[org.apache.spark.sql.AnalysisException](rows())
    assert(reads === 3, "an empty directory was stored")
    Seq(1L, 2L).toDF("x").write.mode("overwrite").parquet(dir)
    assert(rows() === 2L && rows() === 2L && reads === 4)
    assert(rows("other") === 2L && reads === 5, "keys share an entry")
    Seq(3L).toDF("x").write.mode("append").parquet(dir)
    assert(rows() === 3L && reads === 6 && rows() === 3L && reads === 6)
    Seq(4L).toDF("x").write.mode("overwrite").parquet(dir)
    assert(rows() === 1L && reads === 7)
    def racing(): Long = SidecarCache.memo(spark, dir, "racing") {
      reads += 1
      Seq(5L).toDF("x").write.mode("append").parquet(dir)
      0L
    }
    racing(); racing()
    assert(reads === 9, "a read the directory moved under was stored")
  }

  // two different corpora over one dimension: rebuilding an index over
  // the second at the first one's path retrains every sidecar
  private val dim = 16
  private def vectors(seed: Int, scale: Float, shift: Float): DataFrame = {
    val rnd = new scala.util.Random(seed)
    (1 to 200).map(i => (i.toLong,
        Array.fill(dim)(rnd.nextGaussian().toFloat * scale + shift)))
      .toDF("vec_id", "embedding")
  }
  private val corpusA = vectors(1, 1.0f, 0.0f)
  private val corpusB = vectors(2, 3.0f, 1.5f)
  private val query = {
    val rnd = new scala.util.Random(3)
    Seq(Tuple1(Array.fill(dim)(rnd.nextGaussian().toFloat * 3.0f + 1.5f)))
      .toDF("embedding")
  }

  private val indexes: Seq[(String, String => CodecIndex)] = Seq(
    "IVF-PQ cell index" -> (p => CellIndex(p,
      Voronoi(nlist = 4, nprobe = 1, kmeansIters = 1), Pq.Codec(m = 4, k = 8))),
    "SQ8 flat index" -> (p => FlatIndex(p, VectorCodec.Sq8)))

  for ((name, index) <- indexes)
    test(s"$name rebuilt at the same path between two serves: the second " +
        "serve equals the same serve of a fresh copy") {
      def serve(ix: CodecIndex, raw: DataFrame): Seq[(Long, Double)] =
        ix.topK(spark, "vec_id", "embedding", query, "embedding", k = 5,
            oversample = 1, rawCorpus = Some(raw))
          .as[(Long, Double)].collect().toSeq
      val ix = index(tmp("rebuilt"))
      ix.write(corpusA, "vec_id", "embedding")
      serve(ix, corpusA)
      ix.write(corpusB, "vec_id", "embedding")
      val fresh = index(tmp("fresh"))
      fresh.write(corpusB, "vec_id", "embedding")
      assert(serve(ix, corpusB) === serve(fresh, corpusB))
      def params(ix: CodecIndex): Any = ix.codec.read(spark, ix.path) match {
        case r: VectorCodec.Sq8.Ranges => (r.mins.toSeq, r.maxs.toSeq)
        case p => p
      }
      assert(params(ix) === params(fresh))
    }

  private val vocab = Vector("hash", "join", "vector", "scan", "sort",
    "merge", "spill", "page", "codec", "probe")
  private def docs(ids: Seq[Long]): DataFrame =
    ids.map(i => (i, (0 until (3 + (i % 9)).toInt)
        .map(j => vocab(((i * 7 + j * j) % vocab.size).toInt))
        .mkString(" ")))
      .toDF("doc_id", "text")

  test("BM25 serves after appendBatch, retract (ledger), compact and " +
      "healStats each equal the scan path over the surviving corpus") {
    val cfg = TextIndex.Cfg(tmp("bm25_memo"), partitions = 4)
    val q = Seq("hash", "join", "vector")
    def check(live: Seq[Long], after: String): Unit = {
      val served = TextIndex.bm25TopK(spark, cfg, "doc_id", q, 10)
        .as[(Long, Double)].collect().toSeq
      val scan = Keywords.bm25TopK(docs(live), "doc_id", "text", q, 10)
        .as[(Long, Double)].collect().toSeq
      assert(served === scan, s"after $after")
      assert(TextIndex.stats(spark, cfg).select("n_docs").as[Long].head() ===
        live.size.toLong, s"after $after")
    }
    TextIndex.writeIndex(docs(1L to 40L), "doc_id", "text", cfg)
    check(1L to 40L, "the build")
    TextIndex.appendBatch(docs(41L to 60L), "doc_id", "text", cfg)
    check(1L to 60L, "appendBatch")
    val gone = Seq(3L, 7L, 41L, 44L)
    TextIndex.retract(spark, cfg, docs(gone), "doc_id", "text")
    val live = (1L to 60L).filterNot(gone.contains)
    check(live, "retract")
    TextIndex.compact(spark, cfg)
    check(live, "compact")
    TextIndex.healStats(spark, cfg, docs(live))
    check(live, "healStats")
  }

  test("job budget: a warm single-query IVF-PQ serve launches at least 4 " +
      "fewer Spark jobs than its cold first call, a warm BM25 serve at " +
      "least 2 fewer than a cold one") {
    val ix = indexes.head._2(tmp("ann_jobs"))
    ix.write(corpusA, "vec_id", "embedding")
    def ann(): Int = TestProbes.jobsRunning(spark) {
      ix.topK(spark, "vec_id", "embedding", query, "embedding", k = 5,
        rawCorpus = Some(corpusA)).collect()
    }
    val (annCold, annWarm) = (ann(), ann())
    assert(annWarm <= annCold - 4, s"cold $annCold, warm $annWarm jobs")
    val cfg = TextIndex.Cfg(tmp("bm25_jobs"), partitions = 4)
    TextIndex.writeIndex(docs(1L to 40L), "doc_id", "text", cfg)
    def bm25(): Int = TestProbes.jobsRunning(spark) {
      TextIndex.bm25TopK(spark, cfg, "doc_id", Seq("hash", "join"), 10)
        .collect()
    }
    val (bmCold, bmWarm) = (bm25(), bm25())
    assert(bmWarm <= bmCold - 2, s"cold $bmCold, warm $bmWarm jobs")
  }
}
