package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.{CellIndex, CodecIndex, FlatIndex, Pq, Similarity,
  VectorCodec}
import graft.operators.CellAssigner.{Hyperplane, Voronoi}

/** The shared index contract over {SQ8, BQ, PQ} × {flat, cell}, plain IVF
  * (Exact × cell) and LSH (Exact × hyperplane cells), plus the BQ codec's
  * own bit-level checks. */
class CodecIndexSpec extends AnyFunSuite with SparkFixture {
  import spark.implicits._

  // deterministic pseudo-random corpus + one planted near-neighbor of q
  private val rnd = new scala.util.Random(7)
  private val dim = 96 // > 64 so the packed BQ code spans TWO words
  private val corpus = (1 to 300).map { i =>
    (i.toLong, Array.fill(dim)(rnd.nextGaussian().toFloat))
  }
  private val q = Array.fill(dim)(rnd.nextGaussian().toFloat)
  private val planted = q.map(x => x + 0.01f * rnd.nextGaussian().toFloat)
  private val corpusDf =
    (corpus :+ (999L, planted)).toDF("vec_id", "embedding")
  private val queryDf = Seq((0L, q)).toDF("vec_id", "embedding")
  // query TABLE: the planted query + 3 corpus vectors under fresh ids
  private val queryRows = (0L, q) +: corpus.take(3)
    .map { case (i, v) => (1000L + i, v) }
  private val queriesDf = queryRows.toDF("vec_id", "embedding")

  private val nlist = 4
  private val codecs: Seq[(String, VectorCodec)] = Seq(
    "SQ8" -> VectorCodec.Sq8, "BQ" -> VectorCodec.Bq,
    "PQ" -> Pq.Codec(m = 4, k = 8))
  private val lsh = Hyperplane(nBits = 3, tables = 3, hammingProbe = 1)
  // the exact codec has no params: a flat exact index is brute force
  private val layouts: Seq[(String, VectorCodec, String)] =
    (for ((n, c) <- codecs; l <- Seq("flat", "cell")) yield (n, c, l)) ++
      Seq("cell", "lsh").map(l => ("Exact", VectorCodec.Exact, l))

  private def tmp(name: String): String =
    java.nio.file.Files.createTempDirectory(name).toString

  /** Every sidecar file's bytes, by relative path. */
  private def sidecars(root: String): Map[String, Seq[Byte]] = {
    val r = new java.io.File(root)
    Seq("params", "codebooks", "centroids", "meta")
      .map(new java.io.File(r, _)).filter(_.isDirectory)
      .flatMap(_.listFiles().filter(_.getName.endsWith(".parquet")))
      .map(f => r.toPath.relativize(f.toPath).toString ->
        java.nio.file.Files.readAllBytes(f.toPath).toSeq).toMap
  }

  private def byQuery(rows: Seq[(Long, Long, Double)]) =
    rows.sortBy(r => (r._1, -r._3, r._2))

  for ((name, codec, layout) <- layouts)
    test(s"$name × $layout index: planted neighbor served with its exact " +
        "score, frozen-params append, tombstones hide, retract excises " +
        "with sidecars untouched" +
        (if (layout == "cell") ", full probe ≡ flat" else "") +
        (if (layout == "lsh") ", one row per (query, id)" else "")) {
      def index(path: String): CodecIndex = layout match {
        case "flat" => FlatIndex(path, codec)
        case "cell" => CellIndex(path, Voronoi(nlist = nlist, nprobe = 2,
          kmeansIters = 1), codec)
        case _ => CellIndex(path, lsh, codec)
      }
      // rows stored per id: the LSH layout replicates each per table
      val copies = if (layout == "lsh") lsh.tables.toLong else 1L
      val raw = if (codec.storesRaw) None else Some(corpusDf)
      // build without the planted vector, then append it with the frozen
      // sidecars; returns the sidecars as written
      def build(ix: CodecIndex): Map[String, Seq[Byte]] = {
        ix.write(corpusDf.filter(col("vec_id") =!= 999L), "vec_id",
          "embedding")
        val written = sidecars(ix.path)
        assert(written.nonEmpty)
        ix.append(corpusDf.filter(col("vec_id") === 999L), "vec_id",
          "embedding")
        assert(sidecars(ix.path) === written, "append moved the sidecars")
        written
      }
      def batched(ix: CodecIndex, qs: org.apache.spark.sql.DataFrame,
                  k: Int = 5) =
        ix.batchTopK(spark, "vec_id", "embedding", qs, "vec_id",
            "embedding", k, rawCorpus = raw)
          .as[(Long, Long, Double)].collect().toSeq
      val dir = tmp(s"ci_${name}_$layout")
      val ix = index(dir)
      val trained = build(ix)

      // the appended planted vector serves first, with the EXACT cosine
      val exact = Similarity.bruteForceTopK(corpusDf, "vec_id", "embedding",
        queryDf, "embedding", 1).as[(Long, Double)].head()
      val served = batched(ix, queriesDf)
      val top = served.filter(_._1 == 0L).maxBy(_._3)
      assert(top._2 === 999L && top._3 === exact._2, served)
      // batched ≡ the single-query serve looped over the same queries
      val loop = queryRows.flatMap { case (qid, v) =>
        ix.topK(spark, "vec_id", "embedding",
            Seq((qid, v)).toDF("vec_id", "embedding"), "embedding", 5,
            rawCorpus = raw)
          .as[(Long, Double)].collect().map { case (id, s) => (qid, id, s) }
      }
      assert(byQuery(served) === byQuery(loop))

      if (layout == "cell") {
        val plan = ix.batchTopK(spark, "vec_id", "embedding", queryDf,
            "vec_id", "embedding", 5, rawCorpus = raw)
          .queryExecution.executedPlan.toString
        assert("PartitionFilters: \\[[^\\]]*cell".r.findFirstIn(plan)
          .nonEmpty, plan)
        // probing every cell degrades exactly to the flat serve (global
        // params, same candidate window, same rerank) — for the exact
        // codec, that is the exact batch top-k
        val full = byQuery(batched(CellIndex(dir, Voronoi(nprobe = nlist),
          codec), queriesDf))
        if (codec == VectorCodec.Exact)
          assert(full === byQuery(Similarity.bruteForceBatchTopK(corpusDf,
              "vec_id", "embedding", queriesDf, "vec_id", "embedding", 5)
            .as[(Long, Long, Double)].collect().toSeq))
        else {
          val flat = FlatIndex(tmp(s"ci_${name}_twin"), codec)
          build(flat)
          assert(full === byQuery(batched(flat, queriesDf)))
        }
        // one probed cell still yields k distinct rows
        val one = batched(CellIndex(dir, Voronoi(nprobe = 1), codec), queryDf)
        assert(one.size === 5 && one.map(_._2).distinct.size === 5)
      }
      if (layout == "lsh") {
        val plan = ix.batchTopK(spark, "vec_id", "embedding", queryDf,
            "vec_id", "embedding", 5)
          .queryExecution.executedPlan.toString
        assert("PartitionFilters: \\[[^\\]]*bucket".r.findFirstIn(plan)
          .nonEmpty, plan)
        // a row stored in several probed cells still serves once
        val deep = batched(ix, queryDf, k = 50)
        assert(deep.size > 5 && deep.map(_._2).distinct.size === deep.size)
      }

      // tombstone overlay: the served top row disappears from serving
      // while the table still physically holds it
      val table = s"$dir/${codec.table}"
      val runnerUp = served.filter(_._1 == 0L).sortBy(-_._3).apply(1)._2
      graft.sources.Tombstones.append(dir, Seq(runnerUp).toDF("vec_id"),
        "vec_id")
      assert(!batched(ix, queryDf).map(_._2).contains(runnerUp))
      assert(spark.read.parquet(table)
        .filter(col("vec_id") === runnerUp).count() === copies)

      // retract excises the planted row, leaves the sidecars, and is
      // idempotent
      val before = spark.read.parquet(table).count()
      ix.retract(spark, Seq(999L).toDF("id"), "id", "vec_id")
      assert(spark.read.parquet(table).count() === before - copies)
      assert(!batched(ix, queryDf).map(_._2).contains(999L))
      assert(sidecars(dir) === trained, "retract moved the sidecars")
      ix.retract(spark, Seq(999L).toDF("id"), "id", "vec_id")
      assert(spark.read.parquet(table).count() === before - copies)
    }

  test("BQ encode packs sign bits exactly (toy vector, zero thresholds)") {
    val code = Seq(Tuple1(Array(1f, -1f, 0.5f, -0.5f))).toDF("v")
      .select(VectorCodec.Bq.Thresholds(Array(0.0, 0.0, 0.0, 0.0))
        .encode(col("v")).as("code"))
      .as[Seq[Long]].head()
    assert(code === Seq(5L)) // bits 0 and 2 set
    // and the packed width follows ⌈dim/64⌉
    val th = VectorCodec.Bq.Thresholds(Array.fill(dim)(0.0))
    val wide = Seq(Tuple1(Array.fill(dim)(1f))).toDF("v")
      .select(th.encode(col("v")).as("code"))
      .as[Seq[Long]].head()
    assert(wide.length === 2)
    assert(wide(0) === -1L)                 // 64 low bits all set
    assert(wide(1) === (1L << 32) - 1)      // 32 high bits set
    // the literal query code is bit-identical to the in-plan one
    val v = Array.fill(dim)(rnd.nextGaussian().toFloat)
    val t = VectorCodec.Bq.Thresholds(Array.fill(dim)(rnd.nextGaussian()))
    val inPlan = Seq(Tuple1(v)).toDF("v")
      .select(t.queryState(col("v"))).as[Seq[Long]].head()
    val literal = spark.range(1)
      .select(t.queryState(v.map(_.toDouble).toSeq)).as[Seq[Long]].head()
    assert(inPlan === literal)
  }

  test("BQ Hamming score: zero on self, symmetric, exact on a known pair") {
    val th = VectorCodec.Bq.Thresholds(Array(0.0))
    val df = Seq((Seq(5L, 0L), Seq(3L, 1L))).toDF("a", "b")
    val (ab, ba, aa) = df.select(
        th.score(col("a"), col("b")).as("ab"),
        th.score(col("b"), col("a")).as("ba"),
        th.score(col("a"), col("a")).as("aa"))
      .as[(Int, Int, Int)].head()
    assert(aa === 0)
    assert(ab === ba)
    assert(ab === 3) // xor word0 = 6 (2 bits), word1 = 1 (1 bit)
  }

  test("BQ batched recall vs brute force clears the oversample contract") {
    val dir = tmp("bq_recall")
    val queries = corpusDf.filter(pmod(col("vec_id"), lit(30)) === 0)
    val ix = FlatIndex(dir, VectorCodec.Bq)
    ix.write(corpusDf, "vec_id", "embedding")
    val truth = Similarity.bruteForceBatchTopK(corpusDf, "vec_id",
        "embedding", queries, "vec_id", "embedding", k = 5)
      .select("query_id", "vec_id")
    val approx = ix.batchTopK(spark, "vec_id", "embedding",
        queries, "vec_id", "embedding", k = 5, oversample = 16)
      .select("query_id", "vec_id")
    val total = truth.count()
    val found = truth.join(approx, Seq("query_id", "vec_id")).count()
    assert(found.toDouble / total >= 0.8,
      s"BQ recall ${found.toDouble / total} under 0.8")
  }
}
