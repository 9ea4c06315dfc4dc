package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.ingest.{CorpusPipeline, Watermark}
import graft.operators.CellAssigner.Voronoi

/** The daily corpus-builder loop end to end: bootstrap, cross-batch dedup
  * via the index, within-batch dedup, watermark advance, no-op rerun.
  * (Split into three classes — batch gates here, streaming in
  * [[CorpusPipelineStreamSpec]], maintenance in
  * [[CorpusPipelineMaintSpec]] — so the parallel test groups can overlap
  * what was one 9-minute suite.)
  */
class CorpusPipelineSpec extends AnyFunSuite with SparkFixture {
  import spark.implicits._

  private val base =
    "the quick brown fox jumps over the lazy dog near the old stone bridge " +
    "while rain falls softly on the quiet village below the tall mountains"
  private val nearDup = base.replace("quiet", "silent")
  private val fresh2 =
    "completely different content about database engines and distributed " +
    "query processing with columnar storage formats and shuffle services"

  test("two batches: near-dups of indexed docs are dropped, fresh docs land") {
    val dir = Files.createTempDirectory("corpus")
    val src = dir.resolve("src").toString
    val corpus = dir.resolve("corpus").toString
    val idx = dir.resolve("index").toString
    val wm = dir.resolve("wm.json").toString
    def pipeline = new CorpusPipeline(spark, src, corpus, idx, wm)

    // batch 1: one doc + an exact within-batch copy → bootstrap keeps 1
    Seq((1L, java.sql.Timestamp.valueOf("2024-01-01 00:00:00"), base),
        (2L, java.sql.Timestamp.valueOf("2024-01-01 01:00:00"), base))
      .toDF("doc_id", "ts", "text").write.mode("append").parquet(src)
    val r1 = pipeline.run()
    assert(r1.rowsWritten === 1)
    assert(spark.read.parquet(corpus).select("doc_id").as[Long]
      .collect().toSeq === Seq(1L))
    assert(Watermark.read(wm).get.startsWith("2024-01-01 01"))

    // batch 2: a near-dup of the INDEXED doc 1 plus a genuinely new doc —
    // only the new doc may land, but the watermark covers both
    Seq((3L, java.sql.Timestamp.valueOf("2024-01-02 00:00:00"), nearDup),
        (4L, java.sql.Timestamp.valueOf("2024-01-02 01:00:00"), fresh2))
      .toDF("doc_id", "ts", "text").write.mode("append").parquet(src)
    val r2 = pipeline.run()
    assert(r2.rowsWritten === 1)
    assert(spark.read.parquet(corpus).select("doc_id").as[Long]
      .collect().toSet === Set(1L, 4L))
    assert(Watermark.read(wm).get.startsWith("2024-01-02 01"))

    // rerun with nothing new: C3 short-circuit
    val r3 = pipeline.run()
    assert(r3.rowsWritten === 0)
    assert(spark.read.parquet(corpus).count() === 2)

    // the index now answers for BOTH corpus generations
    val probe = Seq((9L, fresh2)).toDF("doc_id", "text")
    val hits = graft.operators.Dedup
      .dedupAgainstIndex(probe, "doc_id", "text", idx, 0.8)
      .as[(Long, Long, Double)].collect()
    assert(hits.map(_._2).toSeq === Seq(4L))
  }

  test("quality gates run before the dedup gate; watermark still covers " +
      "gate-failed docs") {
    import graft.functions.TextAnalysis
    val dir = Files.createTempDirectory("corpus_gated")
    val src = dir.resolve("src").toString
    val corpus = dir.resolve("corpus").toString
    val idx = dir.resolve("index").toString
    val wm = dir.resolve("wm.json").toString
    val gates = Seq(
      "tokens" -> (TextAnalysis.tokenCount(col("text")) >= 8),
      "lang" -> (TextAnalysis.langId(col("text")) === "en"))
    def pipeline = new CorpusPipeline(spark, src, corpus, idx, wm,
      gates = gates)

    // one good doc, one too-short doc, one German doc (latest ts)
    Seq((1L, java.sql.Timestamp.valueOf("2024-01-01 00:00:00"), base),
        (2L, java.sql.Timestamp.valueOf("2024-01-01 01:00:00"), "too short"),
        (3L, java.sql.Timestamp.valueOf("2024-01-01 02:00:00"),
          "der hund und die katze ist nicht mit das ein haus der garten"))
      .toDF("doc_id", "ts", "text").write.mode("append").parquet(src)
    val r1 = pipeline.run()
    assert(r1.rowsWritten === 1)
    assert(spark.read.parquet(corpus).select("doc_id").as[Long]
      .collect().toSeq === Seq(1L))
    // watermark advanced past the REJECTED doc's ts — gate failures are
    // processed, not retried forever
    assert(Watermark.read(wm).get.startsWith("2024-01-01 02"))
    val r2 = pipeline.run()
    assert(r2.rowsWritten === 0)
  }

  test("decontamination gate drops docs sharing a benchmark n-gram " +
      "before they reach the corpus") {
    val dir = Files.createTempDirectory("corpus_decon")
    val src = dir.resolve("src").toString
    val corpus = dir.resolve("corpus").toString
    val idx = dir.resolve("index").toString
    val wm = dir.resolve("wm.json").toString
    val benchDir = dir.resolve("bench").toString
    // the benchmark contains base's opening 8-gram verbatim
    Seq((100L, base.split(" ").take(12).mkString(" ")))
      .toDF("doc_id", "text").write.parquet(benchDir)
    val pipeline = new CorpusPipeline(spark, src, corpus, idx, wm,
      benchmarkPath = Some(benchDir))
    Seq((1L, java.sql.Timestamp.valueOf("2024-01-01 00:00:00"), base),
        (2L, java.sql.Timestamp.valueOf("2024-01-01 01:00:00"), fresh2))
      .toDF("doc_id", "ts", "text").write.mode("append").parquet(src)
    val r = pipeline.run()
    // doc 1 is contaminated (contains the benchmark 8-gram), doc 2 lands
    assert(r.rowsWritten === 1)
    assert(spark.read.parquet(corpus).select("doc_id").as[Long]
      .collect().toSeq === Seq(2L))
    assert(Watermark.read(wm).get.startsWith("2024-01-01 01"))
  }

  test("corpus loop maintains an ANN index alongside the dedup index: " +
      "bootstrap on batch 1, append batch 2 with frozen sidecars, serve both") {
    import graft.operators.{CellIndex, Pq}
    val dir = Files.createTempDirectory("corpus_ann")
    val src = dir.resolve("src").toString
    val corpus = dir.resolve("corpus").toString
    val idx = dir.resolve("index").toString
    val ann = dir.resolve("ann").toString
    val wm = dir.resolve("wm.json").toString
    val rnd = new scala.util.Random(7)
    def vec(): Array[Float] = Array.fill(16)(rnd.nextGaussian().toFloat)
    val v1 = vec(); val v2 = vec(); val v3 = vec()
    // minTrainRows = 1: batch 1's two docs reach the training mass, so the
    // sidecars freeze immediately and batch 2 must APPEND with them
    def pipeline = new CorpusPipeline(spark, src, corpus, idx, wm,
      embeddingCol = Some("embedding"), annIndexPath = Some(ann),
      annNlist = 2, annM = 8, annK = 8, annMinTrainRows = 1)

    Seq((1L, java.sql.Timestamp.valueOf("2024-01-01 00:00:00"), base, v1),
        (2L, java.sql.Timestamp.valueOf("2024-01-01 01:00:00"), fresh2, v2))
      .toDF("doc_id", "ts", "text", "embedding")
      .write.mode("append").parquet(src)
    assert(pipeline.run().rowsWritten === 2)
    assert(new java.io.File(s"$ann/centroids").exists()) // bootstrapped
    val centsBefore = spark.read.parquet(s"$ann/centroids")
      .collect().map(_.toString).sorted.toSeq

    val extra = "a third document about entirely unrelated astronomy and " +
      "telescopes observing distant galaxies through clear winter skies"
    Seq((3L, java.sql.Timestamp.valueOf("2024-01-02 00:00:00"), extra, v3))
      .toDF("doc_id", "ts", "text", "embedding")
      .write.mode("append").parquet(src)
    assert(pipeline.run().rowsWritten === 1)
    // append froze the sidecars (encoded comparably to batch 1)
    assert(spark.read.parquet(s"$ann/centroids")
      .collect().map(_.toString).sorted.toSeq === centsBefore)

    // the ONE maintained index serves vectors from BOTH batches
    val rawCorpus = spark.read.parquet(corpus)
    def top1(q: Array[Float]): Long =
      CellIndex(ann, Voronoi(nprobe = 2), Pq.Codec()).topK(spark, "doc_id",
          "embedding", Seq((0L, q)).toDF("vec_id", "embedding"), "embedding",
          1, rawCorpus = Some(rawCorpus))
        .as[(Long, Double)].collect().head._1
    assert(top1(v1) === 1L)
    assert(top1(v3) === 3L)
  }

  test("perplexity gate: word-soup dropped against a FROZEN reference LM, " +
      "fluent doc lands, watermark covers both") {
    import graft.operators.Lm
    val dir = Files.createTempDirectory("corpus_lm")
    val src = dir.resolve("src").toString
    val corpus = dir.resolve("corpus").toString
    val idx = dir.resolve("index").toString
    val lmIdx = dir.resolve("lm").toString
    val wm = dir.resolve("wm.json").toString
    // frozen reference LM: repetitive fluent English (the curated-corpus
    // stand-in), built ONCE before any batch
    val reference = ((1L to 10L).map(i =>
      (i, base)) :+ (11L, fresh2)).toDF("doc_id", "text")
    Lm.writeLmIndex(reference, "text", lmIdx)

    val fluent = "the quick brown fox jumps over the lazy dog while rain " +
      "falls softly on the quiet village"
    val soup = "bridge fox the dog village quick softly mountains rain " +
      "lazy below stone jumps quiet the brown"
    // derive the gate threshold from the actual frozen-LM scores so the
    // test pins the ORDERING (fluent < soup), not absolute ppl values
    val ppls = Lm.perplexityAgainstIndex(
        Seq((1L, fluent), (2L, soup)).toDF("doc_id", "text"),
        "doc_id", "text", lmIdx)
      .as[(Long, Long, Double)].collect().map(r => r._1 -> r._3).toMap
    assert(ppls(1L) < ppls(2L),
      s"fixture broken: fluent ${ppls(1L)} !< soup ${ppls(2L)}")
    val cut = (ppls(1L) + ppls(2L)) / 2

    val pipeline = new CorpusPipeline(spark, src, corpus, idx, wm,
      lmIndexPath = Some(lmIdx), lmMaxPpl = cut)
    Seq((1L, java.sql.Timestamp.valueOf("2024-01-01 00:00:00"), fluent),
        (2L, java.sql.Timestamp.valueOf("2024-01-01 01:00:00"), soup))
      .toDF("doc_id", "ts", "text").write.mode("append").parquet(src)
    val r = pipeline.run()
    assert(r.rowsWritten === 1)
    assert(spark.read.parquet(corpus).select("doc_id").as[Long]
      .collect().toSeq === Seq(1L))
    // the rejected doc is processed, not retried forever
    assert(Watermark.read(wm).get.startsWith("2024-01-01 01"))
    assert(pipeline.run().rowsWritten === 0)
  }

  test("DSIR gate: off-target doc dropped against a FROZEN importance " +
      "index, on-target doc lands, no-evidence doc passes") {
    import graft.operators.Dsir
    val dir = Files.createTempDirectory("corpus_dsir")
    val src = dir.resolve("src").toString
    val corpus = dir.resolve("corpus").toString
    val idx = dir.resolve("index").toString
    val dsIdx = dir.resolve("dsir").toString
    val wm = dir.resolve("wm.json").toString
    // frozen index: target = spark prose, raw = target + cooking prose —
    // both models fitted ONCE before any batch (the paper's convention)
    val target = Seq((100L, "spark shuffle join spark shuffle join"),
      (101L, "spark join shuffle spark join")).toDF("doc_id", "text")
    val rawSample = target.union(Seq(
      (200L, "bake flour sugar bake flour sugar"),
      (201L, "flour sugar bake flour")).toDF("doc_id", "text"))
    Dsir.writeDsirIndex(rawSample, target, "text", dsIdx)
    val onT = "spark shuffle join spark"
    val offT = "bake flour sugar bake"
    val ws = Dsir.weightsAgainstIndex(
        Seq((1L, onT), (2L, offT)).toDF("doc_id", "text"),
        "doc_id", "text", dsIdx)
      .as[(Long, Long, Double)].collect().map(r => r._1 -> r._3).toMap
    assert(ws(1L) > ws(2L),
      s"fixture broken: on-target ${ws(1L)} !> off-target ${ws(2L)}")
    val cut = (ws(1L) + ws(2L)) / 2
    val pipeline = new CorpusPipeline(spark, src, corpus, idx, wm,
      dsirIndexPath = Some(dsIdx), dsirMinLogw = cut)
    Seq((1L, java.sql.Timestamp.valueOf("2024-01-01 00:00:00"), onT),
        (2L, java.sql.Timestamp.valueOf("2024-01-01 01:00:00"), offT),
        (3L, java.sql.Timestamp.valueOf("2024-01-01 02:00:00"), "solo"))
      .toDF("doc_id", "ts", "text").write.mode("append").parquet(src)
    val r = pipeline.run()
    assert(r.rowsWritten === 2) // on-target + the no-evidence doc
    assert(spark.read.parquet(corpus).select("doc_id").as[Long]
      .collect().toSeq.sorted === Seq(1L, 3L))
    assert(Watermark.read(wm).get.startsWith("2024-01-01 02"))
    assert(pipeline.run().rowsWritten === 0)
  }

  test("trained-classifier gate: low-quality doc dropped against a " +
      "FROZEN LR model sidecar, high-quality doc lands") {
    import graft.operators.Classifier
    val dir = Files.createTempDirectory("corpus_lr")
    val src = dir.resolve("src").toString
    val corpus = dir.resolve("corpus").toString
    val idx = dir.resolve("index").toString
    val model = dir.resolve("lr").toString
    val wm = dir.resolve("wm.json").toString
    // model trained ONCE on labeled prose before any batch, then frozen
    val labeled = ((0L until 30L).map(i =>
        (i, "clean curated prose data table row", 1)) ++
      (30L until 60L).map(i => (i, "spam junk click scam spam junk", 0)))
      .toDF("doc_id", "text", "y")
    Classifier.writeLrModel(
      Classifier.trainLogReg(labeled, "doc_id", "text", "y",
        buckets = 256, iterations = 25),
      buckets = 256, model)
    val good = "clean curated prose table"
    val bad = "spam junk click scam"
    val ps = Classifier.scoreAgainstModel(
        Seq((1L, good), (2L, bad)).toDF("doc_id", "text"),
        "doc_id", "text", model)
      .select("doc_id", "p").as[(Long, Double)].collect().toMap
    assert(ps(1L) > ps(2L),
      s"fixture broken: good ${ps(1L)} !> bad ${ps(2L)}")
    val pipeline = new CorpusPipeline(spark, src, corpus, idx, wm,
      lrModelPath = Some(model), lrMinP = (ps(1L) + ps(2L)) / 2)
    Seq((1L, java.sql.Timestamp.valueOf("2024-01-01 00:00:00"), good),
        (2L, java.sql.Timestamp.valueOf("2024-01-01 01:00:00"), bad))
      .toDF("doc_id", "ts", "text").write.mode("append").parquet(src)
    val r = pipeline.run()
    assert(r.rowsWritten === 1)
    assert(spark.read.parquet(corpus).select("doc_id").as[Long]
      .collect().toSeq === Seq(1L))
    // the rejected doc is processed, not retried forever
    assert(Watermark.read(wm).get.startsWith("2024-01-01 01"))
    assert(pipeline.run().rowsWritten === 0)
  }

  test("ANN sidecar freeze boundary: recall immediately after the freeze " +
      "matches a full rebuild on the same corpus") {
    import graft.operators.{CellIndex, Pq}
    val dir = Files.createTempDirectory("corpus_freeze")
    val src = dir.resolve("src").toString
    val corpus = dir.resolve("corpus").toString
    val idx = dir.resolve("index").toString
    val ann = dir.resolve("ann").toString
    val wm = dir.resolve("wm.json").toString
    val rnd = new scala.util.Random(13)
    def vec(): Array[Float] = Array.fill(16)(rnd.nextGaussian().toFloat)
    val vs = (1 to 7).map(_ => vec())
    val texts = Seq(
      "alpha document about mountain weather patterns and seasonal storms",
      "beta text concerning maritime navigation and coastal lighthouses",
      "gamma entry on medieval architecture and stone cathedral builders",
      "delta notes about orchestral composition and string instruments",
      "epsilon records of desert botany and succulent plant adaptations",
      "zeta survey of deep sea creatures and bioluminescent organisms",
      "eta review of ancient trade routes and silk road caravans")
    // minTrainRows = 4: batch 1 (3 docs) stays in the rebuild regime,
    // batch 2 (2 docs, corpus 5) rebuilds AND crosses the training mass,
    // batch 3 (2 docs) is the first FROZEN append — the boundary case
    def pipeline = new CorpusPipeline(spark, src, corpus, idx, wm,
      embeddingCol = Some("embedding"), annIndexPath = Some(ann),
      annNlist = 4, annM = 8, annK = 8, annMinTrainRows = 4)
    def feed(ids: Range, day: Int): Unit =
      ids.map(i => (i.toLong,
          java.sql.Timestamp.valueOf(f"2024-01-0$day 00:0$i:00"),
          texts(i - 1), vs(i - 1)))
        .toDF("doc_id", "ts", "text", "embedding")
        .write.mode("append").parquet(src)
    feed(1 to 3, 1); assert(pipeline.run().rowsWritten === 3)
    feed(4 to 5, 2); assert(pipeline.run().rowsWritten === 2)
    assert(spark.read.parquet(s"$ann/trained_meta")
      .as[Long].head() === 5L) // trained at the boundary crossing
    feed(6 to 7, 3); assert(pipeline.run().rowsWritten === 2)
    // still 5: batch 3 appended with FROZEN sidecars, no retrain
    assert(spark.read.parquet(s"$ann/trained_meta").as[Long].head() === 5L)

    // reference: a full rebuild over the SAME final corpus
    val rawCorpus = spark.read.parquet(corpus)
    val rebuilt = dir.resolve("rebuilt").toString
    CellIndex(rebuilt, Voronoi(nlist = 4, kmeansIters = 2),
      Pq.Codec(m = 8, k = 8))
      .write(rawCorpus, "doc_id", "embedding")
    def top1(path: String, q: Array[Float]): Long =
      CellIndex(path, Voronoi(nprobe = 2), Pq.Codec()).topK(spark, "doc_id",
          "embedding", Seq((0L, q)).toDF("vec_id", "embedding"), "embedding",
          1, rawCorpus = Some(rawCorpus))
        .as[(Long, Double)].collect().head._1
    // every corpus vector — batch-3's post-freeze appends included — must
    // resolve to itself through the frozen-sidecar index exactly as it
    // does through the rebuild: freezing must not cliff recall
    for (i <- 1 to 7) {
      assert(top1(ann, vs(i - 1)) === i.toLong, s"frozen index, doc $i")
      assert(top1(rebuilt, vs(i - 1)) === i.toLong, s"rebuilt index, doc $i")
    }
    // and a noisy near-neighbor probe of a post-freeze vector agrees
    val noisy = vs(6).map(x => x + 0.01f * rnd.nextGaussian().toFloat)
    assert(top1(ann, noisy) === top1(rebuilt, noisy))
  }

  test("SQ8 sidecar freeze boundary: frozen-params appends serve like " +
      "the built rows") {
    import graft.ingest.CorpusPipeline
    import graft.operators.{FlatIndex, VectorCodec}
    val dir = Files.createTempDirectory("corpus_sq")
    val corpus = dir.resolve("corpus").toString
    val idx = dir.resolve("index").toString
    val sqp = dir.resolve("sq").toString
    val rnd = new scala.util.Random(17)
    val vs = (1 to 6).map(_ => Array.fill(16)(rnd.nextGaussian().toFloat))
    val texts = Seq(
      "alpha document about mountain weather patterns and seasonal storms",
      "beta text concerning maritime navigation and coastal lighthouses",
      "gamma entry on medieval architecture and stone cathedral builders",
      "delta notes about orchestral composition and string instruments",
      "epsilon records of desert botany and succulent plant adaptations",
      "zeta survey of deep sea creatures and bioluminescent organisms")
    def batchDf(ids: Range) =
      ids.map(i => (i.toLong, texts(i - 1), vs(i - 1)))
        .toDF("doc_id", "text", "embedding")
    val cfg = CorpusPipeline.SqIndexCfg(sqp, "embedding", minTrainRows = 4)
    def run(ids: Range): Long = CorpusPipeline.dedupAndAppend(
      batchDf(ids), corpus, idx, "doc_id", "text", 0.8, sq = Some(cfg))
    assert(run(1 to 3) === 3) // rebuild regime
    assert(spark.read.parquet(s"$sqp/trained_meta").as[Long].head() === 3L)
    assert(run(4 to 5) === 2) // rebuild AND crosses minTrainRows
    assert(spark.read.parquet(s"$sqp/trained_meta").as[Long].head() === 5L)
    assert(run(6 to 6) === 1) // first FROZEN append
    assert(spark.read.parquet(s"$sqp/trained_meta").as[Long].head() === 5L)
    // every corpus vector — the post-freeze append included — resolves to
    // itself through the maintained index
    val queries = (1 to 6).map(i => (100L + i, vs(i - 1)))
      .toDF("vec_id", "embedding")
    val top1 = FlatIndex(sqp, VectorCodec.Sq8).batchTopK(spark, "doc_id",
        "embedding", queries, "vec_id", "embedding", k = 1)
      .as[(Long, Long, Double)].collect()
      .map(r => (r._1 - 100L, r._2)).toMap
    for (i <- 1 to 6) assert(top1(i.toLong) === i.toLong, s"doc $i")
  }
}
