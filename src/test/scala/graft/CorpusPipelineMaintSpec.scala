package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.ingest.{CorpusPipeline, Watermark}
import graft.operators.CellAssigner.Voronoi

/** The MAINTENANCE half of the corpus-builder loop specs: compaction
  * cadences, imbalance-triggered rebuilds, triage, provenance and
  * sidecar upkeep. Split from [[CorpusPipelineSpec]] for test-group
  * packing.
  */
class CorpusPipelineMaintSpec extends AnyFunSuite with SparkFixture {
  import spark.implicits._

  private val base =
    "the quick brown fox jumps over the lazy dog near the old stone bridge " +
    "while rain falls softly on the quiet village below the tall mountains"
  private val nearDup = base.replace("quiet", "silent")
  private val fresh2 =
    "completely different content about database engines and distributed " +
    "query processing with columnar storage formats and shuffle services"

  // gates pass everything through — these tests exercise maintenance, not
  // dedup decisions
  private def prose(i: Long): String =
    s"document $i covers subject${i} theme${i * 7} aspect${i * 13} " +
      s"detail${i * 17} note${i * 19} item${i * 23} point${i * 29} " +
      s"case${i * 31} part${i * 37} unit${i * 41} topic${i * 43}"

  test("compactEvery: 20 appended batches keep the index file count " +
      "bounded; serving unchanged by the maintenance pass") {
    import graft.ingest.CorpusPipeline.{AnnIndex, SqIndexCfg}
    import graft.operators.{CellIndex, Pq}
    val dir = Files.createTempDirectory("corpus_compact_every")
    val corpus = dir.resolve("corpus").toString
    val idx = dir.resolve("index").toString
    val ann = dir.resolve("ann").toString
    val sqp = dir.resolve("sq").toString
    val rnd = new scala.util.Random(5)
    def vec(): Array[Float] = Array.fill(16)(rnd.nextGaussian().toFloat)
    val planted = vec()
    def batch(b: Int) = {
      val docs = (0 until 4).map { j =>
        val id = b * 100L + j
        (id, prose(id), if (id == 100L) planted else vec())
      }
      docs.toDF("doc_id", "text", "embedding")
    }
    val annCfg = AnnIndex(ann, "embedding", nlist = 2, m = 8, k = 8,
      minTrainRows = 4, compactEvery = 5)
    val sqCfg = SqIndexCfg(sqp, "embedding", minTrainRows = 4,
      compactEvery = 5)
    (1 to 20).foreach { b =>
      CorpusPipeline.dedupAndAppend(batch(b), corpus, idx, "doc_id",
        "text", 0.8, ann = Some(annCfg), sq = Some(sqCfg),
        indexCompactEvery = 5)
    }
    def parquetFiles(root: java.io.File): Int = {
      def walk(f: java.io.File): Int =
        if (f.isDirectory)
          Option(f.listFiles()).getOrElse(Array.empty)
            .filterNot(_.getName.startsWith(".")).map(walk).sum
        else if (f.getName.endsWith(".parquet")) 1 else 0
      walk(root)
    }
    // 19 frozen appends × (1 file per touched cell) would accumulate ~20+
    // files per cell without maintenance; the every-5 cadence bounds it
    val codeFiles = parquetFiles(new java.io.File(s"$ann/codes"))
    assert(codeFiles <= 12,
      s"codes table not compacted: $codeFiles files")
    val sqFiles = parquetFiles(new java.io.File(s"$sqp/data"))
    assert(sqFiles <= 8, s"sq data not compacted: $sqFiles files")
    // the MinHash gate index compacts on the same cadence — and the gate
    // still works: batch 21 re-sent must dedup fully against it
    val mhFiles = parquetFiles(new java.io.File(s"$idx/data"))
    assert(mhFiles <= 8, s"minhash index not compacted: $mhFiles files")
    val replay = CorpusPipeline.dedupAndAppend(batch(20), corpus, idx,
      "doc_id", "text", 0.8, ann = Some(annCfg), sq = Some(sqCfg),
      indexCompactEvery = 5)
    assert(replay === 0L, "replayed batch must match the compacted index")
    // the counter sidecar is invisible to Spark scans and survives
    assert(new java.io.File(s"$ann/_maint_appends").exists())
    // maintenance preserved the index contents: every appended doc's code
    // row is present exactly once, and the planted vector still serves
    val total = spark.read.parquet(corpus).count()
    assert(spark.read.parquet(s"$ann/codes").count() === total)
    assert(spark.read.parquet(s"$sqp/data").count() === total)
    val top = CellIndex(ann, Voronoi(nprobe = 2), Pq.Codec())
      .topK(spark, "doc_id",
        "embedding", Seq((0L, planted)).toDF("vec_id", "embedding"),
        "embedding", 1, oversample = 8,
        rawCorpus = Some(spark.read.parquet(corpus)))
      .as[(Long, Double)].collect()
    assert(top.head._1 === 100L, s"planted vector lost: ${top.toSeq}")
  }

  test("imbalance-triggered rebuild trains on a SAMPLE " +
      "(trainSampleFraction) and still restores serving") {
    import graft.ingest.CorpusPipeline.AnnIndex
    import graft.operators.{CellIndex, Pq}
    val dir = Files.createTempDirectory("corpus_recluster_sample")
    val corpus = dir.resolve("corpus").toString
    val idx = dir.resolve("index").toString
    val ann = dir.resolve("ann").toString
    val dim = 16
    val rnd = new scala.util.Random(9)
    // direction clusters matched to the index's dot-product geometry
    def member(axis: Int, bias: Double = 0.0): Array[Float] = {
      val v = Array.fill(dim)(0.05f * rnd.nextGaussian().toFloat)
      v(axis) = v(axis) + 5f
      if (bias != 0.0) v(0) = v(0) + bias.toFloat
      v
    }
    val annCfg = AnnIndex(ann, "embedding", nlist = 4, m = 8, k = 8,
      kmeansIters = 2, minTrainRows = 8,
      reclusterImbalance = 1.4, trainSampleFraction = 0.5)
    // batch 1 (two balanced direction clusters, ids interleaved so the
    // deterministic seeds cover both directions) trains and freezes; an
    // 80-vector pile-up into one of ≤4 cells then pushes max/mean past
    // 1.4 whether the balanced build populated 2, 3, or 4 cells
    val b1 = (1 to 80).map(i =>
      (i.toLong, prose(i), member(i % 2)))
      .toDF("doc_id", "text", "embedding")
    CorpusPipeline.dedupAndAppend(b1, corpus, idx, "doc_id", "text", 0.8,
      ann = Some(annCfg))
    val trained1 = spark.read.parquet(s"$ann/trained_meta")
      .as[Long].head()
    assert(trained1 === 80L)
    // batch 2: a drifted THIRD direction with an e0 bias — the frozen
    // centroids pile it into one hot cell, tripping the imbalance
    // threshold, and the rebuild retrains on a 50% seeded sample
    val b2 = (101 to 180).map(i =>
      (i.toLong, prose(i), member(2, bias = 0.5)))
      .toDF("doc_id", "text", "embedding")
    CorpusPipeline.dedupAndAppend(b2, corpus, idx, "doc_id", "text", 0.8,
      ann = Some(annCfg))
    // the rebuild happened: trained_meta advanced to the full corpus size
    val trained2 = spark.read.parquet(s"$ann/trained_meta")
      .as[Long].head()
    assert(trained2 === 160L,
      s"imbalance rebuild did not run (trained_meta=$trained2)")
    // and the sample-trained geometry serves the drifted direction: a
    // query down e2 finds a drifted member with limited probing
    val top = CellIndex(ann, Voronoi(nprobe = 2), Pq.Codec())
      .topK(spark, "doc_id",
        "embedding", Seq((0L, member(2, bias = 0.5))).toDF("vec_id",
          "embedding"), "embedding", 3, oversample = 8,
        rawCorpus = Some(spark.read.parquet(corpus)))
      .as[(Long, Double)].collect()
    assert(top.forall(_._1 >= 101L),
      s"drifted cluster not recalled after sample rebuild: ${top.toSeq}")
  }

  test("quarantine triage: released under an updated reference, admitted " +
      "exactly once, still-divergent queue left in place") {
    import graft.streaming.{CorpusStream, DriftMonitor}
    import graft.operators.Divergence
    val dir = Files.createTempDirectory("corpus_triage")
    val src = dir.resolve("src").toString
    val corpus = dir.resolve("corpus").toString
    val idx = dir.resolve("index").toString
    val ckpt = dir.resolve("ckpt").toString
    val refA = dir.resolve("refA").toString
    val refB = dir.resolve("refB").toString
    val quar = dir.resolve("quarantine").toString
    val metrics = dir.resolve("metrics").toString
    // reference A: English prose — the vocabulary the gate was tuned for
    Divergence.writeReferenceCounts(
      Seq((0L, base), (1L, fresh2)).toDF("doc_id", "text"), "text", refA)
    val gate = DriftMonitor.Gate(refA, maxJs = 0.15, quar, metrics)
    val schema = Seq((0L, "")).toDF("doc_id", "text").schema
    // wave 1 lands; wave 2 (disjoint vocabulary, spam-flood mass) is
    // quarantined under reference A
    val garbled = (("zzqx wvvk pqzt mmnb rrdd zzqx wvvk pqzt ggfh jjkl " +
      "qqww eerr ttyy uuii oopp aass ddff gghh jjkk llzz xxcc vvbb ") * 25)
      .trim
    Seq((1L, base)).toDF("doc_id", "text").write.mode("append").parquet(src)
    val q1 = CorpusStream.start(spark, src, schema, corpus, idx, ckpt,
      drift = Some(gate)); q1.awaitTermination()
    Seq((2L, garbled), (3L, garbled + " nnmm")).toDF("doc_id", "text")
      .write.mode("append").parquet(src)
    val q2 = CorpusStream.start(spark, src, schema, corpus, idx, ckpt,
      drift = Some(gate)); q2.awaitTermination()
    assert(spark.read.parquet(quar).count() === 2)
    assert(spark.read.parquet(corpus).count() === 1)
    // a SECOND shifted batch with a disjoint vocabulary of its own — the
    // mixed-queue case per-batch triage exists for
    val garbled2 = (("foo1 bar2 baz3 qux4 quux5 foo1 bar2 baz3 corge6 " +
      "grault7 garply8 waldo9 fred0 plugh1 xyzzy2 thud3 foo1 bar2 ") * 25)
      .trim
    Seq((5L, garbled2)).toDF("doc_id", "text")
      .write.mode("append").parquet(src)
    val q3 = CorpusStream.start(spark, src, schema, corpus, idx, ckpt,
      drift = Some(gate)); q3.awaitTermination()
    assert(spark.read.parquet(quar).count() === 3,
      "both shifted batches must be queued")
    // triage under the SAME (stale) reference: both batches still
    // divergent → queue untouched, nothing admitted
    val still = CorpusStream.reprocessQuarantine(spark, quar, refA, 0.15,
      corpus, idx, metricsPath = Some(metrics))
    assert(still.batches === 2L && still.released === 0L &&
      still.admitted === 0L)
    assert(spark.read.parquet(quar).count() === 3, "queue must stay put")
    // the operator refits the reference to the FIRST shifted vocabulary
    // (that drift was real change, not breakage): per-batch re-gating
    // releases batch 1 only — pooled gating would have measured the
    // mixture and could decide either way for both
    Divergence.writeReferenceCounts(
      Seq((0L, garbled)).toDF("doc_id", "text"), "text", refB)
    val partial = CorpusStream.reprocessQuarantine(spark, quar, refB, 0.15,
      corpus, idx, metricsPath = Some(metrics))
    assert(partial.batches === 2L && partial.released === 1L,
      s"exactly the matching batch must clear: $partial")
    // of the released batch, doc 2 lands and doc 3 (its within-batch
    // near-dup) is deduped by the normal gate chain
    assert(partial.admitted === 1L)
    assert(spark.read.parquet(corpus).select("doc_id").as[Long]
      .collect().toSet === Set(1L, 2L))
    // the still-toxic batch survives the partial-release queue rewrite
    val held = spark.read.parquet(quar)
    assert(held.select("doc_id").as[Long].collect().toSeq === Seq(5L))
    // refit to the second vocabulary: the held batch clears, queue drains
    val refC = dir.resolve("refC").toString
    Divergence.writeReferenceCounts(
      Seq((0L, garbled2)).toDF("doc_id", "text"), "text", refC)
    val drained = CorpusStream.reprocessQuarantine(spark, quar, refC, 0.15,
      corpus, idx)
    assert(drained.batches === 1L && drained.released === 1L &&
      drained.admitted === 1L, s"$drained")
    assert(!new java.io.File(quar).exists(), "queue not drained")
    assert(spark.read.parquet(corpus).select("doc_id").as[Long]
      .collect().toSet === Set(1L, 2L, 5L))
    // exactly-once under retry: recreate the queue as a crash between the
    // appends and the queue rewrite would leave it (legacy untagged
    // layout — triages as one batch) — reprocessing admits 0 (every doc
    // matches its own indexed signatures) and drains cleanly
    Seq((2L, garbled), (3L, garbled + " nnmm")).toDF("doc_id", "text")
      .write.mode("append").parquet(quar)
    val retry = CorpusStream.reprocessQuarantine(spark, quar, refB, 0.15,
      corpus, idx)
    assert(retry.batches === 1L && retry.released === 1L &&
      retry.admitted === 0L, s"retry must dedup everything: $retry")
    assert(spark.read.parquet(corpus).count() === 3)
    // per-batch triage measurements are in the metrics log (2 from the
    // stale-reference attempt + 2 from the partial release), batch_id -1
    val triageRows = spark.read.parquet(metrics)
      .where(col("batch_id") === -1L).count()
    assert(triageRows === 4L)
  }

  test("adaptive gate from the sketch sidecar: the length cut tracks the " +
      "accepted corpus's own upper quartile — bootstrap passes, later " +
      "batches are judged by corpus history") {
    import graft.sources.SketchSidecar
    val dir = Files.createTempDirectory("corpus_adaptive")
    val corpus = dir.resolve("corpus").toString
    val idx = dir.resolve("index").toString
    val cfg = SketchSidecar.Cfg(dir.resolve("sketch").toString,
      distinctExpr = "doc_id", valueExpr = "length(text)")
    def threshold(): Option[Double] =
      SketchSidecar.servedThreshold(spark, cfg.sidecarPath, 0.75)
        .collect().headOption.map(_.getAs[Double]("threshold"))
    def text(i: Int, words: Int) =
      (1 to words).map(j => s"a${i}x$j").mkString(" ")
    def run(rows: Seq[(Long, String)]): Long = {
      // threshold read BEFORE the batch appends its own sketch row
      val thr = threshold()
      val gates = thr.toSeq.map(t =>
        "adaptive_len" -> (length(col("text")) >= t))
      CorpusPipeline.dedupAndAppend(rows.toDF("doc_id", "text"), corpus,
        idx, "doc_id", "text", 0.8, gates = gates, sketch = Some(cfg))
    }
    // bootstrap: no history, no adaptive gate — everything lands
    assert(threshold().isEmpty)
    assert(run(Seq((1L, text(1, 10)), (2L, text(2, 30)))) === 2L)
    // the corpus's p75 length lands on the longer doc: a batch of
    // short docs is cut by the corpus's OWN distribution, not a
    // hand-frozen constant; a long doc passes
    val thr = threshold()
    assert(thr.nonEmpty && thr.get > text(1, 10).length &&
      thr.get <= text(2, 30).length, s"p75 threshold $thr")
    assert(run(Seq((3L, text(3, 10)), (4L, text(4, 35)))) === 1L)
    assert(spark.read.parquet(corpus).select("doc_id").as[Long]
      .collect().toSet === Set(1L, 2L, 4L))
    // and the sidecar accounts survivors only, so the threshold keeps
    // tracking the ACCEPTED corpus (now 3 docs)
    assert(spark.read.parquet(cfg.sidecarPath).count() === 2)
  }

  test("rowMergeEvery: the loop row-merges the sketch sidecar on its " +
      "cadence, serves survive, and appends keep landing after") {
    import graft.sources.SketchSidecar
    val dir = Files.createTempDirectory("corpus_rowmerge")
    val corpus = dir.resolve("corpus").toString
    val idx = dir.resolve("index").toString
    val cfg = SketchSidecar.Cfg(dir.resolve("sketch").toString,
      distinctExpr = "doc_id", valueExpr = "length(text)",
      rowMergeEvery = 2)
    def docsBatch(ids: Seq[Long]) = ids.map(i =>
      (i, (1 to 12).map(j => s"w${i}x$j").mkString(" ")))
      .toDF("doc_id", "text")
    CorpusPipeline.dedupAndAppend(docsBatch(Seq(1L, 2L)), corpus, idx,
      "doc_id", "text", 0.8, sketch = Some(cfg))
    assert(spark.read.parquet(cfg.sidecarPath).count() === 1L)
    CorpusPipeline.dedupAndAppend(docsBatch(Seq(3L, 4L)), corpus, idx,
      "doc_id", "text", 0.8, sketch = Some(cfg))
    // second append hit the cadence: two rows merged to one
    assert(spark.read.parquet(cfg.sidecarPath).count() === 1L,
      "cadence must row-merge 2 batch rows into 1")
    assert(SketchSidecar.servedDistinct(spark, cfg.sidecarPath)
      .collect().head.getLong(1) === 4L)
    // the loop continues: the next append lands NEXT to the merged row
    CorpusPipeline.dedupAndAppend(docsBatch(Seq(5L)), corpus, idx,
      "doc_id", "text", 0.8, sketch = Some(cfg))
    assert(spark.read.parquet(cfg.sidecarPath).count() === 2L)
    assert(SketchSidecar.servedDistinct(spark, cfg.sidecarPath)
      .collect().head.getLong(1) === 5L)
  }

  test("media gate: payload near-dups of the indexed corpus and within " +
      "the batch are dropped before the text gate, fingerprints decode " +
      "once and append after the MinHash commit, replay admits nothing") {
    import graft.operators.Multimodal
    val dir = Files.createTempDirectory("corpus_media")
    val corpus = dir.resolve("corpus").toString
    val idx = dir.resolve("index").toString
    val mediaIdx = dir.resolve("media_index").toString
    val gate = Some(CorpusPipeline.MediaGate(mediaIdx, "img"))
    def text(i: Long) = (1 to 12).map(j => s"w${i}x$j").mkString(" ")
    def img(seed: Long) = Multimodal.syntheticNoisePng(seed, 18, 16)
    def run(rows: Seq[(Long, String, Array[Byte])]): Long =
      CorpusPipeline.dedupAndAppend(rows.toDF("doc_id", "text", "img"),
        corpus, idx, "doc_id", "text", 0.8, media = gate)
    assert(run(Seq((1L, text(1), img(1)), (2L, text(2), img(2)))) === 2L)
    assert(spark.read.parquet(mediaIdx).count() === 2L)
    // wave 2: doc 3 carries a RESIZE of doc 1's image (media near-dup
    // of the corpus — fresh text, so only the media gate can catch it);
    // docs 4/5 share one new image (within-batch media pair, lowest id
    // survives); doc 6 is genuinely fresh
    val wave2 = Seq((3L, text(3), Multimodal.upscaleNearest(img(1), 2)),
      (4L, text(4), img(7)), (5L, text(5), img(7)), (6L, text(6), img(9)))
    assert(run(wave2) === 2L)
    assert(spark.read.parquet(corpus).select("doc_id").as[Long]
      .collect().toSet === Set(1L, 2L, 4L, 6L))
    // the index holds exactly the survivors' fingerprints
    assert(spark.read.parquet(mediaIdx).select("media_id").as[Long]
      .collect().toSet === Set(1L, 2L, 4L, 6L))
    // replay: every row now matches its own indexed state through one
    // gate or the other — nothing double-appends
    assert(run(wave2) === 0L)
    assert(spark.read.parquet(corpus).count() === 4L)
  }

  test("gate funnel: one opt-in row per batch records the surviving " +
      "count after every stage") {
    import org.apache.spark.sql.functions.{col, length}
    val dir = Files.createTempDirectory("corpus_funnel")
    val corpus = dir.resolve("corpus").toString
    val idx = dir.resolve("index").toString
    val funnel = dir.resolve("funnel").toString
    def doc(i: Long) = (1 to 12).map(j => s"w${i}x$j").mkString(" ")
    val gates = Seq("len" -> (length(col("text")) > 30))
    CorpusPipeline.dedupAndAppend(
      Seq((1L, doc(1)), (2L, doc(2))).toDF("doc_id", "text"),
      corpus, idx, "doc_id", "text", 0.8, gates = gates,
      funnel = Some(funnel))
    // wave 2: a quality kill ("short"), an index dup (doc 1's text), a
    // within-batch dup pair (5/6 share a text), one true fresh doc
    CorpusPipeline.dedupAndAppend(
      Seq((3L, "short"), (4L, doc(1)), (5L, doc(5)), (6L, doc(5)),
          (7L, doc(7))).toDF("doc_id", "text"),
      corpus, idx, "doc_id", "text", 0.8, gates = gates,
      funnel = Some(funnel))
    val rows = spark.read.parquet(funnel)
      .orderBy("n_arrived").collect()
    assert(rows.length === 2)
    // every row is stamped with its gate-chain execution time — the
    // replay discriminator consumers dedupe arrival events on
    assert(rows.forall(r => r.getLong(r.fieldIndex("attempt_ts")) > 0L))
    val w2 = rows.last.toSeq.zipWithIndex
      .collect { case (v, i) if i != rows.last.fieldIndex("attempt_ts") =>
        v.asInstanceOf[Long] }
    // batch_id −1 (plain loop), arrived 5 → quality kills doc 3 →
    // index dedup kills doc 4 → batch dedup collapses 5/6 → 2 appended;
    // unconfigured stages (exact/lm/dsir/classifier/decontamination/
    // media) pass everything through
    assert(w2 === Seq(-1L, 5L, 5L, 4L, 4L, 4L, 4L, 4L, 4L, 3L, 2L),
      s"funnel $w2")
    assert(spark.read.parquet(corpus).count() === 4L)
    // funnel rows are ARRIVAL EVENTS: a replayed gate-chain execution
    // writes a second row with the same batch_id, and the documented
    // latest-attempt window dedupes it back to a per-batch view
    CorpusPipeline.dedupAndAppend(
      Seq((3L, "short"), (4L, doc(1)), (5L, doc(5)), (6L, doc(5)),
          (7L, doc(7))).toDF("doc_id", "text"),
      corpus, idx, "doc_id", "text", 0.8, gates = gates,
      funnel = Some(funnel))
    val log = spark.read.parquet(funnel)
    assert(log.count() === 3L, "one row per execution, not per batch")
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions.row_number
    val perBatch = log.withColumn("__rn", row_number().over(
        Window.partitionBy("batch_id")
          .orderBy(col("attempt_ts").desc, col("n_appended"))))
      .where(col("__rn") === 1)
    assert(perBatch.count() === 1L)
    // the replay's row records the batch dropping entirely (every doc
    // now matches its own indexed signatures), which is the row the
    // latest-attempt view serves
    assert(perBatch.select("n_appended").as[Long].collect().head === 0L)
  }

  test("corpus loop maintains the inverted text index: the index-served " +
      "BM25 equals a corpus scan after every batch, dropped dups never " +
      "enter the postings, and a compaction cadence keeps files bounded") {
    import graft.sources.TextIndex
    val dir = Files.createTempDirectory("corpus_text_index")
    val corpus = dir.resolve("corpus").toString
    val idx = dir.resolve("index").toString
    val ti = TextIndex.Cfg(dir.resolve("ti").toString, partitions = 4,
      compactEvery = 2)
    def doc(i: Long) = (1 to 12)
      .map(j => if (j == 1) "probe" else s"w${i}x$j").mkString(" ")
    // batch 1: two docs; batch 2: an exact dup of doc 1 (must not enter
    // the postings) + a fresh doc; batch 3: fresh
    val batches = Seq(
      Seq((1L, doc(1)), (2L, doc(2))),
      Seq((3L, doc(1)), (4L, doc(4))),
      Seq((5L, doc(5))))
    batches.foreach { b =>
      CorpusPipeline.dedupAndAppend(b.toDF("doc_id", "text"),
        corpus, idx, "doc_id", "text", 0.8, textIndex = Some(ti))
      // the serve and the scan must agree after EVERY admitted batch —
      // the index is additive and dup-free exactly when the loop feeds
      // it survivors only
      val scan = graft.operators.Keywords.bm25TopK(
          spark.read.parquet(corpus), "doc_id", "text",
          query = Seq("probe"), k = 10)
        .as[(Long, Double)].collect().toSeq
      val served = TextIndex.bm25TopK(spark, ti, "doc_id",
          Seq("probe"), 10)
        .as[(Long, Double)].collect().toSeq
      assert(served === scan)
    }
    assert(spark.read.parquet(corpus).select("doc_id").as[Long]
      .collect().toSet === Set(1L, 2L, 4L, 5L))
    // dup doc 3 never entered: postings carry exactly the 4 survivors
    assert(spark.read.parquet(s"${ti.indexPath}/postings")
      .select("doc_id").distinct().as[Long].collect().toSet ===
      Set(1L, 2L, 4L, 5L))
    // compactEvery = 2 fired at least once: stats row-merged to <= 2 rows
    assert(spark.read.parquet(s"${ti.indexPath}/stats").count() <= 2L)
  }

  test("schema-drift gate: a batch whose schema renamed or retyped a " +
      "column is rejected loudly instead of appending a second schema " +
      "into the corpus; same columns in a different order pass") {
    val dir = Files.createTempDirectory("corpus_schema")
    val corpus = dir.resolve("corpus").toString
    val idx = dir.resolve("index").toString
    def text(i: Int) = (1 to 15).map(j => s"s${i}w$j").mkString(" ")
    assert(CorpusPipeline.dedupAndAppend(
      Seq((1L, text(1), "web")).toDF("doc_id", "text", "source"),
      corpus, idx, "doc_id", "text", 0.8) === 1L)
    // renamed column: must fail loudly, corpus untouched
    val renamed = intercept[IllegalArgumentException] {
      CorpusPipeline.dedupAndAppend(
        Seq((2L, text(2), "web")).toDF("doc_id", "text", "src"),
        corpus, idx, "doc_id", "text", 0.8)
    }
    assert(renamed.getMessage.contains("schema drifted"))
    // retyped column: same failure
    intercept[IllegalArgumentException] {
      CorpusPipeline.dedupAndAppend(
        Seq((3, text(3), "web")).toDF("doc_id", "text", "source")
          .withColumn("doc_id", col("doc_id").cast("int")),
        corpus, idx, "doc_id", "text", 0.8)
    }
    assert(spark.read.parquet(corpus).count() === 1,
      "a rejected batch must leave the corpus untouched")
    // the check runs FIRST: a drifted batch must fail before the gate
    // chain commits anything for it — here the provenance store stays
    // absent even though the batch near-dups an indexed doc, and the
    // failure fires even though zero rows would have survived
    val labels = Files.createTempDirectory("schema_labels")
      .resolve("labels").toString
    intercept[IllegalArgumentException] {
      CorpusPipeline.dedupAndAppend(
        Seq((5L, text(1), "web")).toDF("doc_id", "text", "src"),
        corpus, idx, "doc_id", "text", 0.8, dupLabels = Some(labels))
    }
    assert(!new java.io.File(labels).exists(),
      "a drifted batch must not commit provenance edges")
    // column ORDER is not schema drift (parquet resolves by name)
    assert(CorpusPipeline.dedupAndAppend(
      Seq(("web", text(4), 4L)).toDF("source", "text", "doc_id"),
      corpus, idx, "doc_id", "text", 0.8) === 1L)
    assert(spark.read.parquet(corpus).select("doc_id").as[Long]
      .collect().toSet === Set(1L, 4L))
  }

  test("triage holds a batch whose gate chain fails terminally instead " +
      "of wedging: healthy batches drain, the failed batch rejoins the " +
      "live queue, the claim is cleaned") {
    import graft.streaming.CorpusStream
    import graft.operators.Divergence
    val dir = Files.createTempDirectory("triage_hold")
    val corpus = dir.resolve("corpus").toString
    val idx = dir.resolve("index").toString
    val quar = dir.resolve("quarantine").toString
    val ref = dir.resolve("ref").toString
    def text(i: Int) = (1 to 15).map(j => s"t${i}w$j").mkString(" ")
    assert(CorpusPipeline.dedupAndAppend(
      Seq((1L, text(1))).toDF("doc_id", "text"),
      corpus, idx, "doc_id", "text", 0.8) === 1L)
    // the reference accepts everything — only the gate chain's own
    // failure can hold a batch here
    Divergence.writeReferenceCounts(
      (1 to 40).map(i => (i.toLong, text(i))).toDF("doc_id", "text"),
      "text", ref)
    // batch 7 trips a terminally-failing gate (raise_error mid-job —
    // the stand-in for any exception the chain can throw, e.g. the
    // schema-drift require awaiting a corpus migration); batch 8 is
    // healthy
    Seq((7L, text(7) + " boom")).toDF("doc_id", "text")
      .withColumn("__q_batch", lit(7L))
      .write.mode("append").parquet(quar)
    Seq((8L, text(8))).toDF("doc_id", "text")
      .withColumn("__q_batch", lit(8L))
      .write.mode("append").parquet(quar)
    val explodingGate = Seq("no_boom" ->
      when(col("text").contains("boom"),
        raise_error(lit("poison batch"))).otherwise(lit(true)))
    val r = CorpusStream.reprocessQuarantine(spark, quar, ref,
      maxJs = 10.0, corpus, idx, gates = explodingGate)
    assert(r.batches === 2 && r.released === 1 && r.admitted === 1,
      s"healthy batch must drain while the failing one is held: $r")
    assert(spark.read.parquet(corpus).select("doc_id").as[Long]
      .collect().toSet === Set(1L, 8L))
    // the held batch is back in the LIVE queue, claim gone — a later
    // invocation (after the operator fixes the cause) can retry it
    assert(spark.read.parquet(quar)
      .select("doc_id").as[Long].collect().toSeq === Seq(7L))
    assert(!graft.sources.Compaction
      .stagingDir(new java.io.File(quar), "triage").exists())
  }

  test("corpus-table compaction on a cadence: file count stays bounded, " +
      "content is preserved, and the dedup gate still answers after the " +
      "swap") {
    val dir = Files.createTempDirectory("corpus_compact")
    val corpus = dir.resolve("corpus").toString
    val idx = dir.resolve("index").toString
    def text(i: Int) = (1 to 15).map(j => s"c${i}w$j").mkString(" ")
    def run(rows: Seq[(Long, String)]): Long =
      CorpusPipeline.dedupAndAppend(rows.toDF("doc_id", "text"), corpus,
        idx, "doc_id", "text", 0.8, corpusCompactEvery = 2)
    def files(): Int = Option(new java.io.File(corpus).listFiles())
      .getOrElse(Array.empty)
      .count(f => f.isFile && f.getName.endsWith(".parquet"))
    (1 to 4).foreach(i => assert(run(Seq((i.toLong, text(i)))) === 1L))
    // two compactions fired (appends 2 and 4): the per-batch file sets
    // collapsed; without the cadence this directory holds >= 4 file sets
    assert(files() <= 2, s"expected compacted corpus, got ${files()} files")
    assert(new java.io.File(s"$corpus/_maint_appends").exists())
    assert(spark.read.parquet(corpus).select("doc_id").as[Long]
      .collect().sorted.toSeq === Seq(1L, 2L, 3L, 4L))
    // the gate still drops a near-dup of a pre-compaction doc — the
    // rewrite is content-preserving for the index's view of the corpus
    assert(run(Seq((9L, text(1).replace("c1w7", "zzz")))) === 0L)
    assert(run(Seq((10L, text(10)))) === 1L)
  }

  test("dup-provenance label store: within-batch and vs-index pairs fold " +
      "into persisted components, an all-dup batch still records its " +
      "provenance, and a replayed batch changes nothing") {
    val dir = Files.createTempDirectory("corpus_prov")
    val corpus = dir.resolve("corpus").toString
    val idx = dir.resolve("index").toString
    val labels = dir.resolve("dup_labels").toString
    def run(rows: Seq[(Long, String)]): Long =
      CorpusPipeline.dedupAndAppend(rows.toDF("doc_id", "text"), corpus,
        idx, "doc_id", "text", 0.8, dupLabels = Some(labels))
    def stored(): Map[Long, Long] =
      spark.read.parquet(labels).as[(Long, Long)].collect().toMap
    // batch 1: doc 2 is an exact within-batch copy of doc 1 → pair (1,2)
    assert(run(Seq((1L, base), (2L, base))) === 1L)
    assert(stored() === Map(1L -> 1L, 2L -> 1L))
    // batch 2: doc 3 near-dups the INDEXED doc 1 (vs-index pair), doc 4
    // is fresh (no pair — must stay OUT of the store)
    assert(run(Seq((3L, nearDup), (4L, fresh2))) === 1L)
    assert(stored() === Map(1L -> 1L, 2L -> 1L, 3L -> 1L))
    // batch 3: ALL dups (zero survivors) — exactly the batch whose
    // provenance matters most; the fold must run despite appended == 0
    val dup5 = base.replace("softly", "gently")
    assert(run(Seq((5L, dup5))) === 0L)
    assert(stored() === Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 5L -> 1L))
    // replay of batch 3 (crash-retry): rows match their own indexed
    // signatures... doc 5 never entered the index (it was dropped), so
    // it re-matches doc 1 — same edge, same labels, idempotent
    assert(run(Seq((5L, dup5))) === 0L)
    assert(stored() === Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 5L -> 1L))
    // replay of an ADMITTED fresh doc (crash after the MinHash commit):
    // it matches its own indexed signature — a self-loop that must be
    // filtered BEFORE the fold, or the store gains a spurious singleton
    // row for a doc that was never a duplicate
    assert(run(Seq((4L, fresh2))) === 0L)
    assert(stored() === Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 5L -> 1L),
      "a replayed fresh doc must not enter the provenance store")
    // the corpus itself holds only the survivors
    assert(spark.read.parquet(corpus).select("doc_id").as[Long]
      .collect().toSet === Set(1L, 4L))
  }

  test("sketch sidecar: one mergeable row per admitted batch; merged " +
      "serving tracks the corpus without re-scanning it") {
    import graft.sources.SketchSidecar
    val dir = Files.createTempDirectory("corpus_sketch")
    val corpus = dir.resolve("corpus").toString
    val idx = dir.resolve("index").toString
    val sk = dir.resolve("sketch").toString
    val cfg = SketchSidecar.Cfg(sk, distinctExpr = "doc_id",
      valueExpr = "length(text)", compactEvery = 2,
      kmvKeyExpr = Some("doc_id"))
    // three batches; batch 2 carries a near-dup of an indexed batch-1 doc
    // (dropped by the gate, so the sketch row must cover SURVIVORS only)
    def word(i: Int, j: Int) = s"w${i}x$j"
    def text(i: Int, words: Int) =
      (1 to words).map(word(i, _)).mkString(" ")
    val b1 = Seq((1L, base), (2L, text(2, 10))).toDF("doc_id", "text")
    val b2 = Seq((3L, nearDup), (4L, text(4, 30))).toDF("doc_id", "text")
    val b3 = Seq((5L, text(5, 50))).toDF("doc_id", "text")
    val n1 = CorpusPipeline.dedupAndAppend(b1, corpus, idx, "doc_id",
      "text", 0.8, sketch = Some(cfg))
    val n2 = CorpusPipeline.dedupAndAppend(b2, corpus, idx, "doc_id",
      "text", 0.8, sketch = Some(cfg))
    val n3 = CorpusPipeline.dedupAndAppend(b3, corpus, idx, "doc_id",
      "text", 0.8, sketch = Some(cfg))
    assert((n1, n2, n3) === ((2L, 1L, 1L)), "doc 3 must dedup away")
    // one sidecar row per admitted batch, each accounting its survivors
    val rows = spark.read.parquet(sk).select("n").as[Long]
      .collect().sorted.toSeq
    assert(rows === Seq(1L, 1L, 2L))
    // served distinct: HLL union across the 3 rows — exact in sparse
    // mode at this cardinality, and equal to the corpus' true count
    // without any corpus scan
    val dist = SketchSidecar.servedDistinct(spark, sk).collect().head
    assert(dist.getLong(0) === 3L) // batches merged
    assert(dist.getLong(1) === 4L) // hll_sketch_estimate is a bigint
    // served median: realized tie-aware rank error within the documented
    // bound (2/K + 1/accuracy + 1/n granularity)
    val p50 = SketchSidecar.servedQuantiles(spark, sk, Seq(0.5))
      .collect().head.getDouble(1)
    val lengths = spark.read.parquet(corpus)
      .select(length(col("text")).cast("double")).as[Double]
      .collect().sorted
    val n = lengths.length
    val lt = lengths.count(_ < p50)
    val le = lengths.count(_ <= p50)
    val errExcess = math.max(0.0,
      math.max((lt + 1).toDouble / n - 0.5, 0.5 - le.toDouble / n)) -
      1.0 / n
    assert(errExcess <= 2.0 / cfg.numBuckets + 1.0 / cfg.accuracy + 1e-9,
      s"served p50=$p50 rank error beyond contract (lengths=" +
        s"${lengths.toSeq})")
    // the KMV face rides the same loop rows: survivors-only (the deduped
    // doc 3 never enters the sketch) and EXACT below k — 4 distinct ids
    assert(SketchSidecar.servedKmvDistinct(spark, sk)
      .collect().head.getDouble(1) === 4.0)
    // compactEvery=2: the cadence counter rides in the sidecar dir and
    // the 2-append compaction collapsed the per-batch files
    assert(new java.io.File(s"$sk/_maint_appends").exists())
    val files = Option(new java.io.File(sk).listFiles())
      .getOrElse(Array.empty).count(_.getName.endsWith(".parquet"))
    assert(files <= 2, s"expected compacted sidecar, got $files files")
  }

  test("exact-key gate in the corpus loop: re-delivered texts die at the " +
      "cheap gate, near-dups still die at the MinHash gate, keys commit " +
      "after the signatures") {
    import graft.sources.BloomKeyIndex
    val dir = Files.createTempDirectory("corpus_exact_gate")
    val corpus = dir.resolve("corpus").toString
    val idx = dir.resolve("index").toString
    val keys = Some(BloomKeyIndex.Cfg(dir.resolve("keys").toString,
      keyExpr = "text", expectedItems = 4096L, numBits = 32768L))
    val b1 = Seq((1L, base), (2L, fresh2)).toDF("doc_id", "text")
    assert(CorpusPipeline.dedupAndAppend(b1, corpus, idx, "doc_id",
      "text", 0.8, exactKeys = keys) === 2L)
    // batch 2: an EXACT re-delivery (new id, same bytes → exact gate),
    // a NEAR-dup (one word off → passes the exact gate, dies at the
    // MinHash gate), and a fresh doc
    val b2 = Seq((10L, base), (11L, nearDup),
      (12L, "entirely new content about streaming watermarks and " +
        "stateful aggregation in distributed query engines today"))
      .toDF("doc_id", "text")
    assert(CorpusPipeline.dedupAndAppend(b2, corpus, idx, "doc_id",
      "text", 0.8, exactKeys = keys) === 1L)
    assert(spark.read.parquet(corpus).select("doc_id").as[Long]
      .collect().toSet === Set(1L, 2L, 12L))
    // every admitted doc's key is indexed (commit ordering: keys land
    // last, so admitted size == keys size after a clean run)
    assert(spark.read.parquet(s"${keys.get.indexPath}/keys").count() === 3L)
    // a replay of batch 2 (the crash-retry shape) admits nothing and
    // appends no keys twice
    assert(CorpusPipeline.dedupAndAppend(b2, corpus, idx, "doc_id",
      "text", 0.8, exactKeys = keys) === 0L)
    assert(spark.read.parquet(s"${keys.get.indexPath}/keys").count() === 3L)
  }

  test("quarantine triage: MIXED legacy/tagged queue — legacy rows fold " +
      "into the -1 batch, tags survive, batches stay separate") {
    import graft.streaming.CorpusStream
    import graft.operators.Divergence
    val dir = Files.createTempDirectory("corpus_triage_mixed")
    val corpus = dir.resolve("corpus").toString
    val idx = dir.resolve("index").toString
    val quar = dir.resolve("quarantine").toString
    val garbledA = (("zzqx wvvk pqzt mmnb rrdd zzqx wvvk pqzt ggfh jjkl " +
      "qqww eerr ttyy uuii oopp aass ddff gghh jjkk llzz xxcc vvbb ") * 25)
      .trim
    val garbledB = (("foo1 bar2 baz3 qux4 quux5 foo1 bar2 baz3 corge6 " +
      "grault7 garply8 waldo9 fred0 plugh1 xyzzy2 thud3 foo1 bar2 ") * 25)
      .trim
    // the normal upgrade state: a file quarantined BEFORE the __q_batch
    // tag existed (no column) next to a tagged file — one queue dir,
    // two schemas
    Seq((2L, garbledA)).toDF("doc_id", "text")
      .write.mode("append").parquet(quar)
    Seq((5L, garbledB)).toDF("doc_id", "text")
      .withColumn("__q_batch", lit(7L))
      .write.mode("append").parquet(quar)
    // reference fits vocabulary A only → the legacy (-1) batch clears,
    // the tagged batch is held. Pooled gating over the mixture — the
    // failure the tag exists to prevent — could not release exactly one
    val refA = dir.resolve("refA").toString
    Divergence.writeReferenceCounts(
      Seq((0L, garbledA)).toDF("doc_id", "text"), "text", refA)
    val r1 = CorpusStream.reprocessQuarantine(spark, quar, refA, 0.15,
      corpus, idx)
    assert(r1.batches === 2L && r1.released === 1L && r1.admitted === 1L,
      s"legacy batch must clear separately from the tagged one: $r1")
    assert(spark.read.parquet(corpus).select("doc_id").as[Long]
      .collect().toSeq === Seq(2L))
    // the held batch kept its tag through the queue rewrite — a dropped
    // tag column here would pool it with future legacy rows
    val held = spark.read.parquet(quar)
    assert(held.columns.contains("__q_batch"))
    assert(held.select("doc_id", "__q_batch").as[(Long, Long)]
      .collect().toSeq === Seq((5L, 7L)))
    // refit to vocabulary B: the tagged batch clears, queue drains
    val refB = dir.resolve("refB").toString
    Divergence.writeReferenceCounts(
      Seq((0L, garbledB)).toDF("doc_id", "text"), "text", refB)
    val r2 = CorpusStream.reprocessQuarantine(spark, quar, refB, 0.15,
      corpus, idx)
    assert(r2.batches === 1L && r2.released === 1L && r2.admitted === 1L)
    assert(!new java.io.File(quar).exists())
    assert(spark.read.parquet(corpus).select("doc_id").as[Long]
      .collect().toSet === Set(2L, 5L))
  }

  test("quarantine triage: parquet-less claimed dir and empty queue dir " +
      "are discarded, not wedged") {
    import graft.streaming.CorpusStream
    import graft.operators.Divergence
    val dir = Files.createTempDirectory("corpus_triage_wedge")
    val corpus = dir.resolve("corpus").toString
    val idx = dir.resolve("index").toString
    val quar = dir.resolve("quarantine").toString
    val refA = dir.resolve("refA").toString
    Divergence.writeReferenceCounts(
      Seq((0L, base)).toDF("doc_id", "text"), "text", refA)
    // an EMPTY-but-existing queue dir (all files consumed by an external
    // cleanup, dir left) must not wedge the claim on schema inference
    assert(new java.io.File(quar).mkdirs())
    val r0 = CorpusStream.reprocessQuarantine(spark, quar, refA, 0.15,
      corpus, idx)
    assert(r0 === CorpusStream.ReprocessResult(0L, 0L, 0L))
    assert(!new java.io.File(quar).exists(), "empty claim must be removed")
    // a claimed dir whose data files were deleted by a crash mid-removal:
    // without the guard every later invocation throws on schema
    // inference and the LIVE queue is never claimed again
    val claimed = graft.sources.Compaction
      .stagingDir(new java.io.File(quar), "triage")
    assert(claimed.mkdirs())
    Seq((9L, base)).toDF("doc_id", "text")
      .write.mode("append").parquet(quar)
    val r1 = CorpusStream.reprocessQuarantine(spark, quar, refA, 0.15,
      corpus, idx)
    assert(r1.batches === 1L && r1.released === 1L && r1.admitted === 1L,
      s"live queue must be claimed past the garbage claim: $r1")
    assert(!claimed.exists() && !new java.io.File(quar).exists())
    assert(spark.read.parquet(corpus).select("doc_id").as[Long]
      .collect().toSeq === Seq(9L))
  }

  test("quarantine triage: maxBatches bounds one invocation — a 50-batch " +
      "backlog drains oldest-first, exactly-once, across 5 invocations") {
    import graft.streaming.CorpusStream
    import graft.operators.Divergence
    val dir = Files.createTempDirectory("corpus_triage_backlog")
    val corpus = dir.resolve("corpus").toString
    val idx = dir.resolve("index").toString
    val quar = dir.resolve("quarantine").toString
    val refA = dir.resolve("refA").toString
    Divergence.writeReferenceCounts(
      Seq((0L, base)).toDF("doc_id", "text"), "text", refA)
    // 50 one-doc batches, mutually non-duplicate texts (disjoint token
    // sets — the minhash gate must admit every one exactly once)
    def text(i: Int): String =
      (1 to 12).map(j => s"tok${i}x$j").mkString(" ")
    (0 until 50).map(i => (i.toLong, text(i), i.toLong))
      .toDF("doc_id", "text", "__q_batch")
      .write.mode("append").parquet(quar)
    // maxJs = 10 ≥ any possible JS: every triaged batch releases, so the
    // drain rate is governed purely by the maxBatches bound
    val first = CorpusStream.reprocessQuarantine(spark, quar, refA, 10.0,
      corpus, idx, maxBatches = 10)
    // oldest-first: the first invocation triages batch ids 0..9 exactly
    assert(spark.read.parquet(corpus).select("doc_id").as[Long]
      .collect().sorted.toSeq === (0L until 10L))
    val results = first +: (2 to 5).map { _ =>
      CorpusStream.reprocessQuarantine(spark, quar, refA, 10.0,
        corpus, idx, maxBatches = 10)
    }
    results.foreach { r =>
      assert(r.batches === 10L && r.released === 10L && r.admitted === 10L,
        s"each invocation must triage exactly the bound: $r")
    }
    assert(!new java.io.File(quar).exists(), "backlog must be drained")
    // exactly-once: all 50 docs landed, none twice
    assert(spark.read.parquet(corpus).select("doc_id").as[Long]
      .collect().sorted.toSeq === (0L until 50L))
    // a sixth invocation is a no-op
    val r6 = CorpusStream.reprocessQuarantine(spark, quar, refA, 10.0,
      corpus, idx, maxBatches = 10)
    assert(r6 === CorpusStream.ReprocessResult(0L, 0L, 0L))
  }
}
