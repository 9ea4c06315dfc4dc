package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.ingest.{CorpusPipeline, Watermark}
import graft.operators.CellAssigner.Voronoi

/** The STREAMING half of the corpus-builder loop specs: checkpointed
  * file streams driving the same gates, sidecars and indexes per
  * micro-batch. Split from [[CorpusPipelineSpec]] for test-group
  * packing.
  */
class CorpusPipelineStreamSpec extends AnyFunSuite with SparkFixture {
  import spark.implicits._

  private val base =
    "the quick brown fox jumps over the lazy dog near the old stone bridge " +
    "while rain falls softly on the quiet village below the tall mountains"
  private val nearDup = base.replace("quiet", "silent")
  private val fresh2 =
    "completely different content about database engines and distributed " +
    "query processing with columnar storage formats and shuffle services"

  test("streaming corpus: checkpointed file stream drives the same gate") {
    import graft.streaming.CorpusStream
    val dir = Files.createTempDirectory("corpus_stream")
    val src = dir.resolve("src").toString
    val corpus = dir.resolve("corpus").toString
    val idx = dir.resolve("index").toString
    val ckpt = dir.resolve("ckpt").toString
    val schema = Seq((0L, "")).toDF("doc_id", "text").schema
    def runOnce(): Unit = {
      val q = CorpusStream.start(spark, src, schema, corpus, idx, ckpt)
      q.awaitTermination() // AvailableNow drains the backlog and stops
    }

    // wave 1: doc + within-batch exact copy → one lands
    Seq((1L, base), (2L, base)).toDF("doc_id", "text")
      .write.mode("append").parquet(src)
    runOnce()
    assert(spark.read.parquet(corpus).select("doc_id").as[Long]
      .collect().toSeq === Seq(1L))

    // wave 2: near-dup of the indexed doc + a fresh doc → fresh only;
    // the checkpoint must NOT reprocess wave 1's files
    Seq((3L, nearDup), (4L, fresh2)).toDF("doc_id", "text")
      .write.mode("append").parquet(src)
    runOnce()
    assert(spark.read.parquet(corpus).select("doc_id").as[Long]
      .collect().toSet === Set(1L, 4L))

    // rerun with no new files: checkpointed no-op
    runOnce()
    assert(spark.read.parquet(corpus).count() === 2)
  }

  test("streaming corpus maintains the sketch sidecar and exact-key " +
      "index per micro-batch") {
    import graft.streaming.CorpusStream
    import graft.sources.{BloomKeyIndex, SketchSidecar}
    val dir = Files.createTempDirectory("corpus_stream_sidecars")
    val src = dir.resolve("src").toString
    val corpus = dir.resolve("corpus").toString
    val idx = dir.resolve("index").toString
    val ckpt = dir.resolve("ckpt").toString
    val sk = Some(SketchSidecar.Cfg(dir.resolve("sketch").toString,
      distinctExpr = "doc_id", valueExpr = "length(text)"))
    val keys = Some(BloomKeyIndex.Cfg(dir.resolve("keys").toString,
      keyExpr = "text", expectedItems = 4096L, numBits = 32768L))
    val labels = dir.resolve("dup_labels").toString
    val schema = Seq((0L, "")).toDF("doc_id", "text").schema
    def runOnce(): Unit = {
      val q = CorpusStream.start(spark, src, schema, corpus, idx, ckpt,
        sketch = sk, exactKeys = keys, dupLabels = Some(labels))
      q.awaitTermination()
    }
    Seq((1L, base), (2L, fresh2)).toDF("doc_id", "text")
      .write.mode("append").parquet(src)
    runOnce()
    // wave 2: exact re-delivery (new id, same text → the exact gate), a
    // NEAR-dup of the indexed doc 1 (passes the exact gate, dies at the
    // MinHash gate → a provenance pair), and one fresh doc
    Seq((3L, base), (5L, nearDup),
        (4L, "fresh wave about columnar file formats and " +
        "vectorized execution pipelines in modern analytic engines"))
      .toDF("doc_id", "text").write.mode("append").parquet(src)
    runOnce()
    assert(spark.read.parquet(corpus).select("doc_id").as[Long]
      .collect().toSet === Set(1L, 2L, 4L))
    // one sketch row per ADMITTED micro-batch, covering survivors only
    val ns = spark.read.parquet(sk.get.sidecarPath).select("n")
      .as[Long].collect().sorted.toSeq
    assert(ns === Seq(1L, 2L))
    assert(SketchSidecar.servedDistinct(spark, sk.get.sidecarPath)
      .collect().head.getLong(1) === 3L)
    // the exact-key index holds exactly the admitted texts
    assert(spark.read.parquet(s"${keys.get.indexPath}/keys")
      .count() === 3L)
    // the MinHash-gated near-dup left its provenance in the label store
    // (the exact-gate kill of doc 3 deliberately does not: the cheap
    // gate confirms membership, not WHICH document — see the dupLabels
    // parameter doc)
    assert(spark.read.parquet(labels).as[(Long, Long)].collect().toMap
      === Map(1L -> 1L, 5L -> 1L))
  }

  test("streaming corpus drives a GROUPED multi-face sketch sidecar and " +
      "a PARTITIONED provenance store through the gate chain") {
    import graft.streaming.CorpusStream
    import graft.sources.SketchSidecar
    import graft.operators.Components
    val dir = Files.createTempDirectory("corpus_stream_grouped")
    val src = dir.resolve("src").toString
    val corpus = dir.resolve("corpus").toString
    val idx = dir.resolve("index").toString
    val ckpt = dir.resolve("ckpt").toString
    // grouped + KMV on ONE sidecar — the fused single-scan append
    // running inside the loop, per (micro-batch, source) row
    val sk = Some(SketchSidecar.Cfg(dir.resolve("sketch").toString,
      distinctExpr = "doc_id", valueExpr = "length(text)",
      groupKeyExpr = Some("source"), kmvKeyExpr = Some("doc_id"),
      kmvK = 64))
    val labels = dir.resolve("dup_labels").toString
    val funnel = dir.resolve("funnel").toString
    val ti = graft.sources.TextIndex.Cfg(
      dir.resolve("text_index").toString, partitions = 4)
    val schema = Seq((0L, "", "")).toDF("doc_id", "text", "source").schema
    def runOnce(): Unit = {
      val q = CorpusStream.start(spark, src, schema, corpus, idx, ckpt,
        sketch = sk, dupLabels = Some(labels), dupLabelsPartitions = 8,
        funnel = Some(funnel), textIndex = Some(ti))
      q.awaitTermination()
    }
    Seq((1L, base, "sa"), (2L, fresh2, "sb"))
      .toDF("doc_id", "text", "source")
      .write.mode("append").parquet(src)
    runOnce()
    Seq((5L, nearDup, "sa"),
        (4L, "fresh wave about columnar file formats and " +
        "vectorized execution pipelines in modern analytic engines", "sb"))
      .toDF("doc_id", "text", "source")
      .write.mode("append").parquet(src)
    runOnce()
    assert(spark.read.parquet(corpus).select("doc_id").as[Long]
      .collect().toSet === Set(1L, 2L, 4L))
    // one fused row per (admitted micro-batch, group): wave 1 admits
    // into sa and sb, wave 2's survivor is sb-only
    val rows = spark.read.parquet(sk.get.sidecarPath)
    assert(rows.count() === 3L)
    assert(rows.columns.contains("kmv") && rows.columns.contains("grp"))
    assert(SketchSidecar.servedDistinct(spark, sk.get.sidecarPath,
        SketchSidecar.Scope.PerGroup)
      .select("grp", "distinct_estimate").as[(String, Long)]
      .collect().toMap === Map("sa" -> 1L, "sb" -> 2L))
    assert(SketchSidecar
      .servedKmvDistinct(spark, sk.get.sidecarPath,
        SketchSidecar.Scope.PerGroup)
      .select("grp", "distinct_estimate").as[(String, Double)]
      .collect().toMap === Map("sa" -> 1.0, "sb" -> 2.0))
    // the provenance store was fed in its PARTITIONED layout by the
    // pipeline (the plumbed dupLabelsPartitions), and the point lookup
    // serves through it
    assert(new java.io.File(labels, "_label_partitions").exists())
    assert(Components.readLabelStore(spark, labels)
      .as[(Long, Long)].collect().toMap === Map(1L -> 1L, 5L -> 1L))
    assert(Components.lookupComponent(spark, labels, 5L) === Some(1L))
    // the stream stamps each funnel row with its checkpointed
    // micro-batch id — the log correlates to batches, not just sizes
    assert(spark.read.parquet(funnel)
      .select("batch_id", "n_arrived", "n_appended")
      .as[(Long, Long, Long)].collect().toSet ===
      Set((0L, 2L, 2L), (1L, 2L, 1L)))
    // the inverted text index rode the same micro-batches: the pruned
    // serve equals a scan of the corpus as it now stands, and the
    // dropped near-dup never entered the postings
    val scanBm = graft.operators.Keywords.bm25TopK(
        spark.read.parquet(corpus), "doc_id", "text",
        query = Seq("analytic"), k = 10)
      .as[(Long, Double)].collect().toSeq
    assert(graft.sources.TextIndex.bm25TopK(spark, ti, "doc_id",
        Seq("analytic"), 10)
      .as[(Long, Double)].collect().toSeq === scanBm)
    assert(spark.read.parquet(s"${ti.indexPath}/postings")
      .select("doc_id").distinct().as[Long].collect().toSet ===
      Set(1L, 2L, 4L))
  }

  test("drift gate quarantines a JS-shifted micro-batch; in-distribution " +
      "batches land; metrics log both decisions") {
    import graft.streaming.{CorpusStream, DriftMonitor}
    import graft.operators.Divergence
    val dir = Files.createTempDirectory("corpus_stream_drift")
    val src = dir.resolve("src").toString
    val corpus = dir.resolve("corpus").toString
    val idx = dir.resolve("index").toString
    val ckpt = dir.resolve("ckpt").toString
    val ref = dir.resolve("ref").toString
    val quar = dir.resolve("quarantine").toString
    val metrics = dir.resolve("metrics").toString
    // frozen reference distribution: English prose like the corpus docs
    Divergence.writeReferenceCounts(
      Seq((0L, base), (1L, fresh2)).toDF("doc_id", "text"), "text", ref)
    // threshold between the fixture's healthy JS (~0.04 — shared prose
    // vocabulary) and its shifted JS (~0.3 — disjoint vocabulary with
    // enough mass to dominate the add-one smoothing); js ∈ [0, ln 2]
    val gate = DriftMonitor.Gate(ref, maxJs = 0.15, quar, metrics)
    val schema = Seq((0L, "")).toDF("doc_id", "text").schema
    def runOnce(): Unit = {
      val q = CorpusStream.start(spark, src, schema, corpus, idx, ckpt,
        drift = Some(gate))
      q.awaitTermination()
    }
    // wave 1: in-distribution (shares the reference vocabulary) → lands
    Seq((1L, base)).toDF("doc_id", "text")
      .write.mode("append").parquet(src)
    runOnce()
    assert(spark.read.parquet(corpus).select("doc_id").as[Long]
      .collect().toSeq === Seq(1L))
    // wave 2: the crawl breaks — disjoint token distribution (the
    // encoding-shift / spam-flood shape) → quarantined whole, corpus and
    // indexes untouched
    // token mass matters: repetition makes the disjoint counts dominate
    // the add-one smoothing, as a real spam flood would
    val garbled = (("zzqx wvvk pqzt mmnb rrdd zzqx wvvk pqzt ggfh jjkl " +
      "qqww eerr ttyy uuii oopp aass ddff gghh jjkk llzz xxcc vvbb ") * 25)
      .trim
    Seq((2L, garbled), (3L, garbled + " nnmm")).toDF("doc_id", "text")
      .write.mode("append").parquet(src)
    runOnce()
    assert(spark.read.parquet(corpus).count() === 1,
      "shifted batch must not reach the corpus")
    val q2 = spark.read.parquet(quar).select("doc_id").as[Long]
      .collect().toSet
    assert(q2 === Set(2L, 3L), "the whole shifted batch is the triage queue")
    // both decisions are in the append-only log, quarantined or not
    val log = spark.read.parquet(metrics)
      .select("batch_id", "js").as[(Long, Double)].collect().sortBy(_._1)
    assert(log.length === 2)
    assert(log.head._2 < 0.15 && log.last._2 > 0.15, log.mkString(", "))
    // wave 3: healthy again after the quarantine — the loop keeps going
    Seq((4L, fresh2)).toDF("doc_id", "text")
      .write.mode("append").parquet(src)
    runOnce()
    assert(spark.read.parquet(corpus).select("doc_id").as[Long]
      .collect().toSet === Set(1L, 4L))
  }

  test("streaming corpus maintains the ANN index across micro-batches") {
    import graft.streaming.CorpusStream
    import graft.ingest.CorpusPipeline
    import graft.operators.{CellIndex, Pq}
    val dir = Files.createTempDirectory("corpus_stream_ann")
    val src = dir.resolve("src").toString
    val corpus = dir.resolve("corpus").toString
    val idx = dir.resolve("index").toString
    val ann = dir.resolve("ann").toString
    val ckpt = dir.resolve("ckpt").toString
    val rnd = new scala.util.Random(11)
    def vec(): Array[Float] = Array.fill(16)(rnd.nextGaussian().toFloat)
    val v1 = vec(); val v2 = vec()
    val schema = Seq((0L, "", Array.empty[Float]))
      .toDF("doc_id", "text", "embedding").schema
    // minTrainRows = 2: wave 1 (one doc) stays in the REBUILD phase — a
    // 1-doc bootstrap would freeze degenerate sidecars — and wave 2
    // rebuilds over the 2-doc corpus, reaching the mass and freezing
    val annCfg = CorpusPipeline.AnnIndex(ann, "embedding",
      nlist = 2, m = 8, k = 8, minTrainRows = 2)
    def runOnce(): Unit = {
      val q = CorpusStream.start(spark, src, schema, corpus, idx, ckpt,
        ann = Some(annCfg))
      q.awaitTermination()
    }
    Seq((1L, base, v1)).toDF("doc_id", "text", "embedding")
      .write.mode("append").parquet(src)
    runOnce()
    Seq((2L, fresh2, v2)).toDF("doc_id", "text", "embedding")
      .write.mode("append").parquet(src)
    runOnce()
    val raw = spark.read.parquet(corpus)
    val top = CellIndex(ann, Voronoi(nprobe = 2), Pq.Codec())
      .topK(spark, "doc_id",
        "embedding", Seq((0L, v2)).toDF("vec_id", "embedding"), "embedding",
        1, rawCorpus = Some(raw))
      .as[(Long, Double)].collect()
    assert(top.head._1 === 2L) // batch-2 vector served from the index
  }

  test("streaming corpus applies quality gates per micro-batch") {
    import graft.streaming.CorpusStream
    import graft.functions.TextAnalysis
    val dir = Files.createTempDirectory("corpus_stream_gated")
    val src = dir.resolve("src").toString
    val corpus = dir.resolve("corpus").toString
    val idx = dir.resolve("index").toString
    val ckpt = dir.resolve("ckpt").toString
    val schema = Seq((0L, "")).toDF("doc_id", "text").schema
    Seq((1L, base), (2L, "too short")).toDF("doc_id", "text")
      .write.mode("append").parquet(src)
    val q = CorpusStream.start(spark, src, schema, corpus, idx, ckpt,
      gates = Seq("tokens" -> (TextAnalysis.tokenCount(col("text")) >= 8)))
    q.awaitTermination()
    assert(spark.read.parquet(corpus).select("doc_id").as[Long]
      .collect().toSeq === Seq(1L))
  }

  test("streaming corpus applies the frozen-LM perplexity gate per " +
      "micro-batch") {
    import graft.streaming.CorpusStream
    import graft.operators.Lm
    import graft.ingest.CorpusPipeline.LmGate
    val dir = Files.createTempDirectory("corpus_stream_lm")
    val src = dir.resolve("src").toString
    val corpus = dir.resolve("corpus").toString
    val idx = dir.resolve("index").toString
    val lmIdx = dir.resolve("lm").toString
    val ckpt = dir.resolve("ckpt").toString
    Lm.writeLmIndex(((1L to 10L).map(i => (i, base)) :+ (11L, fresh2))
      .toDF("doc_id", "text"), "text", lmIdx)
    val fluent = "the quick brown fox jumps over the lazy dog while rain " +
      "falls softly on the quiet village"
    val soup = "bridge fox the dog village quick softly mountains rain " +
      "lazy below stone jumps quiet the brown"
    val ppls = Lm.perplexityAgainstIndex(
        Seq((1L, fluent), (2L, soup)).toDF("doc_id", "text"),
        "doc_id", "text", lmIdx)
      .as[(Long, Long, Double)].collect().map(r => r._1 -> r._3).toMap
    val schema = Seq((0L, "")).toDF("doc_id", "text").schema
    Seq((1L, fluent), (2L, soup)).toDF("doc_id", "text")
      .write.mode("append").parquet(src)
    val q = CorpusStream.start(spark, src, schema, corpus, idx, ckpt,
      lm = Some(LmGate(lmIdx, (ppls(1L) + ppls(2L)) / 2)))
    q.awaitTermination()
    assert(spark.read.parquet(corpus).select("doc_id").as[Long]
      .collect().toSeq === Seq(1L))
  }

  test("streaming corpus applies the frozen DSIR gate per micro-batch") {
    import graft.ingest.CorpusPipeline.DsirGate
    import graft.operators.Dsir
    import graft.streaming.CorpusStream
    val dir = Files.createTempDirectory("corpus_stream_dsir")
    val src = dir.resolve("src").toString
    val corpus = dir.resolve("corpus").toString
    val idx = dir.resolve("index").toString
    val dsIdx = dir.resolve("dsir").toString
    val ckpt = dir.resolve("ckpt").toString
    val target = Seq((100L, "spark shuffle join spark shuffle join"),
      (101L, "spark join shuffle spark join")).toDF("doc_id", "text")
    Dsir.writeDsirIndex(
      target.union(Seq((200L, "bake flour sugar bake flour sugar"))
        .toDF("doc_id", "text")),
      target, "text", dsIdx)
    val onT = "spark shuffle join spark"
    val offT = "bake flour sugar bake"
    val ws = Dsir.weightsAgainstIndex(
        Seq((1L, onT), (2L, offT)).toDF("doc_id", "text"),
        "doc_id", "text", dsIdx)
      .as[(Long, Long, Double)].collect().map(r => r._1 -> r._3).toMap
    val schema = Seq((0L, "")).toDF("doc_id", "text").schema
    Seq((1L, onT), (2L, offT)).toDF("doc_id", "text")
      .write.mode("append").parquet(src)
    val q = CorpusStream.start(spark, src, schema, corpus, idx, ckpt,
      dsir = Some(DsirGate(dsIdx, (ws(1L) + ws(2L)) / 2)))
    q.awaitTermination()
    assert(spark.read.parquet(corpus).select("doc_id").as[Long]
      .collect().toSeq === Seq(1L))
  }

  // distinct-prose generator: docs far apart under MinHash so the dedup
}
