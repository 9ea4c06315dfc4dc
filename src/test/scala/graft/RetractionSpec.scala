package graft

import java.nio.file.Files
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.{CellIndex, Components, Dedup, FlatIndex, Merge,
  Multimodal, Pq, Retraction, Similarity, VectorCodec}
import graft.sources.{BloomKeyIndex, TextIndex}
import graft.operators.CellAssigner.{Hyperplane, Voronoi}
import graft.operators.VectorCodec.Exact

/** The takedown verb: retractDocs must excise a document from the corpus
  * and EVERY derived serving artifact, prune its rewrites to the
  * partitions the document actually touches, re-run safely, and leave
  * the gates willing to re-admit a re-submitted copy (tombstone ≠ ban).
  */
class RetractionSpec extends AnyFunSuite with SparkFixture {
  import spark.implicits._

  private val vocab = Vector("hash", "join", "vector", "scan", "sort",
    "merge", "spill", "page", "codec", "probe")
  private def docText(i: Long): String =
    if (i % 17 == 0) ""
    else (0 until (3 + (i % 9)).toInt)
      .map(j => vocab(((i * 7 + j * j) % vocab.size).toInt))
      .mkString(" ")
  private def embed(i: Long): Array[Float] =
    Array.tabulate(8)(d => (((i * 31 + d * 7) % 13).toInt - 6) / 6.0f)
  private def corpus(n: Long): DataFrame =
    (1L to n).map(i => (i, docText(i), embed(i)))
      .toDF("doc_id", "text", "embedding")

  private def tmp(name: String): String =
    Files.createTempDirectory(name).resolve("x").toString

  test("retractDocs: every artifact excised, ANN rewrite cell-pruned, " +
      "gates forget (minhash index + bloom keys + label store), corpus " +
      "rewritten last, re-run is a found=0 no-op") {
    val docs = corpus(80)
    val gone = Seq(5L, 10L, 17L) // 17 is zero-token
    val a = Retraction.Artifacts(
      corpusPath = tmp("rt_corpus"),
      minhashIndexPath = Some(tmp("rt_mh")),
      textIndex = Some(TextIndex.Cfg(tmp("rt_ti"), partitions = 8)),
      exactKeys = Some(BloomKeyIndex.Cfg(tmp("rt_bk"), keyExpr = "text",
        keyPartitions = 16)),
      annIndexPath = Some(tmp("rt_ann")),
      lshIndexPath = Some(tmp("rt_lsh")),
      sqIndexPath = Some(tmp("rt_sq")),
      dupLabelsPath = Some(tmp("rt_lbl")))
    docs.write.mode("overwrite").parquet(a.corpusPath)
    TextIndex.writeIndex(docs, "doc_id", "text", a.textIndex.get)
    Dedup.writeMinhashIndex(docs, "doc_id", "text", a.minhashIndexPath.get)
    BloomKeyIndex.appendBatch(docs, a.exactKeys.get)
    CellIndex(a.annIndexPath.get, Voronoi(nlist = 4), Exact)
      .write(docs, "doc_id", "embedding")
    CellIndex(a.lshIndexPath.get, Hyperplane(nBits = 6, tables = 3), Exact)
      .write(docs, "doc_id", "embedding")
    FlatIndex(a.sqIndexPath.get, VectorCodec.Sq8)
      .write(docs, "doc_id", "embedding")
    // components: 5 is a canonical (min of {5,40,41}), 10 a satellite of
    // {2,10}, {50,51} untouched
    Components.updateLabelStore(spark, a.dupLabelsPath.get,
      Seq((5L, 40L), (40L, 41L), (2L, 10L), (50L, 51L))
        .toDF("src", "dst"), "src", "dst", partitions = 8)
    // record untouched ANN cell leaves — they must not be rewritten
    val cells = spark.read.parquet(s"${a.annIndexPath.get}/data")
      .select(col("doc_id"), col("cell"))
      .where(col("doc_id").isin(gone: _*))
      .select("cell").distinct().as[Int].collect().toSet
    def cellFiles(c: Int): Set[(String, Long)] = {
      val d = new java.io.File(s"${a.annIndexPath.get}/data/cell=$c")
      Option(d.listFiles()).getOrElse(Array.empty)
        .filter(_.getName.endsWith(".parquet"))
        .map(f => (f.getName, f.lastModified())).toSet
    }
    val untouchedCells = (0 until 4).filterNot(cells)
    val cellsBefore = untouchedCells.map(c => c -> cellFiles(c)).toMap

    val r = Retraction.retractDocs(spark,
      (gone :+ 9999L).toDF("doc_id"), "doc_id", a)
    assert(r === Retraction.Report(requested = 4, found = 3))

    // corpus: survivors only
    val left = spark.read.parquet(a.corpusPath).select("doc_id")
      .as[Long].collect().toSet
    assert(left === (1L to 80L).toSet -- gone)
    // text index serves equal a fresh survivor index (df/N/avgdl shift)
    val fresh = TextIndex.Cfg(tmp("rt_ti_fresh"), partitions = 8)
    TextIndex.writeIndex(docs.where(!col("doc_id").isin(gone: _*)),
      "doc_id", "text", fresh)
    val q = Seq("hash", "join", "vector")
    assert(
      TextIndex.bm25TopK(spark, a.textIndex.get, "doc_id", q, 30)
        .as[(Long, Double)].collect().toSeq ===
      TextIndex.bm25TopK(spark, fresh, "doc_id", q, 30)
        .as[(Long, Double)].collect().toSeq)
    // minhash gate: the index answers with NO retracted corpus_id, so a
    // re-submitted copy matches nothing and re-admits
    val mh = Dedup.dedupAgainstIndex(docs, "doc_id", "text",
      a.minhashIndexPath.get, threshold = 0.8)
    assert(mh.where(col("corpus_id").isin(gone: _*)).isEmpty)
    // bloom gate: retracted keys confirm absent → novel again
    val back = BloomKeyIndex.novelRows(
      docs.where(col("doc_id").isin(5L, 10L)), a.exactKeys.get)
    assert(back.select("doc_id").as[Long].collect().toSet === Set(5L, 10L))
    // and a surviving doc is still recognized as a duplicate
    assert(BloomKeyIndex.novelRows(
      docs.where(col("doc_id") === 20L), a.exactKeys.get).isEmpty)
    // ANN: codes gone, untouched cells byte-identical
    val annIds = spark.read.parquet(s"${a.annIndexPath.get}/data")
      .select("doc_id").as[Long].collect().toSet
    assert((annIds & gone.toSet) === Set.empty)
    assert(annIds.contains(20L))
    untouchedCells.foreach(c => assert(cellFiles(c) === cellsBefore(c),
      s"cell=$c holds no retracted doc but was rewritten"))
    // LSH: rows gone from the (table, bucket)-pruned rewrite, a
    // survivor still resident with its tables× replication
    val lshData = spark.read.parquet(s"${a.lshIndexPath.get}/data")
    assert(lshData.where(col("doc_id").isin(gone: _*)).isEmpty)
    assert(lshData.where(col("doc_id") === 20L).count() === 3L)
    // SQ: rows gone
    assert(spark.read.parquet(s"${a.sqIndexPath.get}/data")
      .where(col("doc_id").isin(gone: _*)).isEmpty)
    // label store: survivor star edges only — 5's satellites orphaned
    // back to singletons, 10's row gone, {50,51} intact
    val labels = Components.readLabelStore(spark, a.dupLabelsPath.get)
      .as[(Long, Long)].collect().toSet
    assert(labels === Set((2L, 2L), (50L, 50L), (51L, 50L)))
    // re-run: clean no-op
    assert(Retraction.retractDocs(spark, gone.toDF("doc_id"), "doc_id", a)
      === Retraction.Report(requested = 3, found = 0))
    assert(spark.read.parquet(a.corpusPath).count() === 77L)
  }

  test("partitioned-corpus takedown: only the retracted docs' date " +
      "partitions rewrite — other dates keep their files byte-identical " +
      "— and a re-run is a found=0 no-op") {
    val corpusPath = tmp("rt_pcorpus")
    corpus(40).drop("embedding")
      .withColumn("day", concat(lit("d"), pmod(col("doc_id"), lit(4))))
      .write.partitionBy("day").mode("overwrite").parquet(corpusPath)
    def dayFiles(d: String): Set[(String, Long)] = {
      val dir = new java.io.File(corpusPath, s"day=$d")
      Option(dir.listFiles()).getOrElse(Array.empty)
        .filter(_.getName.endsWith(".parquet"))
        .map(f => (f.getName, f.lastModified())).toSet
    }
    val before = (0 to 3).map(i => s"d$i" -> dayFiles(s"d$i")).toMap
    // ids 1 and 5 both live in day=d1
    val a = Retraction.Artifacts(corpusPath,
      corpusPartitionCol = Some("day"))
    val r = Retraction.retractDocs(spark, Seq(1L, 5L).toDF("doc_id"),
      "doc_id", a)
    assert(r === Retraction.Report(requested = 2, found = 2))
    Seq("d0", "d2", "d3").foreach(d => assert(dayFiles(d) === before(d),
      s"day=$d holds no retracted doc but was rewritten"))
    assert(dayFiles("d1") !== before("d1"))
    val left = spark.read.parquet(corpusPath).select("doc_id")
      .as[Long].collect().toSet
    assert(left === (1L to 40L).toSet -- Set(1L, 5L))
    assert(Retraction.retractDocs(spark, Seq(1L).toDF("doc_id"),
      "doc_id", a) === Retraction.Report(1, 0))
  }

  test("media hash index retraction: rows excised, re-run no-op") {
    val path = tmp("rt_media")
    (1L to 30L).map(i => (i, i * 2654435761L))
      .toDF("media_id", "dhash")
      .write.mode("overwrite").parquet(path)
    Multimodal.retractFromMediaIndex(spark, path,
      Seq(3L, 7L).toDF("id"), "id")
    val left = spark.read.parquet(path).select("media_id")
      .as[Long].collect().toSet
    assert(left === (1L to 30L).toSet -- Set(3L, 7L))
    Multimodal.retractFromMediaIndex(spark, path,
      Seq(3L).toDF("id"), "id") // absent — no-op
    assert(spark.read.parquet(path).count() === 28L)
  }

  test("tombstone ≠ ban, end to end: a doc admitted by the corpus loop, " +
      "retracted, then re-submitted is RE-ADMITTED through the full gate " +
      "chain (exact-key + minhash + text index all forgot it)") {
    val root = Files.createTempDirectory("rt_loop")
    val corpusPath = root.resolve("corpus").toString
    val indexPath = root.resolve("mh").toString
    val ti = TextIndex.Cfg(root.resolve("ti").toString, partitions = 8)
    val bk = BloomKeyIndex.Cfg(root.resolve("bk").toString,
      keyExpr = "text")
    val lbl = root.resolve("lbl").toString
    val batch = corpus(20).drop("embedding")
    def admit(b: DataFrame): Long =
      graft.ingest.CorpusPipeline.dedupAndAppend(b, corpusPath, indexPath,
        "doc_id", "text", threshold = 0.8,
        exactKeys = Some(bk), textIndex = Some(ti),
        dupLabels = Some(lbl), dupLabelsPartitions = 4)
    val first = admit(batch)
    assert(first > 0)
    // an immediate replay is fully swallowed (the gates remember)
    assert(admit(batch.where(col("doc_id") === 3L)) === 0L)
    // takedown doc 3, then the SAME document arrives again
    Retraction.retractDocs(spark, Seq(3L).toDF("doc_id"), "doc_id",
      Retraction.Artifacts(corpusPath,
        minhashIndexPath = Some(indexPath), textIndex = Some(ti),
        exactKeys = Some(bk), dupLabelsPath = Some(lbl)))
    assert(spark.read.parquet(corpusPath)
      .where(col("doc_id") === 3L).isEmpty)
    assert(admit(batch.where(col("doc_id") === 3L)) === 1L,
      "a retracted doc must re-admit — forgetting is not banning")
    assert(spark.read.parquet(corpusPath)
      .where(col("doc_id") === 3L).count() === 1L)
    // and the text index serves it again
    assert(TextIndex.bm25TopK(spark, ti, "doc_id",
        docText(3L).split(" ").toSeq, 20)
      .where(col("doc_id") === 3L).count() === 1L)
  }

  test("rejectQuarantined: compensate-then-drop — a rejected batch's " +
      "committed residue (corpus rows from a post-append crash, " +
      "provenance edges) is excised, kept batches rejoin the queue, " +
      "the ledger records the rejection, and a re-run is a no-op") {
    val root = Files.createTempDirectory("rt_rej")
    val qp = root.resolve("quarantine").toString
    val corpusPath = root.resolve("corpus").toString
    val lbl = root.resolve("lbl").toString
    val ledger = root.resolve("ledger").toString
    def mk(ids: Seq[Long]): DataFrame =
      ids.map(i => (i, docText(i))).toDF("doc_id", "text")
    val poison = mk(1L to 5L) // quarantined, then condemned
    val healthy = mk(11L to 15L) // quarantined, stays queued
    val admitted = mk(21L to 25L) // normally-admitted corpus content
    // the post-append-crash state: the poison batch's rows committed to
    // the corpus and its provenance edge landed, then it was re-queued
    admitted.unionByName(poison).write.mode("overwrite").parquet(corpusPath)
    Components.updateLabelStore(spark, lbl,
      Seq((1L, 21L)).toDF("src", "dst"), "src", "dst")
    poison.withColumn("__q_batch", lit(100L))
      .write.mode("append").parquet(qp)
    healthy.withColumn("__q_batch", lit(200L))
      .write.mode("append").parquet(qp)
    val a = Retraction.Artifacts(corpusPath, dupLabelsPath = Some(lbl))
    val r = graft.streaming.CorpusStream.rejectQuarantined(spark, qp,
      Seq(100L), a, Some(ledger))
    assert(r === graft.streaming.CorpusStream.RejectResult(1L, 5L))
    // corpus residue gone, legitimate content intact
    assert(spark.read.parquet(corpusPath).select("doc_id")
      .as[Long].collect().toSet === (21L to 25L).toSet)
    // provenance edge excised: 21's row pointed at component 1 → gone
    assert(Components.readLabelStore(spark, lbl).isEmpty)
    // the healthy batch waits in the queue, tag intact
    val q = spark.read.parquet(qp)
    assert(q.select("__q_batch").distinct().as[Long].collect().toSeq
      === Seq(200L))
    assert(q.count() === 5L)
    // ledger row
    val led = spark.read.parquet(ledger)
      .select("batch_id", "n_docs").as[(Long, Long)].collect().toSeq
    assert(led === Seq((100L, 5L)))
    // re-run (the crashed-rejection recovery path): no matching batch,
    // queue and corpus unchanged
    val r2 = graft.streaming.CorpusStream.rejectQuarantined(spark, qp,
      Seq(100L), a, Some(ledger))
    assert(r2 === graft.streaming.CorpusStream.RejectResult(0L, 0L))
    assert(spark.read.parquet(qp).count() === 5L)
    assert(spark.read.parquet(corpusPath).count() === 5L)
    // rejection BEFORE any admission: no corpus (or any artifact) exists
    // yet — every artifact verb answers a no-op instead of crashing, and
    // the condemned batch still leaves the queue
    val qp2 = root.resolve("quarantine2").toString
    poison.withColumn("__q_batch", lit(7L))
      .write.mode("append").parquet(qp2)
    val r3 = graft.streaming.CorpusStream.rejectQuarantined(spark, qp2,
      Seq(7L),
      Retraction.Artifacts(root.resolve("nocorpus").toString,
        textIndex = Some(TextIndex.Cfg(root.resolve("noti").toString)),
        minhashIndexPath = Some(root.resolve("nomh").toString),
        annIndexPath = Some(root.resolve("noann").toString),
        dupLabelsPath = Some(root.resolve("nolbl").toString)))
    assert(r3 === graft.streaming.CorpusStream.RejectResult(1L, 5L))
    assert(!new java.io.File(qp2).exists(),
      "an emptied queue leaves no directory behind")
  }

  test("retroactive phrase decontamination: a benchmark update purges " +
      "already-admitted verbatim-contaminated docs from every artifact " +
      "via pruned index reads; a clean corpus is then untouched") {
    val root = Files.createTempDirectory("rt_phrase")
    val corpusPath = root.resolve("corpus").toString
    val ti = TextIndex.Cfg(root.resolve("ti").toString, partitions = 8,
      positional = true)
    val mh = root.resolve("mh").toString
    val docs = corpus(40).drop("embedding")
    docs.write.mode("overwrite").parquet(corpusPath)
    TextIndex.writeIndex(docs, "doc_id", "text", ti)
    Dedup.writeMinhashIndex(docs, "doc_id", "text", mh)
    val a = Retraction.Artifacts(corpusPath, textIndex = Some(ti),
      minhashIndexPath = Some(mh))
    // ground truth: docs whose token stream contains "hash join"
    val contaminated = docs.collect().filter { r =>
      val ts = r.getString(1).toLowerCase.trim.split("\\s+")
        .filter(_.nonEmpty)
      (0 until math.max(ts.length - 1, 0))
        .exists(i => ts(i) == "hash" && ts(i + 1) == "join")
    }.map(_.getLong(0)).toSet
    assert(contaminated.nonEmpty, "fixture must contain the phrase")
    val phrases = Seq(Seq("hash", "join"))
    val r = Retraction.retractMatchingPhrases(spark, phrases, a)
    assert(r === Retraction.Report(contaminated.size.toLong,
      contaminated.size.toLong))
    assert(spark.read.parquet(corpusPath).select("doc_id")
      .as[Long].collect().toSet === (1L to 40L).toSet -- contaminated)
    assert(TextIndex.phraseMembers(spark, ti, "doc_id", phrases).isEmpty)
    assert(graft.operators.Dedup.dedupAgainstIndex(docs, "doc_id",
        "text", mh, 0.8)
      .where(col("corpus_id").isin(contaminated.toSeq: _*)).isEmpty)
    // the corpus is clean now — a repeat touches nothing
    assert(Retraction.retractMatchingPhrases(spark, phrases, a)
      === Retraction.Report(0L, 0L))
  }

  test("sketch-sidecar epoch retraction: dropping a poisoned day's " +
      "group rows leaves cross-group serves exactly equal to a sidecar " +
      "that never ingested that day; re-run no-op; ungrouped sidecars " +
      "refuse loudly") {
    import graft.sources.SketchSidecar
    def dayData(day: String, seed: Long): DataFrame =
      (1L to 50L).map(i => (i + seed * 1000, day, (i * seed % 97).toDouble))
        .toDF("id", "day", "v")
    def build(path: String, days: Seq[(String, Long)]): SketchSidecar.Cfg = {
      val cfg = SketchSidecar.Cfg(path, distinctExpr = "id",
        valueExpr = "v", groupKeyExpr = Some("day"))
      days.foreach { case (d, s) =>
        SketchSidecar.appendBatch(dayData(d, s), cfg)
      }
      cfg
    }
    val full = build(tmp("rt_sketch"),
      Seq(("d1", 1L), ("d2", 2L), ("d2", 3L), ("d3", 4L)))
    val clean = build(tmp("rt_sketch_clean"), Seq(("d1", 1L), ("d3", 4L)))
    SketchSidecar.retractGroups(spark, full.sidecarPath, Seq("d2"))
    assert(spark.read.parquet(full.sidecarPath)
      .where(col("grp") === "d2").isEmpty)
    // the windowed serve over the survivors equals the never-ingested
    // sidecar's answer exactly (the rows are the same deterministic
    // appends)
    def moments(p: String) = SketchSidecar
      .servedMoments(spark, p, SketchSidecar.Scope.Window(Seq("d1", "d3")))
      .select("vn", "vsum", "vmin", "vmax")
      .as[(Long, Double, Double, Double)].collect().head
    assert(moments(full.sidecarPath) === moments(clean.sidecarPath))
    // idempotent
    SketchSidecar.retractGroups(spark, full.sidecarPath, Seq("d2"))
    assert(spark.read.parquet(full.sidecarPath).count() === 2L)
    // an ungrouped sidecar has no epoch to segment
    val flat = SketchSidecar.Cfg(tmp("rt_sketch_flat"),
      distinctExpr = "id", valueExpr = "v")
    SketchSidecar.appendBatch(dayData("d1", 1L), flat)
    val e = intercept[IllegalArgumentException] {
      SketchSidecar.retractGroups(spark, flat.sidecarPath, Seq("d1"))
    }
    assert(e.getMessage.contains("not grouped"))
  }

  private def copyTree(src: java.io.File, dst: java.io.File): Unit = {
    if (src.isDirectory) {
      dst.mkdirs()
      Option(src.listFiles()).getOrElse(Array.empty)
        .foreach(f => copyTree(f, new java.io.File(dst, f.getName)))
    } else Files.copy(src.toPath, dst.toPath,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
  }

  test("lazy takedown: tombstoneDocs hides the ids from EVERY serving " +
      "face immediately with zero physical rewrites; the physical pass " +
      "(retractDocs) then lands identical to eager retraction and " +
      "retires the overlay, so a re-submitted copy is not hidden") {
    val docs = corpus(60)
    val gone = Seq(4L, 9L, 17L) // 17 zero-token
    def build(tag: String): Retraction.Artifacts = {
      val a = Retraction.Artifacts(
        corpusPath = tmp(s"lz_corpus_$tag"),
        minhashIndexPath = Some(tmp(s"lz_mh_$tag")),
        textIndex = Some(TextIndex.Cfg(tmp(s"lz_ti_$tag"), partitions = 8)),
        annIndexPath = Some(tmp(s"lz_ann_$tag")),
        dupLabelsPath = Some(tmp(s"lz_lbl_$tag")))
      docs.write.mode("overwrite").parquet(a.corpusPath)
      TextIndex.writeIndex(docs, "doc_id", "text", a.textIndex.get)
      Dedup.writeMinhashIndex(docs, "doc_id", "text",
        a.minhashIndexPath.get)
      CellIndex(a.annIndexPath.get, Voronoi(nlist = 4), Exact)
        .write(docs, "doc_id", "embedding")
      // 4 is a canonical (min of {4,30,31}), 9 a satellite of {2,9}
      Components.updateLabelStore(spark, a.dupLabelsPath.get,
        Seq((4L, 30L), (30L, 31L), (2L, 9L)).toDF("src", "dst"),
        "src", "dst")
      a
    }
    val a = build("lazy")
    val ti = a.textIndex.get
    val postingsBefore = spark.read.parquet(s"${ti.indexPath}/postings")
      .where(col("doc_id").isin(gone: _*)).count()
    assert(postingsBefore > 0)
    val r = Retraction.tombstoneDocs(spark, gone.toDF("doc_id"),
      "doc_id", a)
    assert(r === Retraction.Report(3, 3))
    // membership gone from every face — the floor contract
    val q = Seq("hash", "join", "vector", "scan", "sort")
    val bm = TextIndex.bm25TopK(spark, ti, "doc_id", q, 60)
    assert(bm.where(col("doc_id").isin(gone: _*)).isEmpty)
    assert(bm.count() > 0) // survivors still serve
    // scale shape: the overlay consult is a BROADCAST anti-join riding
    // the pruned postings read — never a shuffle of the serve side
    val plan = bm.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin") && plan.contains("LeftAnti"),
      s"overlay consult must be a broadcast anti-join:\n$plan")
    val ann = CellIndex(a.annIndexPath.get, Voronoi(nprobe = 4), Exact)
      .topK(spark, "doc_id", "embedding",
        docs.where(col("doc_id") === 4L).select("embedding"), "embedding",
        k = 60)
    assert(ann.where(col("doc_id").isin(gone: _*)).isEmpty)
    val mh = Dedup.dedupAgainstIndex(docs, "doc_id", "text",
      a.minhashIndexPath.get, threshold = 0.8)
    assert(mh.where(col("corpus_id").isin(gone: _*)).isEmpty)
    // label store: 9's row hidden; 4's satellites read as orphans
    assert(Components.lookupComponent(spark, a.dupLabelsPath.get, 9L)
      === None)
    assert(Components.lookupComponents(spark, a.dupLabelsPath.get,
        Seq(30L, 31L))
      .select("component").as[Long].collect().toSet === Set(30L, 31L))
    // ...and NOTHING was physically rewritten: postings + corpus intact
    assert(spark.read.parquet(s"${ti.indexPath}/postings")
      .where(col("doc_id").isin(gone: _*)).count() === postingsBefore)
    assert(spark.read.parquet(a.corpusPath)
      .where(col("doc_id").isin(gone: _*)).count() === 3L)
    // stats still price the physical index (N catches up at excision)
    assert(TextIndex.stats(spark, ti).select("n_docs")
      .as[Long].collect().head === 60L)

    // the physical pass on the compaction cadence: identical to EAGER
    Retraction.retractDocs(spark, gone.toDF("doc_id"), "doc_id", a)
    val eager = build("eager")
    Retraction.retractDocs(spark, gone.toDF("doc_id"), "doc_id", eager)
    assert(
      TextIndex.bm25TopK(spark, ti, "doc_id", q, 60)
        .as[(Long, Double)].collect().toSeq ===
      TextIndex.bm25TopK(spark, eager.textIndex.get, "doc_id", q, 60)
        .as[(Long, Double)].collect().toSeq)
    assert(TextIndex.stats(spark, ti).as[(Long, Long, Double, Long, Long)]
        .collect().head ===
      TextIndex.stats(spark, eager.textIndex.get)
        .as[(Long, Long, Double, Long, Long)].collect().head)
    assert(spark.read.parquet(a.corpusPath).select("doc_id")
        .as[Long].collect().toSet ===
      spark.read.parquet(eager.corpusPath).select("doc_id")
        .as[Long].collect().toSet)
    // overlays retired — a re-admission of the same id is NOT hidden
    (a.minhashIndexPath.toSeq :+ ti.indexPath).foreach { root =>
      assert(graft.sources.Tombstones
        .readIds(spark, root).isEmpty, s"stale overlay at $root")
    }
    TextIndex.appendBatch(docs.where(col("doc_id") === 4L),
      "doc_id", "text", ti)
    assert(TextIndex.bm25TopK(spark, ti, "doc_id", q, 60)
      .where(col("doc_id") === 4L).count() === 1L)
  }

  test("exactly-once retraction ledger: a crash-rerun (ledger committed, " +
      "leaves not yet rewritten) and a completed-run rerun both land " +
      "EXACT stats with no healing; a re-admission folds the pending " +
      "compensation so the next retraction compensates afresh") {
    val docs = corpus(30)
    val goneDocs = docs.where(col("doc_id").isin(6L, 17L)) // 17 zero-token
    val survivors = docs.where(!col("doc_id").isin(6L, 17L))
    def freshStats(of: DataFrame): (Long, Long, Double, Long, Long) = {
      val cfg = TextIndex.Cfg(tmp("lx_fresh"), partitions = 8)
      TextIndex.writeIndex(of, "doc_id", "text", cfg)
      TextIndex.stats(spark, cfg)
        .as[(Long, Long, Double, Long, Long)].collect().head
    }
    val ti = TextIndex.Cfg(tmp("lx_ti"), partitions = 8)
    TextIndex.writeIndex(docs, "doc_id", "text", ti)
    // snapshot the postings so the ledger-committed/leaves-intact crash
    // state can be reconstructed
    val pdir = new java.io.File(s"${ti.indexPath}/postings")
    val snap = new java.io.File(tmp("lx_snap"))
    copyTree(pdir, snap)
    assert(TextIndex.retract(spark, ti, goneDocs, "doc_id", "text")
      === ((2L, spark.read.parquet(snap.toString)
        .where(col("doc_id") === 6L).agg(sum("tf"))
        .as[Long].collect().head)))
    val want = freshStats(survivors)
    assert(TextIndex.stats(spark, ti)
      .as[(Long, Long, Double, Long, Long)].collect().head === want)
    // CRASH WINDOW: ledger committed, leaf rewrites lost — restore the
    // pre-retract postings and re-run. The re-run must skip the
    // already-compensated ids (no double-subtract) and re-heal the
    // leaves. This is the r17 double-subtract window, now exact.
    graft.sources.Compaction.rm(pdir)
    copyTree(snap, pdir)
    assert(TextIndex.retract(spark, ti, goneDocs, "doc_id", "text")
      === ((0L, 0L)))
    assert(TextIndex.stats(spark, ti)
      .as[(Long, Long, Double, Long, Long)].collect().head === want,
      "crash-rerun must land exact stats WITHOUT healStats")
    assert(spark.read.parquet(pdir.toString)
      .where(col("doc_id") === 6L).isEmpty)
    // completed-run rerun (orchestrator crash before the corpus
    // rewrite): same exactness
    assert(TextIndex.retract(spark, ti, goneDocs, "doc_id", "text")
      === ((0L, 0L)))
    assert(TextIndex.stats(spark, ti)
      .as[(Long, Long, Double, Long, Long)].collect().head === want)
    // RE-ADMISSION: the same doc arrives again — appendBatch folds its
    // pending compensation away atomically, so stats reflect presence…
    TextIndex.appendBatch(docs.where(col("doc_id") === 6L),
      "doc_id", "text", ti)
    val withSix = freshStats(docs.where(col("doc_id") =!= 17L))
    assert(TextIndex.stats(spark, ti)
      .as[(Long, Long, Double, Long, Long)].collect().head === withSix)
    // …and the NEXT retraction measures and compensates afresh —
    // exactly-once across a full admit/retract/re-admit/retract cycle
    val r2 = TextIndex.retract(spark, ti,
      docs.where(col("doc_id") === 6L), "doc_id", "text")
    assert(r2._1 === 1L && r2._2 > 0L)
    assert(TextIndex.stats(spark, ti)
      .as[(Long, Long, Double, Long, Long)].collect().head === want)
    // compact folds the ledger into the base row without moving any
    // served value — and empties it (the zero-cost steady state)
    TextIndex.compact(spark, ti)
    assert(TextIndex.stats(spark, ti)
      .as[(Long, Long, Double, Long, Long)].collect().head === want)
    assert(TextIndex.bm25TopK(spark, ti, "doc_id",
      Seq("hash", "join"), 30).count() > 0)
  }

  test("tombstoneMatchingPhrases: a benchmark update makes its " +
      "verbatim-contaminated docs unservable in O(ids) overlay writes; " +
      "applyTombstones later runs the physical pass from the overlays " +
      "alone (no memory of the request) and retires them") {
    val root = Files.createTempDirectory("rt_lazyphrase")
    val corpusPath = root.resolve("corpus").toString
    val ti = TextIndex.Cfg(root.resolve("ti").toString, partitions = 8,
      positional = true)
    val mh = root.resolve("mh").toString
    val docs = corpus(40).drop("embedding")
    docs.write.mode("overwrite").parquet(corpusPath)
    TextIndex.writeIndex(docs, "doc_id", "text", ti)
    Dedup.writeMinhashIndex(docs, "doc_id", "text", mh)
    val a = Retraction.Artifacts(corpusPath, textIndex = Some(ti),
      minhashIndexPath = Some(mh))
    val phrases = Seq(Seq("hash", "join"))
    val contaminated = TextIndex.phraseMembers(spark, ti, "doc_id",
      phrases).as[Long].collect().toSet
    assert(contaminated.nonEmpty)
    val r = Retraction.tombstoneMatchingPhrases(spark, phrases, a)
    assert(r === Retraction.Report(contaminated.size.toLong,
      contaminated.size.toLong))
    // membership and BM25 serves already exclude them — while the
    // postings (and corpus) still physically hold every row
    assert(TextIndex.phraseMembers(spark, ti, "doc_id", phrases).isEmpty)
    assert(TextIndex.bm25TopK(spark, ti, "doc_id",
        Seq("hash", "join"), 40)
      .where(col("doc_id").isin(contaminated.toSeq: _*)).isEmpty)
    assert(spark.read.parquet(s"${ti.indexPath}/postings")
      .where(col("doc_id").isin(contaminated.toSeq: _*)).count() > 0)
    assert(spark.read.parquet(corpusPath).count() === 40L)
    // idempotent: the membership serve consults the overlay, so a
    // repeat finds nothing new
    assert(Retraction.tombstoneMatchingPhrases(spark, phrases, a)
      === Retraction.Report(0L, 0L))
    // the compaction-cadence physical pass: worklist = the overlays
    val applied = Retraction.applyTombstones(spark, a)
    assert(applied === Retraction.Report(contaminated.size.toLong,
      contaminated.size.toLong))
    assert(spark.read.parquet(corpusPath).select("doc_id")
      .as[Long].collect().toSet === (1L to 40L).toSet -- contaminated)
    assert(spark.read.parquet(s"${ti.indexPath}/postings")
      .where(col("doc_id").isin(contaminated.toSeq: _*)).isEmpty)
    assert(graft.sources.Tombstones.readIds(spark, ti.indexPath).isEmpty)
    assert(graft.sources.Tombstones.readIds(spark, mh).isEmpty)
    // nothing pending → the cadence verb is a no-op
    assert(Retraction.applyTombstones(spark, a)
      === Retraction.Report(0L, 0L))
  }

  test("corpus loop maintains the key-bucketed forward store: created on " +
      "the first batch, appended after, serves the stored snippet fetch, " +
      "replays are swallowed by the gate, and takedown excises it") {
    import graft.ingest.CorpusPipeline
    val dir = Files.createTempDirectory("fwd_loop")
    val corpusPath = dir.resolve("corpus").toString
    val idx = dir.resolve("mh").toString
    val fs = CorpusPipeline.ForwardStore(dir.resolve("fs").toString,
      partitions = 8)
    val ti = TextIndex.Cfg(dir.resolve("ti").toString, partitions = 8)
    // fully distinct docs (unique suffixed tokens) sharing one query term
    def t(i: Long): String =
      s"alpha$i bravo$i shared charlie$i delta$i echo$i"
    def mk(ids: Seq[Long]): DataFrame =
      ids.map(i => (i, t(i))).toDF("doc_id", "text")
    def admit(b: DataFrame): Long =
      CorpusPipeline.dedupAndAppend(b, corpusPath, idx, "doc_id", "text",
        threshold = 0.8, textIndex = Some(ti), forwardStore = Some(fs))
    assert(admit(mk(1L to 6L)) === 6L)
    assert(admit(mk(7L to 12L)) === 6L)
    val rows = graft.sources.Bucketing.readKeys(spark, fs.path,
        "doc_id", (1L to 12L))
      .select("doc_id", "text").as[(Long, String)].collect().toSet
    assert(rows === (1L to 12L).map(i => (i, t(i))).toSet)
    // the stored snippet face serves from the loop-maintained store
    val snip = TextIndex.snippetTopKStored(spark, ti, fs.path, "doc_id",
      "text", Seq("shared"), window = 3, k = 5)
    assert(snip.count() === 5L)
    assert(snip.where(!col("snippet").contains("shared")).isEmpty)
    // a replayed batch is swallowed by the gate → no duplicate rows
    assert(admit(mk(7L to 9L)) === 0L)
    assert(graft.sources.Bucketing.readKeys(spark, fs.path, "doc_id",
      Seq(7L, 8L, 9L)).count() === 3L)
    // takedown: forwardStorePath rides Artifacts like every sidecar
    Retraction.retractDocs(spark, Seq(3L).toDF("doc_id"), "doc_id",
      Retraction.Artifacts(corpusPath, minhashIndexPath = Some(idx),
        textIndex = Some(ti), forwardStorePath = Some(fs.path)))
    assert(graft.sources.Bucketing.readKeys(spark, fs.path, "doc_id",
        Seq(2L, 3L, 4L))
      .select("doc_id").as[Long].collect().toSet === Set(2L, 4L))
  }

  test("streaming takedown intake: invisibility lands with the " +
      "micro-batch (tombstones), the applyEvery cadence runs the " +
      "physical pass from the overlays alone, and LAZY quarantine " +
      "rejection composes the same verbs") {
    import org.apache.spark.sql.types.{LongType, StructField, StructType}
    val root = Files.createTempDirectory("rt_stream_td")
    val corpusPath = root.resolve("corpus").toString
    val ti = TextIndex.Cfg(root.resolve("ti").toString, partitions = 8)
    val mh = root.resolve("mh").toString
    val docs = corpus(40).drop("embedding")
    docs.write.mode("overwrite").parquet(corpusPath)
    TextIndex.writeIndex(docs, "doc_id", "text", ti)
    Dedup.writeMinhashIndex(docs, "doc_id", "text", mh)
    val a = Retraction.Artifacts(corpusPath, textIndex = Some(ti),
      minhashIndexPath = Some(mh))
    val reqDir = root.resolve("requests").toString
    val chk = root.resolve("chk").toString
    val schema = StructType(Seq(StructField("doc_id", LongType)))
    def drain(applyEvery: Int): Unit =
      graft.streaming.CorpusStream.startTakedowns(spark, reqDir, schema,
        chk, a, applyEvery).awaitTermination()
    // request batch 1: no cadence — overlay only
    Seq(5L, 10L).toDF("doc_id").write.mode("append").parquet(reqDir)
    drain(applyEvery = 0)
    val qr = Seq("hash", "join", "vector", "scan", "sort")
    assert(TextIndex.bm25TopK(spark, ti, "doc_id", qr, 40)
      .where(col("doc_id").isin(5L, 10L)).isEmpty,
      "tombstoned ids must be unservable one micro-batch after request")
    assert(spark.read.parquet(s"${ti.indexPath}/postings")
      .where(col("doc_id").isin(5L, 10L)).count() > 0,
      "no physical rewrite without the cadence")
    // request batch 2 with applyEvery = 1 — the physical pass runs,
    // excising EVERYTHING pending (batch 1's overlays included)
    Seq(17L).toDF("doc_id").write.mode("append").parquet(reqDir)
    drain(applyEvery = 1)
    assert(spark.read.parquet(corpusPath).select("doc_id")
      .as[Long].collect().toSet === (1L to 40L).toSet -- Set(5L, 10L, 17L))
    assert(spark.read.parquet(s"${ti.indexPath}/postings")
      .where(col("doc_id").isin(5L, 10L, 17L)).isEmpty)
    assert(graft.sources.Tombstones.readIds(spark, ti.indexPath).isEmpty)

    // LAZY quarantine rejection: committed residue of a condemned batch
    // becomes unservable immediately; the corpus rows wait for the
    // cadence and applyTombstones finishes the job
    val residue = Seq(45L, 46L, 47L)
      .map(i => (i, docText(i))).toDF("doc_id", "text")
    residue.write.mode("append").parquet(corpusPath)
    TextIndex.appendBatch(residue, "doc_id", "text", ti)
    Dedup.appendMinhashIndex(residue, "doc_id", "text", mh)
    val qp = root.resolve("quarantine").toString
    residue.withColumn("__q_batch", lit(7L))
      .write.mode("append").parquet(qp)
    val r = graft.streaming.CorpusStream.rejectQuarantined(spark, qp,
      Seq(7L), a, lazily = true)
    assert(r === graft.streaming.CorpusStream.RejectResult(1L, 3L))
    assert(!new java.io.File(qp).exists(),
      "the condemned batch leaves the queue")
    assert(spark.read.parquet(corpusPath)
      .where(col("doc_id").isin(45L, 46L, 47L)).count() === 3L,
      "lazy rejection defers the corpus excision")
    assert(TextIndex.bm25TopK(spark, ti, "doc_id", qr, 40)
      .where(col("doc_id").isin(45L, 46L, 47L)).isEmpty)
    assert(Dedup.dedupAgainstIndex(residue, "doc_id", "text", mh, 0.8)
      .where(col("corpus_id").isin(45L, 46L, 47L)).isEmpty)
    Retraction.applyTombstones(spark, a)
    assert(spark.read.parquet(corpusPath)
      .where(col("doc_id").isin(45L, 46L, 47L)).isEmpty)
  }

  test("GDPR drill, end to end: a fully-sidecarred corpus loop admits " +
      "batches; a streamed takedown request tombstones one doc " +
      "(unservable everywhere within the micro-batch, exact-key gate " +
      "still HOLDING); the cadence pass excises physically and only " +
      "then does the id re-admit like novel content") {
    import graft.ingest.CorpusPipeline
    import org.apache.spark.sql.types.{LongType, StructField, StructType}
    val root = Files.createTempDirectory("rt_gdpr")
    val corpusPath = root.resolve("corpus").toString
    val mh = root.resolve("mh").toString
    val ti = TextIndex.Cfg(root.resolve("ti").toString, partitions = 8,
      positional = true)
    val bk = BloomKeyIndex.Cfg(root.resolve("bk").toString,
      keyExpr = "text")
    val lbl = root.resolve("lbl").toString
    val fs = CorpusPipeline.ForwardStore(root.resolve("fs").toString,
      partitions = 8)
    def t(i: Long): String =
      s"alpha$i bravo$i shared charlie$i delta$i echo$i"
    def mk(rows: Seq[(Long, String)]): DataFrame = rows.toDF("doc_id", "text")
    def admit(b: DataFrame): Long =
      CorpusPipeline.dedupAndAppend(b, corpusPath, mh, "doc_id", "text",
        threshold = 0.8, exactKeys = Some(bk), textIndex = Some(ti),
        dupLabels = Some(lbl), forwardStore = Some(fs))
    assert(admit(mk((1L to 10L).map(i => (i, t(i))))) === 10L)
    // batch 2 carries an EXACT copy of doc 4 under a new id — the
    // exact-key gate drops it (edge-less by its documented scope)
    assert(admit(mk(Seq((11L, t(11)), (99L, t(4L))))) === 1L)
    assert(spark.read.parquet(corpusPath)
      .where(col("doc_id") === 99L).isEmpty)
    val a = Retraction.Artifacts(corpusPath, minhashIndexPath = Some(mh),
      textIndex = Some(ti), exactKeys = Some(bk), dupLabelsPath = Some(lbl),
      forwardStorePath = Some(fs.path))
    // the takedown request arrives as a STREAM file
    val reqDir = root.resolve("req").toString
    Seq(4L).toDF("doc_id").write.mode("append").parquet(reqDir)
    graft.streaming.CorpusStream.startTakedowns(spark, reqDir,
        StructType(Seq(StructField("doc_id", LongType))),
        root.resolve("chk").toString, a, applyEvery = 0)
      .awaitTermination()
    // unservable EVERYWHERE, one micro-batch after the request:
    assert(TextIndex.bm25TopK(spark, ti, "doc_id", Seq("shared"), 20)
      .where(col("doc_id") === 4L).isEmpty)
    assert(graft.sources.Bucketing.readKeys(spark, fs.path, "doc_id",
      Seq(4L)).isEmpty)
    assert(Dedup.dedupAgainstIndex(mk(Seq((500L, t(4L)))), "doc_id",
        "text", mh, 0.8)
      .where(col("corpus_id") === 4L).isEmpty)
    // …but the EXACT-KEY gate still HOLDS (postings physically exist;
    // re-admitting the id now would double-index — the documented
    // window contract: invisibility is immediate, forgetting arrives
    // with the physical pass)
    assert(BloomKeyIndex.novelRows(mk(Seq((4L, t(4L)))), bk).isEmpty,
      "an exact re-submission must stay gated during the window")
    assert(admit(mk(Seq((4L, t(4L))))) === 0L)
    assert(spark.read.parquet(corpusPath)
      .where(col("doc_id") === 4L).count() === 1L)
    // EXPORT during the window: the corpus's own serving face excludes
    // the pending takedown (a training-data export ships nothing
    // tombstoned) while the raw scan still shows the row
    assert(Retraction.readCorpusServed(spark, a)
      .where(col("doc_id") === 4L).isEmpty)
    val exportDir = root.resolve("export").toString
    val exported = Retraction.exportCorpus(spark, a, exportDir)
    assert(exported === spark.read.parquet(corpusPath).count() - 1)
    assert(spark.read.parquet(exportDir)
      .where(col("doc_id") === 4L).isEmpty)
    // the cadence pass: physical excision, overlays retired
    Retraction.applyTombstones(spark, a)
    assert(spark.read.parquet(corpusPath)
      .where(col("doc_id") === 4L).isEmpty)
    assert(spark.read.parquet(s"${ti.indexPath}/postings")
      .where(col("doc_id") === 4L).isEmpty)
    // …and ONLY NOW does the id re-admit like novel content, through
    // the full gate chain, and serve again
    assert(admit(mk(Seq((4L, t(4L))))) === 1L)
    assert(TextIndex.bm25TopK(spark, ti, "doc_id", Seq("shared"), 20)
      .where(col("doc_id") === 4L).count() === 1L)
    assert(graft.sources.Bucketing.readKeys(spark, fs.path, "doc_id",
      Seq(4L)).count() === 1L)
    // nothing pending → export is the full corpus again
    assert(Retraction.exportCorpus(spark, a, exportDir)
      === spark.read.parquet(corpusPath).count())
  }

  test("applyTombstones crash window: overlays retire AFTER the corpus " +
      "commit, so a crash between them (stale tombstones, corpus already " +
      "excised) self-heals on the next pass — found=0, every excision a " +
      "no-op, retirement completes, the ids stay re-admittable") {
    val docs0 = corpus(30).drop("embedding")
    val a = Retraction.Artifacts(
      corpusPath = tmp("cw_corpus"),
      minhashIndexPath = Some(tmp("cw_mh")),
      textIndex = Some(TextIndex.Cfg(tmp("cw_ti"), partitions = 8)))
    docs0.write.mode("overwrite").parquet(a.corpusPath)
    TextIndex.writeIndex(docs0, "doc_id", "text", a.textIndex.get)
    Dedup.writeMinhashIndex(docs0, "doc_id", "text", a.minhashIndexPath.get)
    val gone = Seq(3L, 7L)
    Retraction.tombstoneDocs(spark, gone.toDF("doc_id"), "doc_id", a)
    assert(Retraction.applyTombstones(spark, a)
      === Retraction.Report(2, 2))
    // SIMULATE the crash state the retire-last order can leave: the
    // corpus rewrite committed but the overlays never retired —
    // re-plant the tombstones on every root
    val roots = Seq(a.corpusPath, a.minhashIndexPath.get,
      a.textIndex.get.indexPath)
    roots.foreach(r =>
      graft.sources.Tombstones.append(r, gone.toDF("doc_id"), "doc_id"))
    // the next cadence pass self-heals (the reverse order — retire
    // before the corpus commit — would instead STRAND the rows:
    // visible again, on no worklist, forever)
    assert(Retraction.applyTombstones(spark, a)
      === Retraction.Report(2, 0))
    roots.foreach(r => assert(
      graft.sources.Tombstones.readIds(spark, r).isEmpty,
      s"stale overlay at $r"))
    assert(spark.read.parquet(a.corpusPath).count() === 28L)
    // and the ids are not hidden from a future re-admission
    TextIndex.appendBatch(docs0.where(col("doc_id") === 3L), "doc_id",
      "text", a.textIndex.get)
    assert(TextIndex.bm25TopK(spark, a.textIndex.get, "doc_id",
        docText(3L).split(" ").toSeq, 30)
      .where(col("doc_id") === 3L).count() === 1L)
  }

  test("tombstone window semantics: takedown WINS over an interleaved " +
      "same-id re-admission (representable only without the exact-key " +
      "gate) — both versions are hidden by the pending overlay and both " +
      "are excised by the cadence pass") {
    val docs0 = corpus(20).drop("embedding")
    val a = Retraction.Artifacts(
      corpusPath = tmp("wd_corpus"),
      minhashIndexPath = Some(tmp("wd_mh")))
    docs0.write.mode("overwrite").parquet(a.corpusPath)
    Dedup.writeMinhashIndex(docs0, "doc_id", "text",
      a.minhashIndexPath.get)
    Retraction.tombstoneDocs(spark, Seq(5L).toDF("doc_id"), "doc_id", a)
    // an interleaved pipeline admits the SAME id with fresh content
    val fresh = Seq((5L, "completely new content for the re-admitted id"))
      .toDF("doc_id", "text")
    fresh.write.mode("append").parquet(a.corpusPath)
    Dedup.appendMinhashIndex(fresh, "doc_id", "text",
      a.minhashIndexPath.get)
    // the overlay is id-keyed, not version-keyed: both rows hidden
    assert(Retraction.readCorpusServed(spark, a)
      .where(col("doc_id") === 5L).isEmpty)
    assert(spark.read.parquet(a.corpusPath)
      .where(col("doc_id") === 5L).count() === 2L)
    // the physical pass destroys both — the documented conservative
    // reading: a takedown request is never narrowed by content that
    // arrived after it was filed
    Retraction.applyTombstones(spark, a)
    assert(spark.read.parquet(a.corpusPath)
      .where(col("doc_id") === 5L).isEmpty)
    assert(spark.read.parquet(s"${a.minhashIndexPath.get}/data")
      .where(col("corpus_id") === 5L).isEmpty)
    // tombstone ≠ ban still holds AFTER the window closes
    fresh.write.mode("append").parquet(a.corpusPath)
    assert(Retraction.readCorpusServed(spark, a)
      .where(col("doc_id") === 5L).count() === 1L)
  }

  test("maintain: the whole cadence as ONE verb — equal to the manual " +
      "applyTombstones→compact sequence, idempotent (a second run is a " +
      "found=0 no-op that moves no served value), and the stats audit " +
      "fails loudly on drift") {
    import graft.ingest.CorpusPipeline
    import graft.sources.SketchSidecar
    def build(tag: String)
        : (Retraction.Artifacts, String, SketchSidecar.Cfg) = {
      val root = Files.createTempDirectory(s"rt_maint_$tag")
      val corpusPath = root.resolve("corpus").toString
      val mh = root.resolve("mh").toString
      val ti = TextIndex.Cfg(root.resolve("ti").toString, partitions = 8)
      val bk = BloomKeyIndex.Cfg(root.resolve("bk").toString,
        keyExpr = "text")
      val fs = CorpusPipeline.ForwardStore(root.resolve("fs").toString,
        partitions = 8)
      val sk = SketchSidecar.Cfg(root.resolve("sk").toString,
        distinctExpr = "doc_id", valueExpr = "length(text)")
      def admit(b: DataFrame): Long =
        CorpusPipeline.dedupAndAppend(b, corpusPath, mh, "doc_id",
          "text", threshold = 0.8, exactKeys = Some(bk),
          textIndex = Some(ti), forwardStore = Some(fs),
          sketch = Some(sk))
      val all = corpus(20).drop("embedding")
      admit(all.where(col("doc_id") <= 10))
      admit(all.where(col("doc_id") > 10))
      val a = Retraction.Artifacts(corpusPath,
        minhashIndexPath = Some(mh), textIndex = Some(ti),
        exactKeys = Some(bk), forwardStorePath = Some(fs.path))
      val present = spark.read.parquet(corpusPath).select("doc_id")
        .as[Long].collect().sorted.take(2)
      Retraction.tombstoneDocs(spark, present.toSeq.toDF("doc_id"),
        "doc_id", a)
      (a, fs.path, sk)
    }
    def state(a: Retraction.Artifacts, fsPath: String,
              sk: SketchSidecar.Cfg) = (
      spark.read.parquet(a.corpusPath).select("doc_id")
        .as[Long].collect().toSet,
      TextIndex.stats(spark, a.textIndex.get)
        .as[(Long, Long, Double, Long, Long)].collect().head,
      TextIndex.bm25TopK(spark, a.textIndex.get, "doc_id",
          Seq("hash", "join", "vector"), 20)
        .as[(Long, Double)].collect().toSeq,
      graft.sources.Bucketing.readKeys(spark, fsPath, "doc_id",
          (1L to 20L))
        .select("doc_id").as[Long].collect().toSet,
      SketchSidecar.servedMoments(spark, sk.sidecarPath)
        .select("vn", "vsum").as[(Long, Double)].collect().head)
    val (aM, fsM, skM) = build("verb")
    val (aH, fsH, skH) = build("hand")
    val rM = Retraction.maintain(spark, aM, sketch = Some(skM))
    assert(rM.requested === 2L && rM.found === 2L)
    // the manual recipe on the twin deployment
    Retraction.applyTombstones(spark, aH)
    graft.sources.Compaction.compact(spark, skH.sidecarPath)
    SketchSidecar.compactRows(spark, skH)
    TextIndex.compact(spark, aH.textIndex.get)
    graft.sources.Compaction.compact(spark,
      s"${aH.minhashIndexPath.get}/data")
    BloomKeyIndex.compactRows(spark, aH.exactKeys.get)
    graft.sources.Compaction.compactPartitioned(spark, fsH)
    graft.sources.Compaction.compact(spark, aH.corpusPath)
    assert(state(aM, fsM, skM) === state(aH, fsH, skH),
      "maintain must land exactly the manual sequence's state")
    // …and the sketch fold really folded: one merged row serves
    assert(spark.read.parquet(skM.sidecarPath).count() === 1L)
    // idempotent
    val before = state(aM, fsM, skM)
    assert(Retraction.maintain(spark, aM, sketch = Some(skM))
      === Retraction.Report(0L, 0L))
    assert(state(aM, fsM, skM) === before)
    // the audit: a drifted stats sidecar fails LOUDLY
    import spark.implicits._
    Seq((999L, 1L)).toDF("n_docs", "sum_len").coalesce(1)
      .write.mode("overwrite")
      .parquet(s"${aM.textIndex.get.indexPath}/stats")
    val e = intercept[IllegalStateException] {
      Retraction.maintain(spark, aM)
    }
    assert(e.getMessage.contains("drifted"))
  }

  test("streaming GDPR drill with cadence: admissions INTERLEAVE between " +
      "the tombstone micro-batch and the apply micro-batch — the " +
      "exact-key gate holds for the same id, a near-copy under a NEW id " +
      "admits as novel (the overlay corollary) and SURVIVES the " +
      "physical pass; a live doc's near-copy stays swallowed") {
    import graft.ingest.CorpusPipeline
    import org.apache.spark.sql.types.{LongType, StructField, StructType}
    val root = Files.createTempDirectory("rt_interleave")
    val corpusPath = root.resolve("corpus").toString
    val mh = root.resolve("mh").toString
    val ti = TextIndex.Cfg(root.resolve("ti").toString, partitions = 8)
    val bk = BloomKeyIndex.Cfg(root.resolve("bk").toString,
      keyExpr = "text")
    // 30 fully-distinct tokens per doc: a one-token edit keeps shingle
    // Jaccard ≈ 25/27 — above the near-dup bar; distinct docs share 0
    def t(i: Long): String =
      (0 until 30).map(j => s"tok${i}x$j").mkString(" ")
    def mk(rows: Seq[(Long, String)]): DataFrame =
      rows.toDF("doc_id", "text")
    def admit(b: DataFrame): Long =
      CorpusPipeline.dedupAndAppend(b, corpusPath, mh, "doc_id", "text",
        threshold = 0.8, exactKeys = Some(bk), textIndex = Some(ti))
    assert(admit(mk((1L to 8L).map(i => (i, t(i))))) === 8L)
    val a = Retraction.Artifacts(corpusPath, minhashIndexPath = Some(mh),
      textIndex = Some(ti), exactKeys = Some(bk))
    val reqDir = root.resolve("req").toString
    val chk = root.resolve("chk").toString
    val schema = StructType(Seq(StructField("doc_id", LongType)))
    def drain(): Unit =
      graft.streaming.CorpusStream.startTakedowns(spark, reqDir, schema,
        chk, a, applyEvery = 2).awaitTermination()
    // micro-batch 0: tombstone 4 — the every-2nd cadence does NOT fire
    Seq(4L).toDF("doc_id").write.mode("append").parquet(reqDir)
    drain()
    assert(spark.read.parquet(s"${ti.indexPath}/postings")
      .where(col("doc_id") === 4L).count() > 0, "no physical pass yet")
    // INTERLEAVED admissions, mid-window:
    val nearCopyOfGone = t(4).split(" ").init.mkString(" ") + " changed"
    val nearCopyOfLive = t(6).split(" ").init.mkString(" ") + " changed"
    // (a) same-id exact copy: the exact-key gate HOLDS (postings still
    //     physically exist — re-admitting would double-index)
    assert(admit(mk(Seq((4L, t(4))))) === 0L)
    // (b) near-copy of the TOMBSTONED doc under a new id: novel by the
    //     overlay corollary; (c) control: a LIVE doc's near-copy stays
    //     swallowed — proving (b) admitted because of the overlay, not
    //     because the gate missed it
    assert(admit(mk(Seq((99L, nearCopyOfGone), (98L, nearCopyOfLive))))
      === 1L)
    assert(spark.read.parquet(corpusPath)
      .where(col("doc_id") === 99L).count() === 1L)
    assert(spark.read.parquet(corpusPath)
      .where(col("doc_id") === 98L).isEmpty)
    // micro-batch 1: tombstone 5 — (1+1) % 2 == 0 → the physical pass
    Seq(5L).toDF("doc_id").write.mode("append").parquet(reqDir)
    drain()
    assert(spark.read.parquet(corpusPath).select("doc_id")
      .as[Long].collect().toSet
      === ((1L to 8L).toSet -- Set(4L, 5L)) + 99L,
      "tombstoned ids excised; the novel near-copy survived the pass")
    assert(spark.read.parquet(s"${ti.indexPath}/postings")
      .where(col("doc_id").isin(4L, 5L)).isEmpty)
    assert(graft.sources.Tombstones.readIds(spark, ti.indexPath).isEmpty)
    // post-window, the engine holds no memory of doc 4 ITSELF — but its
    // admitted near-copy (99) now owns that text neighborhood, so a
    // re-submission is swallowed as 99's duplicate: correct near-dup
    // semantics, not a stale gate
    assert(admit(mk(Seq((4L, t(4))))) === 0L)
    assert(graft.operators.Dedup.dedupAgainstIndex(mk(Seq((4L, t(4)))),
        "doc_id", "text", mh, 0.8)
      .select("corpus_id").as[Long].collect().toSet === Set(99L),
      "the swallow must attribute to the SURVIVING near-copy, not to " +
        "any memory of the retracted doc")
    // and a genuinely novel doc still admits
    assert(admit(mk(Seq((12L, t(12))))) === 1L)
  }

  test("forward store enabled on an EXISTING corpus backfills at " +
      "creation — older docs are fetchable, the stored snippet face " +
      "covers both eras, and a hand-rolled store with gaps fails " +
      "LOUDLY instead of silently dropping winners") {
    import graft.ingest.CorpusPipeline
    val dir = Files.createTempDirectory("fwd_backfill")
    val corpusPath = dir.resolve("corpus").toString
    val idx = dir.resolve("mh").toString
    val ti = TextIndex.Cfg(dir.resolve("ti").toString, partitions = 8)
    val fs = CorpusPipeline.ForwardStore(dir.resolve("fs").toString,
      partitions = 8)
    def t(i: Long): String =
      s"alpha$i bravo$i shared charlie$i delta$i echo$i"
    def mk(ids: Seq[Long]): DataFrame =
      ids.map(i => (i, t(i))).toDF("doc_id", "text")
    def admit(b: DataFrame,
              f: Option[CorpusPipeline.ForwardStore]): Long =
      CorpusPipeline.dedupAndAppend(b, corpusPath, idx, "doc_id", "text",
        threshold = 0.8, textIndex = Some(ti), forwardStore = f)
    // batch 1 lands BEFORE the store is configured
    assert(admit(mk(1L to 5L), None) === 5L)
    // batch 2 enables the store → creation backfills batch 1 from the
    // corpus as written (the store-covers-corpus contract)
    assert(admit(mk(6L to 10L), Some(fs)) === 5L)
    assert(graft.sources.Bucketing.readKeys(spark, fs.path, "doc_id",
      (1L to 10L)).count() === 10L)
    val snip = TextIndex.snippetTopKStored(spark, ti, fs.path, "doc_id",
      "text", Seq("shared"), window = 3, k = 10)
    assert(snip.count() === 10L)
    assert(snip.where(!col("snippet").contains("shared")).isEmpty)
    // a store with a gap names the missing winner instead of shrinking
    // the top-k
    val partial = dir.resolve("fs_partial").toString
    graft.sources.Bucketing.writeKeyBucketed(mk(2L to 10L), partial,
      "doc_id", 8)
    val e = intercept[IllegalStateException] {
      TextIndex.snippetTopKStored(spark, ti, partial, "doc_id", "text",
        Seq("shared"), window = 3, k = 10)
    }
    assert(e.getMessage.contains("missing") && e.getMessage.contains("1"))
  }

  test("satellite re-closure: retracting a duplicate cluster's CANONICAL " +
      "re-derives the survivors' mutual pairs from the stored MinHash " +
      "signatures and re-closes the label store — provenance queries " +
      "keep answering; unrelated clusters are untouched") {
    val root = Files.createTempDirectory("rt_reclose")
    val corpusPath = root.resolve("corpus").toString
    val mh = root.resolve("mh").toString
    val lbl = root.resolve("lbl").toString
    // docs 3, 9, 15, 18 share identical text (a true cluster, canonical
    // 3); 20/21 form a second cluster; every other doc gets a unique
    // suffix so no accidental cluster forms
    val planted = "alpha beta gamma delta epsilon zeta eta theta"
    val other = "iota kappa lambda mu nu xi omicron pi"
    val docs = (1L to 30L).map { i =>
      val text =
        if (Seq(3L, 9L, 15L, 18L).contains(i)) planted
        else if (Seq(20L, 21L).contains(i)) other
        else docText(i) + " unique" + i
      (i, text)
    }.toDF("doc_id", "text")
    docs.write.mode("overwrite").parquet(corpusPath)
    Dedup.writeMinhashIndex(docs, "doc_id", "text", mh)
    // the store from the signature index's own pairs (gate-consistent)
    val pairs = Dedup.pairsFromMinhashIndex(spark, mh,
      docs.select("doc_id"), "doc_id", threshold = 0.8)
    assert(pairs.where(col("id_a") === 3L).count() === 3L,
      "fixture: the planted cluster's pairs must re-derive")
    Components.updateLabelStore(spark, lbl, pairs, "id_a", "id_b",
      partitions = 4)
    Retraction.retractDocs(spark, Seq(3L).toDF("doc_id"), "doc_id",
      Retraction.Artifacts(corpusPath, minhashIndexPath = Some(mh),
        dupLabelsPath = Some(lbl)))
    val labels = Components.readLabelStore(spark, lbl)
      .as[(Long, Long)].collect().toSet
    // survivors re-closed under the new minimum 9; no reference to 3
    // anywhere; the unrelated cluster intact
    assert(labels.contains((9L, 9L)) && labels.contains((15L, 9L)) &&
      labels.contains((18L, 9L)),
      s"survivors must stay co-labeled, got $labels")
    assert(!labels.exists(t => t._1 == 3L || t._2 == 3L))
    assert(labels.contains((20L, 20L)) && labels.contains((21L, 20L)))
    // the point-lookup face agrees (bloom-routed partitioned store)
    assert(Components.lookupComponent(spark, lbl, 15L) === Some(9L))
    // a retracted SATELLITE (no canonical involved) just loses its row
    Retraction.retractDocs(spark, Seq(21L).toDF("doc_id"), "doc_id",
      Retraction.Artifacts(corpusPath, minhashIndexPath = Some(mh),
        dupLabelsPath = Some(lbl)))
    val after = Components.readLabelStore(spark, lbl)
      .as[(Long, Long)].collect().toSet
    assert(!after.exists(t => t._1 == 21L))
    assert(after.contains((9L, 9L)) && after.contains((15L, 9L)))
    // the LAZY path re-closes identically: tombstone the new canonical
    // (hiding its satellite rows from serves), then the cadence pass —
    // which must read the PHYSICAL store for its orphan derivation, or
    // 15 and 18 would silently orphan here
    val a2 = Retraction.Artifacts(corpusPath, minhashIndexPath = Some(mh),
      dupLabelsPath = Some(lbl))
    Retraction.tombstoneDocs(spark, Seq(9L).toDF("doc_id"), "doc_id", a2)
    assert(Components.lookupComponent(spark, lbl, 15L) === None,
      "serves hide the satellites of a tombstoned canonical")
    Retraction.applyTombstones(spark, a2)
    assert(Components.lookupComponent(spark, lbl, 15L) === Some(15L) &&
      Components.lookupComponent(spark, lbl, 18L) === Some(15L),
      "the physical pass must re-close from the raw store, not the " +
        "overlay-filtered serve view")
  }

  test("scd2CloseStored: close-don't-delete — history intact, closed at " +
      "the given version, as-of reads before the close still reproduce; " +
      "closing every key empties the current partition cleanly") {
    val path = tmp("rt_scd2")
    val recs = Seq(
      (1L, 10L, "A"), (1L, 20L, "B"), (2L, 15L, "X"), (3L, 12L, "P"))
      .toDF("k", "v", "attr")
    Merge.scd2WriteStored(recs, path, Seq("k"), "v", Seq("attr"))
    Merge.scd2CloseStored(spark, path, Seq(1L).toDF("k"), Seq("k"),
      lit(100L))
    val rows = Merge.scd2ReadStored(spark, path)
      .select("k", "valid_from", "attr", "valid_to", "is_current")
      .as[(Long, Long, String, Option[Long], Boolean)].collect().toSet
    assert(rows === Set(
      (1L, 10L, "A", Some(20L), false),
      (1L, 20L, "B", Some(100L), false), // closed, not deleted
      (2L, 15L, "X", None, true),
      (3L, 12L, "P", None, true)))
    // as-of 50 (before the close) still reproduces key 1 = "B"
    val asof = Merge.scd2ReadStored(spark, path)
      .where(col("valid_from") <= 50L &&
        (col("valid_to").isNull || col("valid_to") > 50L))
      .select("k", "attr").as[(Long, String)].collect().toSet
    assert(asof === Set((1L, "B"), (2L, "X"), (3L, "P")))
    // idempotent: re-closing a closed key changes nothing
    Merge.scd2CloseStored(spark, path, Seq(1L).toDF("k"), Seq("k"),
      lit(200L))
    assert(Merge.scd2ReadStored(spark, path).count() === 4L)
    // close the rest — zero current rows must not leave a stale
    // current partition behind
    Merge.scd2CloseStored(spark, path, Seq(2L, 3L).toDF("k"), Seq("k"),
      lit(300L))
    val all = Merge.scd2ReadStored(spark, path)
    assert(all.where(col("is_current")).isEmpty)
    assert(all.count() === 4L)
  }

  test("q_takedown_apply self-stages a FRESH tree on every run — " +
      "consecutive runs land identical non-zero Reports") {
    // regression pin for the r19 marker flake: the self-stage path left
    // its own _PRISTINE marker behind, so run N+1 consumed a marker
    // planted on run N's already-excised tree and reported found=0 —
    // verify suites alternated pass/fail with zero code change
    val d = "/root/testdata/sf0.001"
    def run() = SparkEntry.queries("q_takedown_apply")(spark, d)
      .as[(Long, Long)].head()
    val first = run()
    assert(first._1 > 0 && first._2 === first._1,
      s"first run must find every requested id: $first")
    assert(run() === first, "second run saw a stale scratch tree")
    assert(run() === first, "third run saw a stale scratch tree")
  }

  test("exportTrainingShards: tombstone-clean during the window, " +
      "deterministic across runs, manifest is the shipped receipt, " +
      "32-bit id contract fails loudly") {
    val root = Files.createTempDirectory("rt_export")
    val corpusPath = root.resolve("corpus").toString
    corpus(30).select("doc_id", "text").write.parquet(corpusPath)
    val a = Retraction.Artifacts(corpusPath)
    graft.sources.Tombstones.append(corpusPath,
      Seq(7L).toDF("doc_id"), "doc_id")
    val out1 = root.resolve("out1").toString
    val m1 = Retraction.exportTrainingShards(spark, a, out1,
      shards = 4, tokenBudget = 64)
    val shipped = spark.read.parquet(out1)
    // the lazy window: nothing tombstoned ships, the raw corpus still
    // physically holds the row
    assert(shipped.where(col("doc_id") === 7L).isEmpty)
    assert(spark.read.parquet(corpusPath)
      .where(col("doc_id") === 7L).count() === 1L)
    assert(shipped.count() === 29L)
    // the manifest is the receipt for exactly what shipped
    assert(m1.agg(sum("n_docs")).collect().head.getLong(0) === 29L)
    assert(m1.agg(sum("n_tokens")).collect().head.getLong(0) ===
      shipped.agg(sum("n_tokens")).collect().head.getLong(0))
    // deterministic: a second export (fresh dir) lands identical
    // (doc_id, shard, seq_id) assignments — the reproducibility claim
    val out2 = root.resolve("out2").toString
    Retraction.exportTrainingShards(spark, a, out2,
      shards = 4, tokenBudget = 64)
    val asg = (p: String) => spark.read.parquet(p)
      .select("doc_id", "shard", "seq_id")
      .as[(Long, Int, Long)].collect().toSet
    assert(asg(out1) === asg(out2))
    // and re-exporting over out1 swaps atomically to the same content
    Retraction.exportTrainingShards(spark, a, out1,
      shards = 4, tokenBudget = 64)
    assert(asg(out1) === asg(out2))
    // ids beyond 31 bits would overflow the cross-engine hash: loud
    val corpus2 = root.resolve("corpus2").toString
    corpus(5).select("doc_id", "text")
      .unionByName(Seq((3000000000L, "big id doc")).toDF("doc_id", "text"))
      .write.parquet(corpus2)
    val e = intercept[IllegalArgumentException] {
      Retraction.exportTrainingShards(spark,
        Retraction.Artifacts(corpus2), root.resolve("out3").toString,
        shards = 4, tokenBudget = 64)
    }
    assert(e.getMessage.contains("2^31"))
    // a NEGATIVE id breaks the cross-engine hash just as silently (pmod
    // vs C-style % disagree below zero) — a max-only guard passes it;
    // the bounds check must not
    val corpus3 = root.resolve("corpus3").toString
    corpus(5).select("doc_id", "text")
      .unionByName(Seq((-3L, "negative id doc")).toDF("doc_id", "text"))
      .write.parquet(corpus3)
    val e2 = intercept[IllegalArgumentException] {
      Retraction.exportTrainingShards(spark,
        Retraction.Artifacts(corpus3), root.resolve("out4").toString,
        shards = 4, tokenBudget = 64)
    }
    assert(e2.getMessage.contains("2^31"))
    // an EMPTY served corpus (every doc tombstoned) must export a
    // zero-shard receipt, not die on schema inference mid-stage
    val corpus4 = root.resolve("corpus4").toString
    corpus(3).select("doc_id", "text").write.parquet(corpus4)
    graft.sources.Tombstones.append(corpus4,
      Seq(1L, 2L, 3L).toDF("doc_id"), "doc_id")
    val out5 = root.resolve("out5").toString
    val m5 = Retraction.exportTrainingShards(spark,
      Retraction.Artifacts(corpus4), out5, shards = 4, tokenBudget = 64)
    assert(m5.isEmpty)
    assert(m5.columns.toSeq ===
      Seq("shard", "n_docs", "n_tokens", "n_sequences"))
    assert(spark.read.parquet(s"$out5/_manifest").isEmpty)
    // successful (and empty) exports swap their staging away cleanly;
    // the two BOUNDS-VIOLATION exports above threw AFTER their staged
    // write but BEFORE install (the one-scan observe contract), so
    // exactly their staging dirs remain — the documented crash-window
    // state vacuum converges
    val leftovers = Option(root.toFile.listFiles()).get
      .filter(_.getName.contains("__export")).map(_.getName).toSet
    assert(leftovers === Set(".out3__export", ".out4__export"))
    Seq("out3", "out4").foreach { o =>
      val r = graft.sources.Compaction.vacuum(
        root.resolve(o).toString, minAgeMs = -1)
      assert(r.removed.nonEmpty && r.held.isEmpty)
    }
    assert(Option(root.toFile.listFiles()).get
      .forall(!_.getName.contains("__export")))
  }

  test("audit: clean deployment is all-zero; planted drift names the " +
      "artifact and the right column; tombstones reclassify drift as " +
      "pending") {
    val root = Files.createTempDirectory("rt_audit")
    val corpusPath = root.resolve("corpus").toString
    val fwd = root.resolve("fwd").toString
    val ti = TextIndex.Cfg(root.resolve("ti").toString, partitions = 4)
    val docs = corpus(12).where(col("doc_id") % 17 =!= 0) // drop empty doc
    docs.select("doc_id", "text").write.parquet(corpusPath)
    TextIndex.appendBatch(docs, "doc_id", "text", ti)
    graft.sources.Bucketing.writeKeyBucketed(
      docs.select("doc_id", "text"), fwd, "doc_id", partitions = 4)
    val a = Retraction.Artifacts(corpusPath,
      textIndex = Some(ti), forwardStorePath = Some(fwd))
    def auditMap() = Retraction.audit(spark, a).collect()
      .map(r => r.getString(0) -> r).toMap
    val n = docs.count()
    val clean = auditMap()
    assert(clean.keySet === Set("text_index", "forward_store"))
    clean.values.foreach { r =>
      assert(r.getLong(1) === n, r)            // ids
      assert((2 to 5).map(r.getLong) === Seq(0L, 0L, 0L, 0L), r)
    }
    // an IVF-PQ ANN index (codes under codes/, the corpus pipeline's
    // layout) gets its own row, and a stray id in it is a leak
    val ann = root.resolve("ann").toString
    val pq = CellIndex(ann, Voronoi(nlist = 2),
      Pq.Codec(m = 2, k = 4, iters = 2))
    pq.write(docs, "doc_id", "embedding")
    pq.append(Seq((99L, embed(99L))).toDF("doc_id", "embedding"),
      "doc_id", "embedding")
    val withAnn = Retraction.audit(spark,
        a.copy(annIndexPath = Some(ann))).collect()
      .map(r => r.getString(0) -> r).toMap
    assert(withAnn("ann_index").getLong(1) === n + 1)
    assert(withAnn("ann_index").getLong(4) === 1L, "extra_leaked")
    // EXTRA: index a stray doc the corpus never admitted — it is
    // SERVING (leak) until a tombstone covers it
    TextIndex.appendBatch(Seq((99L, "hash join stray")).toDF(
      "doc_id", "text"), "doc_id", "text", ti)
    val leaked = auditMap()
    assert(leaked("text_index").getLong(4) === 1L, "extra_leaked")
    assert(leaked("text_index").getLong(5) === 0L)
    assert(leaked("forward_store").getLong(4) === 0L)
    graft.sources.Tombstones.append(ti.indexPath,
      Seq(99L).toDF("doc_id"), "doc_id")
    val pending = auditMap()
    assert(pending("text_index").getLong(4) === 0L, "leak covered")
    assert(pending("text_index").getLong(5) === 1L, "extra_pending")
    // MISSING: excise one id from the forward store only (a half-landed
    // verb) — real drift until the corpus root carries its tombstone
    graft.sources.Bucketing.retractKeyBucketed(spark, fwd,
      Seq(1L).toDF("id"), "id", "doc_id")
    val stranded = auditMap()
    assert(stranded("forward_store").getLong(2) === 1L, "missing")
    assert(stranded("forward_store").getLong(3) === 0L)
    graft.sources.Tombstones.append(corpusPath,
      Seq(1L).toDF("doc_id"), "doc_id")
    val inflight = auditMap()
    assert(inflight("forward_store").getLong(2) === 0L)
    assert(inflight("forward_store").getLong(3) === 1L,
      "missing_pending — a takedown mid-flight, not drift")
    // text index still holds id 1 → its row reports no missing
    assert(inflight("text_index").getLong(2) === 0L)
    // remediation, each drift class by its own verb. The index-only
    // stray is INVISIBLE to the corpus-driven cadence (retractDocs
    // derives text partitions from CORPUS rows — id 99 has none), so
    // the artifact-level verb excises it, and its now-stale tombstone
    // retires so a future re-admission isn't silently hidden:
    TextIndex.retract(spark, ti,
      Seq((99L, "hash join stray")).toDF("doc_id", "text"),
      "doc_id", "text")
    graft.sources.Tombstones.retire(spark, ti.indexPath,
      Seq(99L).toDF("doc_id"), "doc_id")
    // the half-landed id-1 takedown is filed properly (every root) and
    // the cadence heals it; the membership audit passes right after
    Retraction.tombstoneDocs(spark, Seq(1L).toDF("doc_id"), "doc_id", a)
    Retraction.maintain(spark, a, auditMembership = true)
    val healed = auditMap()
    healed.values.foreach { r =>
      assert((2 to 5).map(r.getLong) === Seq(0L, 0L, 0L, 0L), r)
    }
    assert(healed("text_index").getLong(1) === n - 1)
    // but out-of-band drift with NO tombstone is refused loudly (planted
    // in the forward store — an artifact with no stats sidecar, so the
    // MEMBERSHIP audit is the only thing that can catch it)
    graft.sources.Bucketing.appendKeyBucketed(
      Seq((777L, "stray")).toDF("doc_id", "text"), fwd, "doc_id")
    val e = intercept[IllegalStateException] {
      Retraction.maintain(spark, a, auditMembership = true)
    }
    assert(e.getMessage.contains("membership drift"))
    assert(e.getMessage.contains("forward_store"))
  }

  test("exportTrainingShardsIncremental: the daily delta ship — epoch 1 " +
      "holds exactly the new admissions, tombstoned docs never ship, " +
      "an empty delta is a no-op, the shard pin is loud, epochs are " +
      "immutable") {
    val root = Files.createTempDirectory("rt_export_inc")
    val corpusPath = root.resolve("corpus").toString
    val out = root.resolve("out").toString
    val day1 = corpus(20).select("doc_id", "text")
    day1.write.parquet(corpusPath)
    graft.sources.Tombstones.append(corpusPath,
      Seq(7L).toDF("doc_id"), "doc_id")
    val a = Retraction.Artifacts(corpusPath)
    val m0 = Retraction.exportTrainingShardsIncremental(spark, a, out,
      shards = 4, tokenBudget = 64)
    assert(m0.agg(sum("n_docs")).collect().head.getLong(0) === 19L)
    assert(m0.select("epoch").distinct().as[Int].collect().toSeq ===
      Seq(0))
    val e0 = spark.read.parquet(s"$out/epoch=0")
    assert(e0.where(col("doc_id") === 7L).isEmpty, "tombstoned doc shipped")
    // idempotent cadence: nothing new → no epoch, empty manifest
    val mNoop = Retraction.exportTrainingShardsIncremental(spark, a, out,
      shards = 4, tokenBudget = 64)
    assert(mNoop.isEmpty)
    assert(!new java.io.File(out, "epoch=1").exists())
    // day 2: new admissions (and the tombstoned id's physical pass ran,
    // so 7 re-admits as fresh content — it ships now, not before)
    Retraction.retractDocs(spark, Seq(7L).toDF("doc_id"), "doc_id", a)
    val day2 = corpus(30).where(col("doc_id") > 20 ||
      col("doc_id") === 7L).select("doc_id", "text")
    day2.write.mode("append").parquet(corpusPath)
    val m1 = Retraction.exportTrainingShardsIncremental(spark, a, out,
      shards = 4, tokenBudget = 64)
    assert(m1.select("epoch").distinct().as[Int].collect().toSeq ===
      Seq(1))
    val e1 = spark.read.parquet(s"$out/epoch=1")
    val e1Ids = e1.select("doc_id").as[Long].collect().toSet
    assert(e1Ids === (21L to 30L).toSet + 7L,
      s"epoch 1 must hold exactly the delta: $e1Ids")
    // epoch 0 untouched by the second ship (immutability)
    assert(spark.read.parquet(s"$out/epoch=0").count() === e0.count())
    // union across epochs = the served corpus, no doc twice
    val all = spark.read.parquet(out)
    assert(all.count() === all.select("doc_id").distinct().count())
    assert(all.count() ===
      Retraction.readCorpusServed(spark, a).count())
    // the trainer-side contract: a shard's members agree with the full
    // verb's hash (shard = h mod 4) in every epoch
    val wrongShard = all.withColumn("__expect",
      pmod(pmod(col("doc_id") * lit(2654435761L), lit(4294967296L)),
        lit(4L)).cast("int"))
      .where(col("shard") =!= col("__expect"))
    assert(wrongShard.isEmpty)
    // a different shard count is refused loudly
    val ePin = intercept[IllegalArgumentException] {
      Retraction.exportTrainingShardsIncremental(spark, a, out,
        shards = 8, tokenBudget = 64)
    }
    assert(ePin.getMessage.contains("pinned"))
  }

  test("audit structural eligibility: a zero-token doc (no postings) and " +
      "a sub-shingle doc (null MinHash signature) are NOT missing — the " +
      "artifact's own admission predicate is not drift, and " +
      "maintain(auditMembership) stays green on a healthy deployment") {
    val root = Files.createTempDirectory("rt_audit_elig")
    val corpusPath = root.resolve("corpus").toString
    val ti = TextIndex.Cfg(root.resolve("ti").toString, partitions = 4)
    val mh = root.resolve("mh").toString
    // doc 17 is zero-token ("" text); doc 100 is "hi" — 2 chars, under
    // the 5-char shingle, so its MinHash signature is null (it DOES
    // tokenize, so it is in the text index but not the MinHash index)
    val docs = corpus(20).select("doc_id", "text")
      .unionByName(Seq((100L, "hi")).toDF("doc_id", "text"))
    docs.write.parquet(corpusPath)
    TextIndex.appendBatch(docs, "doc_id", "text", ti)
    Dedup.writeMinhashIndex(docs, "doc_id", "text", mh)
    val a = Retraction.Artifacts(corpusPath,
      textIndex = Some(ti), minhashIndexPath = Some(mh))
    // sanity: the artifacts genuinely lack the ineligible docs
    assert(spark.read.parquet(s"${ti.indexPath}/postings")
      .where(col("doc_id") === 17L).isEmpty)
    assert(spark.read.parquet(s"$mh/data")
      .where(col("corpus_id").isin(17L, 100L)).isEmpty)
    assert(spark.read.parquet(s"$mh/data")
      .where(col("corpus_id") === 18L).count() > 0)
    val rows = Retraction.audit(spark, a).collect()
      .map(r => r.getString(0) -> r).toMap
    Seq("text_index", "minhash_index").foreach { k =>
      assert(rows(k).getLong(2) === 0L, s"$k missing: ${rows(k)}")
      assert(rows(k).getLong(3) === 0L, s"$k missing_pending: ${rows(k)}")
    }
    Retraction.maintain(spark, a, auditMembership = true) // must not throw
    // the predicate shields ONLY structural absence: an ELIGIBLE doc
    // half-landed out of the MinHash index is still real drift
    graft.sources.Compaction.retractRows(spark, s"$mh/data",
      Seq(18L).toDF("__k"), (t, k) => t("corpus_id") === k("__k"))
    val drifted = Retraction.audit(spark, a).collect()
      .map(r => r.getString(0) -> r).toMap
    assert(drifted("minhash_index").getLong(2) === 1L,
      s"eligible doc must still count missing: ${drifted("minhash_index")}")
  }

  test("retractFromExport: shipped ids excised from data + ledger + " +
      "receipt, untouched leaves byte-identical, idempotent, a crashed " +
      "partial pass converges, a row-less shard leaf is removed whole") {
    val root = Files.createTempDirectory("rt_export_td")
    val corpusPath = root.resolve("corpus").toString
    val out = root.resolve("out").toString
    corpus(20).select("doc_id", "text").write.parquet(corpusPath)
    val a = Retraction.Artifacts(corpusPath, exportRoots = Seq(out))
    Retraction.exportTrainingShardsIncremental(spark, a, out,
      shards = 4, tokenBudget = 64)
    corpus(30).where(col("doc_id") > 20).select("doc_id", "text")
      .write.mode("append").parquet(corpusPath)
    Retraction.exportTrainingShardsIncremental(spark, a, out,
      shards = 4, tokenBudget = 64)
    def shardOf(id: Long): Int =
      (((id * 2654435761L) % 4294967296L) % 4).toInt
    def listing(): Map[String, (Long, Long)] = {
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isFile) Seq(f)
        else Option(f.listFiles()).getOrElse(Array.empty).toSeq
          .flatMap(walk)
      walk(new java.io.File(out))
        .map(f => f.getPath -> (f.length(), f.lastModified())).toMap
    }
    def ledgerIds(): Set[Long] = spark.read
      .parquet(s"$out/epoch=0/_ids", s"$out/epoch=1/_ids")
      .as[Long].collect().toSet
    def manifestsConsistent(): Unit = Seq(0, 1).foreach { e =>
      val m = spark.read.parquet(s"$out/epoch=$e/_manifest")
        .select("shard", "n_docs", "n_tokens", "n_sequences")
        .as[(Int, Long, Long, Long)].collect().toSet
      val re = spark.read.parquet(s"$out/epoch=$e")
        .groupBy("shard").agg(count(lit(1)), sum("n_tokens"),
          countDistinct("seq_id"))
        .as[(Int, Long, Long, Long)].collect().toSet
      assert(m === re, s"epoch $e receipt drifted from its data")
    }
    // one shipped id per epoch — the pruned worklist is (epoch 0,
    // shard(1)) and (epoch 1, shard(25)) only
    val taken = Seq(1L, 25L)
    val touchedLeaves = Set(s"epoch=0/shard=${shardOf(1L)}",
      s"epoch=1/shard=${shardOf(25L)}")
    val before = listing()
    val rep = Retraction.retractFromExport(spark, out,
      taken.toDF("doc_id"), "doc_id")
    assert(rep.requested === 2L && rep.epochsTouched === 2L &&
      rep.shardsRewritten === 2L && rep.docsRemoved === 2L)
    assert(spark.read.parquet(out)
      .where(col("doc_id").isin(taken: _*)).isEmpty, "data still ships")
    assert(ledgerIds().intersect(taken.toSet).isEmpty, "ledger remembers")
    manifestsConsistent()
    // untouched shard leaves byte-identical: every pre-pass data file
    // outside the two touched leaves survives with size + mtime intact
    val after = listing()
    val untouchedBefore = before.filter { case (p, _) =>
      p.contains("/shard=") && !touchedLeaves.exists(p.contains) }
    assert(untouchedBefore.nonEmpty)
    untouchedBefore.foreach { case (p, meta) =>
      assert(after.get(p) === Some(meta), s"untouched leaf changed: $p")
    }
    // idempotent: absent ids touch nothing (byte-level nothing)
    val rep2 = Retraction.retractFromExport(spark, out,
      taken.toDF("doc_id"), "doc_id")
    assert(rep2.docsRemoved === 0L && rep2.epochsTouched === 0L)
    assert(listing() === after)
    // CRASH CONVERGENCE: a partial pass that rewrote a touched leaf but
    // died before the manifest + ledger commits — simulated by running
    // exactly the verb's own leaf rewrite out-of-band — must converge
    // on the next run: the ledger still holds the id, so the worklist
    // re-derives, the leaf rewrite no-ops, receipt and ledger land
    val cid = 5L
    graft.sources.Compaction.retractRows(spark,
      s"$out/epoch=0/shard=${shardOf(cid)}",
      Seq(cid).toDF("__k"), (t, k) => t("doc_id") === k("__k"))
    assert(ledgerIds().contains(cid), "crash state: ledger still holds it")
    val rep3 = Retraction.retractFromExport(spark, out,
      Seq(cid).toDF("doc_id"), "doc_id")
    assert(rep3.docsRemoved === 1L, "ledger-derived worklist")
    assert(!ledgerIds().contains(cid))
    manifestsConsistent()
    // ROW-LESS LEAF: retract every remaining id of one epoch-1 shard —
    // the leaf dir is removed whole (no schema-less stub) and its
    // receipt row disappears; the epoch still reads
    val sv = 2
    val victims = Seq(22L, 26L, 30L) // epoch 1, shard 2 — complete
    assert(victims.forall(shardOf(_) == sv))
    val repAll = Retraction.retractFromExport(spark, out,
      victims.toDF("doc_id"), "doc_id")
    assert(repAll.docsRemoved === victims.size.toLong)
    assert(!new java.io.File(s"$out/epoch=1/shard=$sv").exists())
    assert(spark.read.parquet(s"$out/epoch=1/_manifest")
      .where(col("shard") === sv).isEmpty)
    manifestsConsistent()
    // and the cadence path reaches the epochs through exportRoots: a
    // lazy takedown of a still-shipping id lands everywhere in one
    // applyTombstones pass
    val lazyId = spark.read.parquet(s"$out/epoch=0/_ids")
      .as[Long].collect().max
    Retraction.tombstoneDocs(spark, Seq(lazyId).toDF("doc_id"),
      "doc_id", a)
    Retraction.applyTombstones(spark, a)
    assert(spark.read.parquet(out)
      .where(col("doc_id") === lazyId).isEmpty)
    assert(!ledgerIds().contains(lazyId))
    assert(spark.read.parquet(corpusPath)
      .where(col("doc_id") === lazyId).isEmpty)
    manifestsConsistent()
  }
}
