package perfbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.functions._
import graft.ingest.CorpusPipeline
import graft.operators.{Retraction, Similarity}
import graft.sources.{Compaction, TextIndex}

/** The corpus ingest + serve loop: seeded batches of `documents` go
  * through the corpus builder (quality/dedup gates, corpus append, MinHash
  * gate index, IVF-PQ ANN index, inverted text index), each followed by a
  * burst of BM25 and ANN serves over the artifacts the batch just wrote.
  * Every batch also compacts the corpus and the text index; at the end one
  * takedown retracts a seeded id set and more serves must not return any
  * of it. Set-up bootstraps the artifacts from batch 0; the measured loop
  * is [[TimedBatches]] batches and the takedown.
  *
  * The batch op calls `CorpusPipeline.dedupAndAppend`, the function the
  * `CorpusPipeline` class wraps: the class takes no text-index argument.
  */
final class CorpusLoop(ctx: Ctx) extends Workload {
  import CorpusLoop._
  private val spark = ctx.spark
  private var dir = ""
  /** Seeded serve queries: (BM25 terms, ANN vector), used in turn. */
  private val serves: IndexedSeq[(Seq[String], Seq[Float])] =
    spark.read.parquet(s"${ctx.fixtures}/serves.parquet").orderBy("serve")
      .collect().map(r => (r.getSeq[String](1), r.getSeq[Float](2))).toIndexedSeq
  private var nextServe = 0

  private def corpus = s"$dir/corpus"
  private def minhash = s"$dir/minhash"
  private def ann = s"$dir/ann"
  private def text = TextIndex.Cfg(s"$dir/text")

  def setup(d: String): Unit = {
    dir = d
    append(0)
    ctx.lap("bootstrap")
    serveBurst(timed = false, Seq.empty, WarmUpServes)
    ctx.lap("warm-up")
  }

  private lazy val batches = spark.read.parquet(s"${ctx.fixtures}/batches")

  private def batch(b: Int): DataFrame =
    batches.where(col("batch") === b).drop("batch")

  private def append(b: Int): Long =
    CorpusPipeline.dedupAndAppend(batch(b), corpus, minhash, "doc_id", "text",
      threshold = 0.8,
      ann = Some(CorpusPipeline.AnnIndex(ann, "embedding")),
      textIndex = Some(text))

  def measure(): Unit = {
    var docsIn = 0L
    var appended = 0L
    for (b <- 1 to TimedBatches) {
      val in = batch(b).count()
      val before = spark.read.parquet(corpus).count()
      val mark = ctx.samples.size
      val got = ctx.op("write", "batch") {
        val n = ctx.tracer.span("ingest.corpus_batch") {
          val n = append(b)
          ctx.tracer.count("docs_in", in.toDouble)
          ctx.tracer.count("appended", n.toDouble)
          n
        }
        ctx.tracer.span("sources.compact") {
          Compaction.compact(spark, corpus)
          TextIndex.compact(spark, text)
          ctx.tracer.count("bytes_rewritten",
            (Disk.bytes(corpus) + Disk.bytes(s"${text.indexPath}/postings"))
              .toDouble)
        }
        n
      }
      got.foreach { n =>
        docsIn += in
        appended += n
        ctx.checking("corpus_grows_by_appended", ctx.opsSince(mark)) {
          val after = spark.read.parquet(corpus).count()
          (after - before == n && n >= 0 && n <= in,
            s"batch $b: in=$in appended=$n corpus $before -> $after")
        }
      }
      serveBurst(timed = true, Seq.empty)
    }
    ctx.landedRows += appended
    ctx.facts("batches") = TimedBatches
    ctx.facts("docs_in") = docsIn
    ctx.facts("appended") = appended
    takedown()
    ctx.storeBytesPerRow += Seq(corpus, minhash, ann, text.indexPath)
      .map(Disk.bytes).sum.toDouble / math.max(spark.read.parquet(corpus).count(), 1L)
    ctx.checking("text_index_docs_equal_corpus", 1) {
      val n = spark.read.parquet(corpus).count()
      val indexed = TextIndex.stats(spark, text).head.getAs[Long]("n_docs")
      (n == indexed, s"corpus=$n text index n_docs=$indexed")
    }
  }

  /** Retracts a seeded id set from every artifact, then serves queries
    * aimed at the retracted docs: none of them may come back. */
  private def takedown(): Unit = {
    val victims = spark.read.parquet(corpus).select("doc_id", "text", "embedding")
      .orderBy(xxhash64(lit(ctx.seed), col("doc_id"))).limit(Retracted).collect()
    val ids = victims.map(_.getLong(0)).toSeq
    import spark.implicits._
    val artifacts = Retraction.Artifacts(corpusPath = corpus,
      minhashIndexPath = Some(minhash), textIndex = Some(text),
      annIndexPath = Some(ann))
    val mark = ctx.samples.size
    ctx.op("write", "takedown") {
      ctx.tracer.span("operators.takedown") {
        Retraction.retractDocs(spark, ids.toDF("doc_id"), "doc_id", artifacts)
      }
    }
    val served = serveBurst(timed = true, victims.toSeq.map(r =>
      (r.getString(1).split(" ").take(2).toSeq, r.getSeq[Float](2))))
    ctx.checking("retracted_ids_never_served", ctx.opsSince(mark)) {
      val left = spark.read.parquet(corpus).where(col("doc_id").isin(ids: _*))
        .count()
      val leaked = served.intersect(ids.toSet)
      (left == 0 && leaked.isEmpty,
        s"retracted=${ids.size} left in corpus=$left served=${leaked.size}")
    }
  }

  /** One burst of `count` serves alternating BM25 and ANN.
    * Query terms and vectors are the next seeded ones, or `aimed` ones.
    * Returns every doc id served. */
  private def serveBurst(timed: Boolean,
                         aimed: Seq[(Seq[String], Seq[Float])],
                         count: Int = ServesPerBurst): Set[Long] = {
    val ids = Set.newBuilder[Long]
    for (i <- 0 until count) {
      val (terms, vec) =
        if (aimed.nonEmpty) aimed(i % aimed.size)
        else { nextServe += 1; serves((nextServe - 1) % serves.size) }
      def run(kind: String)(body: => Seq[Long]): Unit =
        if (timed) ctx.op("read", kind)(body).foreach(ids ++= _)
        else ids ++= body
      if (i % 2 == 0) run("bm25")(bm25(terms))
      else run("ann")(annServe(vec))
    }
    ids.result()
  }

  private def bm25(terms: Seq[String]): Seq[Long] =
    ctx.tracer.span("sources.bm25_serve") {
      val df = TextIndex.bm25TopK(spark, text, "doc_id", terms, TopK)
      val out = df.collect().map(_.getLong(0)).toSeq
      if (ctx.tracer.enabled) {
        val postings = s"${text.indexPath}/postings"
        val total = Disk.parquetFiles(postings)
        val read = ScanFiles.read(df, postings)
        ctx.tracer.count("index_files", total.toDouble)
        ctx.tracer.count("files_read", read.toDouble)
      }
      out
    }

  private def annServe(vec: Seq[Float]): Seq[Long] =
    ctx.tracer.span("operators.ann_serve") {
      import spark.implicits._
      Similarity.ivfPqTopKFromIndex(spark, ann, spark.read.parquet(corpus),
          "doc_id", "embedding", Seq(vec).toDF("embedding"), "embedding",
          TopK)
        .collect().map(_.getLong(0)).toSeq
    }
}

object CorpusLoop {
  val TimedBatches = 1
  val ServesPerBurst = 4
  /** One BM25 and one ANN serve warm both serve paths. */
  val WarmUpServes = 2
  val TopK = 10
  val Retracted = 20
}

/** Files that the executed plan's parquet scans under `root` opened. */
object ScanFiles extends AdaptiveSparkPlanHelper {
  def read(df: DataFrame, root: String): Long =
    collect(df.queryExecution.executedPlan) {
      case s: FileSourceScanExec
          if s.relation.location.rootPaths.exists(_.toString.contains(root)) =>
        s.metrics.get("numFiles").map(_.value).getOrElse(0L)
    }.sum
}
