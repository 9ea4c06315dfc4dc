package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.{CellIndex, FlatIndex, Pq, Similarity, VectorCodec}
import graft.operators.CellAssigner.{Hyperplane, Voronoi}
import graft.operators.VectorCodec.Exact
import graft.functions.Vectors

class SimilaritySpec extends AnyFunSuite with SparkFixture {
  import spark.implicits._

  // deterministic pseudo-random corpus + one planted near-neighbor of v0
  private val rnd = new scala.util.Random(42)
  private val dim = 16
  private val corpus = (1 to 200).map { i =>
    (i.toLong, Array.fill(dim)(rnd.nextGaussian().toFloat))
  }
  private val q = Array.fill(dim)(rnd.nextGaussian().toFloat)
  private val planted = q.map(x => x + 0.01f * rnd.nextGaussian().toFloat)
  private val corpusDf =
    (corpus :+ (999L, planted)).toDF("vec_id", "embedding")
  private val queryDf = Seq((0L, q)).toDF("vec_id", "embedding")

  test("vector ops: dot / norm / cosine") {
    val r = Seq((Array(1f, 2f, 3f), Array(4f, 5f, 6f))).toDF("a", "b")
      .select(Vectors.dot(col("a"), col("b")).as("d"),
        Vectors.l2Norm(col("a")).as("n"),
        Vectors.cosine(col("a"), col("a")).as("c"))
      .as[(Double, Double, Double)].head()
    assert(r._1 === 32.0)
    assert(math.abs(r._2 - math.sqrt(14)) < 1e-12)
    assert(math.abs(r._3 - 1.0) < 1e-12)
  }

  test("brute-force top-k finds the planted neighbor first") {
    val top = Similarity.bruteForceTopK(corpusDf, "vec_id", "embedding",
        queryDf, "embedding", 5)
      .as[(Long, Double)].collect()
    assert(top.head._1 === 999L)
    assert(top.head._2 > 0.99)
    assert(top.map(_._2).toSeq === top.map(_._2).sortBy(-_).toSeq)
  }

  test("LSH top-k recalls the planted neighbor (same bucket by construction)") {
    val top = Similarity.lshTopK(corpusDf, "vec_id", "embedding",
        queryDf, "embedding", 5, nBits = 8, tables = 4)
      .as[(Long, Double)].collect()
    assert(top.head._1 === 999L) // near-identical vector shares all buckets
  }

  test("multiprobe LSH: candidate superset of exact probing, planted recall " +
      "with a single table") {
    // structural guarantee: hamming-1 probing only ADDS buckets, so its
    // candidate set contains the exact-probe set (k large enough to see
    // the full candidate pools)
    val exact = Similarity.lshTopK(corpusDf, "vec_id", "embedding",
        queryDf, "embedding", 1000, nBits = 8, tables = 2)
      .as[(Long, Double)].collect().map(_._1).toSet
    val multi = Similarity.lshTopK(corpusDf, "vec_id", "embedding",
        queryDf, "embedding", 1000, nBits = 8, tables = 2, hammingProbe = 1)
      .as[(Long, Double)].collect().map(_._1).toSet
    assert(exact.subsetOf(multi))
    assert(multi.size >= exact.size)
    // one table + multiprobe still finds the planted near-identical vector
    val top = Similarity.lshTopK(corpusDf, "vec_id", "embedding",
        queryDf, "embedding", 5, nBits = 8, tables = 1, hammingProbe = 1)
      .as[(Long, Double)].collect()
    assert(top.head._1 === 999L)

    // the index-serving path agrees with the from-scratch multiprobe result
    val dir = java.nio.file.Files.createTempDirectory("lshidx_mp").toString
    val mp = CellIndex(dir, Hyperplane(nBits = 8, tables = 2,
      hammingProbe = 1), Exact)
    mp.write(corpusDf, "vec_id", "embedding")
    val served = mp.topK(spark, "vec_id", "embedding", queryDf, "embedding",
        1000)
      .as[(Long, Double)].collect().map(_._1).toSet
    assert(served === multi)

    // hamming-2 probing: candidate superset of hamming-1 (1 + n + n(n-1)/2
    // probes per table — still per-query cost, not another corpus copy)
    val multi2 = Similarity.lshTopK(corpusDf, "vec_id", "embedding",
        queryDf, "embedding", 1000, nBits = 8, tables = 2, hammingProbe = 2)
      .as[(Long, Double)].collect().map(_._1).toSet
    assert(multi.subsetOf(multi2))
    // ...and the index serve probes the same pair flips at hamming 2
    assert(CellIndex(dir, Hyperplane(hammingProbe = 2), Exact)
      .topK(spark, "vec_id", "embedding", queryDf, "embedding", 1000)
      .as[(Long, Double)].collect().map(_._1).toSet === multi2)
    intercept[IllegalArgumentException] {
      Similarity.lshTopK(corpusDf, "vec_id", "embedding",
        queryDf, "embedding", 5, nBits = 8, tables = 1, hammingProbe = 3)
    }
    intercept[IllegalArgumentException] {
      CellIndex(dir, Hyperplane(hammingProbe = 3), Exact)
        .topK(spark, "vec_id", "embedding", queryDf, "embedding", 5)
    }
  }

  test("IVF top-k recalls the planted neighbor through cell pruning") {
    val top = Similarity.ivfTopK(corpusDf, "vec_id", "embedding",
        queryDf, "embedding", 5, nlist = 16, nprobe = 4)
      .as[(Long, Double)].collect()
    assert(top.head._1 === 999L) // near-identical vector → same Voronoi cell
    assert(top.head._2 > 0.99)
  }

  test("IVF with k-means refinement still recalls the planted neighbor") {
    val top = Similarity.ivfTopK(corpusDf, "vec_id", "embedding",
        queryDf, "embedding", 5, nlist = 16, nprobe = 4, kmeansIters = 2)
      .as[(Long, Double)].collect()
    assert(top.head._1 === 999L)
    assert(top.head._2 > 0.99)
  }

  test("IVF trained on a sample (the 100 TB setting) still recalls the neighbor") {
    val top = Similarity.ivfTopK(corpusDf, "vec_id", "embedding",
        queryDf, "embedding", 5, nlist = 16, nprobe = 4, kmeansIters = 2,
        sampleFraction = 0.5)
      .as[(Long, Double)].collect()
    assert(top.head._1 === 999L)
    assert(top.head._2 > 0.99)
    // sampling only moves the Lloyd refinement — same seeded sample, same
    // centroids, same answer run-to-run
    val again = Similarity.ivfTopK(corpusDf, "vec_id", "embedding",
        queryDf, "embedding", 5, nlist = 16, nprobe = 4, kmeansIters = 2,
        sampleFraction = 0.5)
      .as[(Long, Double)].collect()
    assert(top.toSeq === again.toSeq)
  }

  test("IVF plan is narrow: no shuffle exchange, no window in assignment") {
    val top = Similarity.ivfTopK(corpusDf, "vec_id", "embedding",
      queryDf, "embedding", 5, nlist = 16, nprobe = 4)
    val plan = top.queryExecution.executedPlan.toString
    // broadcast exchange for the probe side is expected; a hash-partition
    // shuffle or a Window would mean the corpus×nlist assignment came back
    assert(!plan.contains("Exchange hashpartitioning"), plan)
    assert(!plan.contains("Window"), plan)
  }

  test("cosine near-dup pairs finds the planted pair only at high threshold") {
    val all = corpusDf.unionByName(queryDf)
    val pairs = Similarity.cosineNearDupPairs(all, "vec_id", "embedding", 0.99)
      .as[(Long, Long, Double)].collect()
    assert(pairs.map(p => (p._1, p._2)).toSet === Set((0L, 999L)))
  }

  test("LSH-blocked near-dup: equi-join plan, finds the planted pair") {
    // a SINGLE relation (not a union) so the scan-leaf count below is
    // exactly the join arity, not input-shape noise
    val all = ((corpus :+ (999L, planted)) :+ (0L, q)).toDF("vec_id", "embedding")
    val blocked = Similarity.lshBlockedNearDupPairs(all, "vec_id", "embedding",
      threshold = 0.99, nBits = 2, tables = 8)
    val plan = blocked.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), plan)
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
    // ONE self-equi-join over the posexploded (table, bucket) rows: the
    // corpus appears as exactly the join's two scan leaves — the previous
    // per-table union planned 2×tables (= 16) scans of the corpus
    assert("LocalTableScan".r.findAllMatchIn(plan).size === 2, plan)
    assert("SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin".r
      .findAllMatchIn(plan).size === 1, plan)
    val pairs = blocked.select("id_a", "id_b").as[(Long, Long)].collect()
    // near-identical vectors project to the same side of almost every
    // hyperplane — with 8 independent 2-bit tables a miss is ~(1-p)^8 ≈ 0
    assert(pairs.toSet === Set((0L, 999L)))
  }

  test("materialized IVF index: partition-pruned scan, same planted recall") {
    val dir = java.nio.file.Files.createTempDirectory("ivfidx").toString
    val ix = CellIndex(dir, Voronoi(nlist = 16, nprobe = 4, kmeansIters = 1),
      Exact)
    ix.write(corpusDf, "vec_id", "embedding")
    val served = ix.topK(spark, "vec_id", "embedding", queryDf, "embedding", 5)
    val plan = served.queryExecution.executedPlan.toString
    // the scan must keep only the probed cells — IVF pruning expressed as
    // parquet partition pruning
    assert(plan.contains("PartitionFilters") && plan.contains("cell"), plan)
    // the exact codec's score is final: one scan, no rerank join
    assert(!plan.contains("LeftSemi"), plan)
    val top = served.as[(Long, Double)].collect()
    assert(top.head._1 === 999L)
    assert(top.head._2 > 0.99)
    // a query frame of two rows is refused, never mixed into one ranking
    intercept[IllegalArgumentException] {
      ix.topK(spark, "vec_id", "embedding", queryDf.union(queryDf),
        "embedding", 5)
    }
  }

  test("filtered IVF serve: predicate pushed into the pruned scan, " +
      "wrong-label planted twin excluded") {
    // two near-identical planted neighbors that differ ONLY in label: the
    // filter must keep 999 (label 1) and exclude 998 (label 0) even though
    // 998 outranks almost everything by cosine
    val planted2 = q.map(x => x + 0.01f * 0.5f)
    val labeled = (corpus.map { case (id, v) => (id, v, (id % 2).toInt) }
        :+ (999L, planted, 1) :+ (998L, planted2, 0))
      .toDF("vec_id", "embedding", "label")
    val dir = java.nio.file.Files.createTempDirectory("ivfidxf").toString
    val ix = CellIndex(dir, Voronoi(nlist = 16, nprobe = 4, kmeansIters = 1),
      Exact)
    ix.write(labeled, "vec_id", "embedding", attrCols = Seq("label"))
    val served = ix.topK(spark, "vec_id", "embedding", queryDf, "embedding", 5,
      filter = Some(col("label") === 1))
    val plan = served.queryExecution.executedPlan.toString
    // both prunings visible in the ONE scan: cell directories dropped via
    // PartitionFilters, the label predicate pushed to parquet row groups
    assert("PartitionFilters: \\[[^\\]]*cell".r.findFirstIn(plan).nonEmpty, plan)
    assert("PushedFilters: \\[[^\\]]*label".r.findFirstIn(plan).nonEmpty, plan)
    val top = served.as[(Long, Double)].collect()
    assert(top.head._1 === 999L)
    assert(top.head._2 > 0.99)
    assert(!top.map(_._1).contains(998L))
    assert(top.map(_._1).forall(id => id == 999L || id % 2 == 1))
    // batched path honors the same filter (same exclusion, 999 on top)
    val batched = ix.batchTopK(spark, "vec_id", "embedding", queryDf,
        "vec_id", "embedding", 5, filter = Some(col("label") === 1))
      .orderBy(col("score").desc).as[(Long, Long, Double)].collect()
    assert(batched.head._2 === 999L)
    assert(!batched.map(_._2).contains(998L))
    // the COMPRESSED index honors it too: the predicate prunes the ADC
    // candidate scan (codes carry the label), single and batched serves
    val pqDir = java.nio.file.Files.createTempDirectory("ivfpqidxf").toString
    val pq = CellIndex(pqDir, Voronoi(nlist = 16, nprobe = 4, kmeansIters = 1),
      Pq.Codec(m = 8, k = 16))
    pq.write(labeled, "vec_id", "embedding", attrCols = Seq("label"))
    val pqTop = pq.topK(spark, "vec_id", "embedding", queryDf, "embedding",
        5, filter = Some(col("label") === 1), rawCorpus = Some(labeled))
      .as[(Long, Double)].collect()
    assert(pqTop.head._1 === 999L)
    assert(!pqTop.map(_._1).contains(998L))
    val pqBatched = pq.batchTopK(spark, "vec_id", "embedding", queryDf,
        "vec_id", "embedding", 5, filter = Some(col("label") === 1),
        rawCorpus = Some(labeled))
      .orderBy(col("score").desc).as[(Long, Long, Double)].collect()
    assert(pqBatched.head._2 === 999L)
    assert(!pqBatched.map(_._2).contains(998L))
  }

  test("materialized LSH index: partition-pruned scan, planted neighbor served") {
    val dir = java.nio.file.Files.createTempDirectory("lshidx").toString
    val ix = CellIndex(dir, Hyperplane(nBits = 8, tables = 4), Exact)
    ix.write(corpusDf, "vec_id", "embedding")
    val served = ix.topK(spark, "vec_id", "embedding", queryDf, "embedding", 5)
    val plan = served.queryExecution.executedPlan.toString
    // the scan must keep only the probed (table, bucket) directories —
    // LSH probing expressed as parquet partition pruning
    assert(plan.contains("PartitionFilters") && plan.contains("bucket"), plan)
    val top = served.as[(Long, Double)].collect()
    assert(top.head._1 === 999L) // near-identical vector shares all buckets
    assert(top.head._2 > 0.99)
    // index-path result == the from-scratch lshTopK result (same params)
    val scratch = Similarity.lshTopK(corpusDf, "vec_id", "embedding",
      queryDf, "embedding", 5, nBits = 8, tables = 4).as[(Long, Double)].collect()
    assert(top.toSeq === scratch.toSeq)
    // a query frame of two rows is refused, never mixed into one ranking
    intercept[IllegalArgumentException] {
      ix.topK(spark, "vec_id", "embedding", queryDf.union(queryDf),
        "embedding", 5)
    }
  }

  test("native cell argmax / top-cells are bit-identical to the " +
      "declarative forms (incl. ties, null vectors, length mismatch, " +
      "null elements)") {
    val cents: Seq[(Long, Seq[Double])] = Seq(
      (3L, Seq(1.0, 0.0, 0.0)),
      (1L, Seq(1.0, 0.0, 0.0)), // exact tie with cid 3 -> lowest cid wins
      (7L, Seq(0.0, 1.0, 0.0)),
      (5L, Seq(0.0, 0.0, -1.0)))
    val rows = Seq(
      (1L, Option(Seq(Option(1.0), Option(0.0), Option(0.0)))), // tie
      (2L, Option(Seq(Option(0.1), Option(0.9), Option(0.0)))),
      (3L, Option(Seq(Option(0.0), Option(0.0), Option(-2.0)))),
      (4L, Option(Seq(Option(0.5), Option(0.5)))), // length mismatch
      (5L, Option(Seq(Option(1.0), Option.empty[Double], Option(0.0)))), // null elem
      (6L, Option.empty[Seq[Option[Double]]]) // null vector
    ).toDF("id", "v").select(col("id"), col("v").cast("array<double>").as("v"))
    val got = rows.select(col("id"),
        Similarity.bestCellFor(cents)(col("v")).as("nb"),
        Similarity.bestCellForDeclarative(cents)(col("v")).as("db"),
        Similarity.topCellsFor(cents, 3)(col("v")).as("nt"),
        Similarity.topCellsForDeclarative(cents, 3)(col("v")).as("dt"))
      .orderBy("id")
      .as[(Long, Long, Long, Seq[Long], Seq[Long])].collect()
    got.foreach { case (id, nb, db, nt, dt) =>
      assert(nb === db, s"bestCell diverged at id=$id")
      assert(nt === dt, s"topCells diverged at id=$id")
    }
  }

  test("LSH index retraction: one-job leaf rewrite excises exactly the " +
      "keys, untouched leaves keep their bytes, serving unaffected, " +
      "idempotent") {
    val dir = java.nio.file.Files.createTempDirectory("lshidx_rt").toString
    val ix = CellIndex(dir, Hyperplane(nBits = 6, tables = 3), Exact)
    ix.write(corpusDf, "vec_id", "embedding")
    val gone = Seq(5L, 17L, 42L)
    // leaves NOT touched by the takedown must not be rewritten at all
    // (the pruned scan never opens them) — fingerprint their bytes
    val touched = spark.read.parquet(s"$dir/data")
      .where(col("vec_id").isin(gone: _*))
      .select("table", "bucket").distinct()
      .as[(Int, Long)].collect().toSet
    def leafFiles(t: Int, b: Long) =
      Option(new java.io.File(s"$dir/data/table=$t/bucket=$b").listFiles())
        .getOrElse(Array.empty[java.io.File])
        .filter(_.getName.endsWith(".parquet"))
        .map(f => (f.getName, f.length(), f.lastModified())).toSeq.sorted
    val untouchedLeaf = spark.read.parquet(s"$dir/data")
      .select("table", "bucket").distinct().as[(Int, Long)].collect()
      .find(!touched.contains(_))
    val beforeBytes = untouchedLeaf.map { case (t, b) => leafFiles(t, b) }
    val keys = gone.toDF("id")
    ix.retract(spark, keys, "id", "vec_id")
    val data = spark.read.parquet(s"$dir/data")
    assert(data.where(col("vec_id").isin(gone: _*)).isEmpty)
    // every surviving id still has all `tables` replicas
    assert(data.where(col("vec_id") === 999L).count() === 3L)
    untouchedLeaf.foreach { case (t, b) =>
      assert(leafFiles(t, b) === beforeBytes.get,
        s"untouched leaf table=$t/bucket=$b was rewritten")
    }
    // serving still finds the planted neighbor through the pruned scan
    val top = ix.topK(spark, "vec_id", "embedding", queryDf, "embedding", 5)
      .as[(Long, Double)].collect()
    assert(top.head._1 === 999L)
    // idempotent: excising absent keys is a no-op
    ix.retract(spark, keys, "id", "vec_id")
    assert(spark.read.parquet(s"$dir/data")
      .where(col("vec_id").isin(gone: _*)).isEmpty)
  }

  test("semantic dedup drops the planted near-identical vector, keeps min id, " +
      "transitive within a cell") {
    // 999 is near-identical to the planted chain base; add an exact copy of
    // vec 1 under a higher id to plant a same-cell duplicate pair
    val withDup = corpusDf.union(
      Seq((1000L, corpus.head._2)).toDF("vec_id", "embedding"))
    val kept = Similarity.semanticDedup(withDup, "vec_id", "embedding",
        threshold = 0.95, nlist = 4, kmeansIters = 1)
      .select("vec_id").as[Long].collect().toSet
    assert(kept.contains(1L))       // survivor = component min
    assert(!kept.contains(1000L))   // exact copy dropped
    // identical vectors share an argmax cell by construction, so the pair
    // is always visible to the within-cell quadratic
    val pairs = Similarity.semanticDupPairs(withDup, "vec_id", "embedding",
        threshold = 0.95, nlist = 4, kmeansIters = 1)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((1L, 1000L)))
  }

  test("soft-assignment semantic pairs plan one equi-join on the cell, " +
      "never a cross product") {
    val withDup = corpusDf.union(
      Seq((1000L, corpus.head._2)).toDF("vec_id", "embedding"))
    val pairs = Similarity.semanticDupPairs(withDup, "vec_id", "embedding",
      threshold = 0.95, nlist = 4, kmeansIters = 0, probes = 2)
    val plan = pairs.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), plan)
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
    assert("SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin".r
      .findAllMatchIn(plan).size === 1, plan)
  }

  test("PQ: codes in range and deterministic, ADC+rerank finds the planted " +
      "neighbor first") {
    val cb = Pq.train(corpusDf, "vec_id", "embedding", m = 4, k = 8, iters = 3)
    assert(cb.cents.size === 4 && cb.cents.forall(_.size === 8))
    def encode(cb: Pq.Codebooks) =
      corpusDf.select(col("vec_id"), cb.encode(col("embedding")))
        .orderBy("vec_id").as[(Long, Seq[Int])].collect()
    val codes = encode(cb)
    assert(codes.forall(_._2.forall(c => c >= 0 && c < 8)))
    assert(codes.forall(_._2.size === 4))
    // deterministic: retrain + re-encode gives identical codes
    val cb2 = Pq.train(corpusDf, "vec_id", "embedding", m = 4, k = 8, iters = 3)
    assert(codes.toSeq === encode(cb2).toSeq)
    // the near-identical planted vector survives quantization + rerank
    val top = Pq.topK(corpusDf, "vec_id", "embedding", queryDf, "embedding",
        5, cb, oversample = 8)
      .as[(Long, Double)].collect()
    assert(top.head._1 === 999L)
    assert(top.head._2 > 0.99)
  }

  test("materialized PQ index: ADC scans codes only, same served result") {
    val cb = Pq.train(corpusDf, "vec_id", "embedding", m = 4, k = 8, iters = 3)
    val path = java.nio.file.Files.createTempDirectory("pq_idx").toString
    val ix = FlatIndex(path, Pq.Codec(m = 4, k = 8, iters = 3))
    ix.write(corpusDf, "vec_id", "embedding")
    assert(ix.codec.read(spark, path) === cb)
    val served = ix.topK(spark, "vec_id", "embedding", queryDf, "embedding",
      5, oversample = 8, rawCorpus = Some(corpusDf))
    // the ADC candidate scan reads the compressed codes, never embeddings:
    // exactly one parquet scan in the plan, with only id + codes
    val plan = served.queryExecution.executedPlan.toString
    val scans = "Scan parquet".r.findAllMatchIn(plan).size
    assert(scans === 1, plan)
    assert("ReadSchema:[^\\n]*embedding".r.findFirstIn(plan).isEmpty, plan)
    val top = served.as[(Long, Double)].collect()
    assert(top.head._1 === 999L)
    // index-served == from-scratch (same codebooks, same pool)
    val scratch = Pq.topK(corpusDf, "vec_id", "embedding", queryDf,
      "embedding", 5, cb, oversample = 8).as[(Long, Double)].collect()
    assert(top.toSeq === scratch.toSeq)
  }

  test("IVF-PQ index: partition-pruned codes-only ADC scan, planted " +
      "neighbor served") {
    val path = java.nio.file.Files.createTempDirectory("ivfpq_idx").toString
    CellIndex(path, Voronoi(nlist = 4, kmeansIters = 1), Pq.Codec(m = 4, k = 8))
      .write(corpusDf, "vec_id", "embedding")
    val served = Similarity.ivfPqTopKFromIndex(spark, path, corpusDf,
      "vec_id", "embedding", queryDf, "embedding", 5,
      nprobe = 2, oversample = 8)
    val plan = served.queryExecution.executedPlan.toString
    // ADC scan: partition-pruned (cell filter) and code-only (the one
    // parquet scan carries no embedding column)
    assert("PartitionFilters: \\[[^\\]]*cell".r.findFirstIn(plan).nonEmpty, plan)
    assert("Scan parquet".r.findAllMatchIn(plan).size === 1, plan)
    assert("ReadSchema:[^\\n]*embedding".r.findFirstIn(plan).isEmpty, plan)
    // the single-query plan: literal ADC tables, TakeOrderedAndProject
    // candidates and a left-semi rerank — never a batch-of-one window,
    // never a join with the query frame
    assert(plan.contains("TakeOrderedAndProject"), plan)
    assert(plan.contains("LeftSemi"), plan)
    assert(!plan.contains("Window"), plan)
    // the one local relation is the raw corpus (the rerank side)
    assert("LocalTableScan".r.findAllMatchIn(plan).size === 1, plan)
    val top = served.as[(Long, Double)].collect()
    // near-identical vectors share the best cell, so nprobe=2 always
    // covers the planted neighbor
    assert(top.head._1 === 999L)
    assert(top.head._2 > 0.99)
  }

  test("incremental index append: new batch encoded with EXISTING " +
      "sidecars, served across batches (IVF / IVF-PQ / LSH)") {
    // batch 1 = corpus without the planted neighbor; batch 2 = just it.
    // After append, every index family must serve the planted vector —
    // proving the batch was encoded comparably to the stored rows.
    val initial = corpusDf.filter(col("vec_id") =!= 999L)
    val batch = corpusDf.filter(col("vec_id") === 999L)

    // IVF
    val ivfDir = java.nio.file.Files.createTempDirectory("ivf_app").toString
    val ivf = CellIndex(ivfDir, Voronoi(nlist = 4, nprobe = 2,
      kmeansIters = 1), Exact)
    ivf.write(initial, "vec_id", "embedding")
    val centsBefore = spark.read.parquet(s"$ivfDir/centroids")
      .collect().map(_.toString).sorted.toSeq
    assert(!ivf.topK(spark, "vec_id", "embedding", queryDf, "embedding", 5)
      .as[(Long, Double)].collect().map(_._1).contains(999L))
    ivf.append(batch, "vec_id", "embedding")
    val ivfTop = ivf.topK(spark, "vec_id", "embedding", queryDf, "embedding",
        5)
      .as[(Long, Double)].collect()
    assert(ivfTop.head._1 === 999L && ivfTop.head._2 > 0.99)
    // sidecar centroids frozen by the append (the comparability guarantee)
    val centsAfter = spark.read.parquet(s"$ivfDir/centroids")
      .collect().map(_.toString).sorted.toSeq
    assert(centsAfter === centsBefore)

    // IVF-PQ (codes encoded with the stored codebooks)
    val pqDir = java.nio.file.Files.createTempDirectory("ivfpq_app").toString
    val pq = CellIndex(pqDir, Voronoi(nlist = 4, nprobe = 2, kmeansIters = 1),
      Pq.Codec(m = 4, k = 8))
    pq.write(initial, "vec_id", "embedding")
    pq.append(batch, "vec_id", "embedding")
    val pqTop = pq.topK(spark, "vec_id", "embedding", queryDf, "embedding",
        5, oversample = 8, rawCorpus = Some(corpusDf))
      .as[(Long, Double)].collect()
    assert(pqTop.head._1 === 999L && pqTop.head._2 > 0.99)

    // LSH (buckets derived from the stored nBits/tables params)
    val lshDir = java.nio.file.Files.createTempDirectory("lsh_app").toString
    val lsh = CellIndex(lshDir, Hyperplane(nBits = 8, tables = 2), Exact)
    lsh.write(initial, "vec_id", "embedding")
    lsh.append(batch, "vec_id", "embedding")
    val lshTop = lsh.topK(spark, "vec_id", "embedding", queryDf, "embedding",
        5)
      .as[(Long, Double)].collect()
    assert(lshTop.head._1 === 999L && lshTop.head._2 > 0.99)
  }

  test("withinThreshold: arriving near-dup of an INDEXED vector " +
      "surfaces through cell-pruned exact verify") {
    val dir = java.nio.file.Files.createTempDirectory("ivf_sem").toString
    // corpus = everything except the planted near-dup; batch = just it
    val corpus = corpusDf.filter(col("vec_id") =!= 999L)
    val ix = CellIndex(dir, Voronoi(nlist = 4, nprobe = 2, kmeansIters = 1),
      Exact)
    ix.write(corpus, "vec_id", "embedding")
    // the planted vector is a near-identical copy of q; q itself is NOT
    // in the corpus — but vector 999 ≈ q has no corpus twin, so index it
    // differently: batch carries a near-copy of corpus vector 1
    val v1 = corpus.filter(col("vec_id") === 1L)
      .select("embedding").as[Array[Float]].head()
    val batch = Seq(
      (1001L, v1.map(x => x + 1e-3f)), // near-dup of indexed vector 1
      (1002L, Array.fill(dim)(rnd.nextGaussian().toFloat)) // unrelated
    ).toDF("vec_id", "embedding")
    def dups = ix.withinThreshold(spark, "vec_id", "embedding", batch,
      "vec_id", "embedding", threshold = 0.98)
    val hits = dups.as[(Long, Long, Double)].collect()
    assert(hits.map(h => (h._1, h._2)).toSet === Set((1001L, 1L)))
    assert(hits.head._3 > 0.99)
    // the corpus scan is partition-pruned to the batch's probed cells
    val plan = dups.queryExecution.executedPlan.toString
    assert("PartitionFilters: \\[[^\\]]*cell".r.findFirstIn(plan).nonEmpty,
      plan)
    // a threshold over approximate scores is refused
    intercept[IllegalArgumentException] {
      CellIndex(dir, Voronoi(), VectorCodec.Sq8).withinThreshold(spark,
        "vec_id", "embedding", batch, "vec_id", "embedding", 0.98)
    }
  }

  test("batched IVF / LSH / brute-force serving: per-query results " +
      "identical to the per-query loop; job count independent of batch " +
      "size") {
    val ivfDir = java.nio.file.Files.createTempDirectory("ivf_batch").toString
    val ivf = CellIndex(ivfDir, Voronoi(nlist = 4, nprobe = 2,
      kmeansIters = 1), Exact)
    ivf.write(corpusDf, "vec_id", "embedding")

    // query TABLE: the planted query + 5 corpus vectors under fresh ids
    val queryRows = (0L, q) +: corpus.take(5)
      .map { case (i, v) => (1000L + i, v) }
    val queriesDf = queryRows.toDF("vec_id", "embedding")

    def loop(ix: CellIndex, k: Int = 5) = queryRows.flatMap { case (qid, v) =>
      ix.topK(spark, "vec_id", "embedding",
          Seq((qid, v)).toDF("vec_id", "embedding"), "embedding", k)
        .as[(Long, Double)].collect().map { case (id, s) => (qid, id, s) }
    }.toSeq.sortBy(r => (r._1, -r._3, r._2))
    def batch(ix: CellIndex, k: Int = 5) = ix.batchTopK(spark, "vec_id",
        "embedding", queriesDf, "vec_id", "embedding", k)
      .as[(Long, Long, Double)].collect().toSeq

    val ivfBatch = batch(ivf)
    assert(ivfBatch.sortBy(r => (r._1, -r._3, r._2)) === loop(ivf))
    // the planted query still finds its planted neighbor through the batch
    assert(ivfBatch.filter(_._1 == 0L).maxBy(_._3)._2 === 999L)

    // batched LSH from the materialized index ≡ the per-query loop
    // (hamming 2 adds the pair-flip probes on both paths; k past the
    // corpus size compares the whole probed candidate sets)
    val lshDir = java.nio.file.Files.createTempDirectory("lsh_batch").toString
    val lsh = CellIndex(lshDir, Hyperplane(nBits = 4, tables = 4), Exact)
    lsh.write(corpusDf, "vec_id", "embedding")
    for (hp <- Seq(1, 2); k <- Seq(5, 1000)) {
      val ix = CellIndex(lshDir, Hyperplane(hammingProbe = hp), Exact)
      assert(batch(ix, k).sortBy(r => (r._1, -r._3, r._2)) === loop(ix, k),
        s"hammingProbe = $hp, k = $k")
    }

    // batched brute force (the exact anchor) ≡ the single-query operator
    val bfBatch = Similarity.bruteForceBatchTopK(corpusDf, "vec_id",
        "embedding", queriesDf, "vec_id", "embedding", k = 5)
      .as[(Long, Long, Double)].collect().toSeq
    val bfLoop = queryRows.flatMap { case (qid, v) =>
      Similarity.bruteForceTopK(corpusDf, "vec_id", "embedding",
          Seq((qid, v)).toDF("vec_id", "embedding"), "embedding", 5)
        .as[(Long, Double)].collect().map { case (id, s) => (qid, id, s) }
    }
    assert(bfBatch.sortBy(r => (r._1, -r._3, r._2)) ===
      bfLoop.toSeq.sortBy(r => (r._1, -r._3, r._2)))

    // the batched plan prunes the index scan to the probed cells
    val served = ivf.batchTopK(spark, "vec_id", "embedding", queriesDf,
      "vec_id", "embedding", k = 5)
    val plan = served.queryExecution.executedPlan.toString
    assert("PartitionFilters: \\[[^\\]]*cell".r.findFirstIn(plan).nonEmpty,
      plan)

    // job-count independence: serving 2 queries and 6 queries launches the
    // SAME number of Spark jobs (the loop launches ~Q×) — the whole point
    // of the batched contract
    var counted = 0
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        counted += 1
    }
    def jobsRunning(body: => Unit): Int = {
      spark.sparkContext.addSparkListener(listener)
      try {
        counted = 0
        body
        org.apache.spark.sql.GraftBridge.drainListenerBus(spark)
        counted
      } finally spark.sparkContext.removeSparkListener(listener)
    }
    def jobsOf(qs: org.apache.spark.sql.DataFrame): Int =
      jobsRunning {
        ivf.batchTopK(spark, "vec_id", "embedding", qs, "vec_id",
          "embedding", k = 5).count()
      }
    val jobsSmall = jobsOf(queriesDf.limit(2))
    val jobsFull = jobsOf(queriesDf)
    assert(jobsFull === jobsSmall,
      s"batched serve scaled with batch size: $jobsSmall vs $jobsFull jobs")

    // same invariance for the LSH and codec-index batch paths
    def lshJobs(qs: org.apache.spark.sql.DataFrame): Int =
      jobsRunning {
        lsh.batchTopK(spark, "vec_id", "embedding", qs, "vec_id",
          "embedding", k = 5).count()
      }
    assert(lshJobs(queriesDf) === lshJobs(queriesDf.limit(2)))
    val sq = FlatIndex(
      java.nio.file.Files.createTempDirectory("sq_jobs").toString,
      VectorCodec.Sq8)
    sq.write(corpusDf, "vec_id", "embedding")
    def sqJobs(qs: org.apache.spark.sql.DataFrame): Int =
      jobsRunning {
        sq.batchTopK(spark, "vec_id", "embedding", qs, "vec_id",
          "embedding", k = 5).count()
      }
    assert(sqJobs(queriesDf) === sqJobs(queriesDf.limit(2)))
  }

  test("hardNegatives: never emits a same-label vector and equals the " +
      "label-filtered exact batch top-k") {
    val lab = corpusDf.withColumn("label", pmod(col("vec_id"), lit(3)).cast("int"))
    val qrs = corpus.take(3).map { case (i, v) => (2000L + i, v, (i % 3).toInt) }
    val qdf = qrs.toDF("vec_id", "embedding", "label")
    val out = Similarity.hardNegatives(lab, "vec_id", "embedding", "label",
        qdf, "vec_id", "embedding", "label", k = 5)
      .as[(Long, Long, Double)].collect().toSeq
    assert(out.size === 15)
    // label(query 2000+i) = i % 3; label(corpus id) = id % 3
    assert(out.forall { case (qid, id, _) => id % 3 != (qid - 2000) % 3 })
    // ≡ exact batch top-k with the label filter applied after the fact
    val manual = Similarity.bruteForceBatchTopK(lab, "vec_id", "embedding",
        qdf, "vec_id", "embedding", k = corpus.size + 1)
      .as[(Long, Long, Double)].collect()
      .filter { case (qid, id, _) => id % 3 != (qid - 2000) % 3 }
      .groupBy(_._1).values
      .flatMap(_.sortBy(r => (-r._3, r._2)).take(5)).toSeq
    assert(out.sortBy(r => (r._1, r._2)) === manual.sortBy(r => (r._1, r._2)))
  }

  test("SQ8: codes stay in the int8 domain, reconstruction error is " +
      "bounded by span/255, serving finds the planted neighbor") {
    val dir = java.nio.file.Files.createTempDirectory("sq8").toString
    val ix = FlatIndex(dir, VectorCodec.Sq8)
    ix.write(corpusDf, "vec_id", "embedding")
    val data = spark.read.parquet(s"$dir/data")
    val codes = data.select(explode(col("code"))).as[Int].collect()
    assert(codes.forall(c => c >= -128 && c <= 127))
    // max |x − dequant(quant(x))| ≤ span/(2·255) + fp slack, per dimension
    val ranges = VectorCodec.Sq8.read(spark, dir)
    val worstSpan = ranges.mins.indices
      .map(i => ranges.maxs(i) - ranges.mins(i)).max
    val errs = data.select(
        aggregate(zip_with(
          graft.functions.Vectors.toDouble(col("embedding")),
          ranges.decode(col("code")),
          (a, b) => abs(a - b)), lit(0.0),
          (acc, x) => greatest(acc, x)).as("e"))
      .as[Double].collect()
    assert(errs.max <= worstSpan / 255.0 / 2.0 + 1e-9)
    // serving: the planted near-copy of q must surface as the top hit
    val top = ix.batchTopK(spark, "vec_id", "embedding",
        queryDf, "vec_id", "embedding", k = 5, oversample = 4)
      .as[(Long, Long, Double)].collect().sortBy(-_._3)
    assert(top.head._2 === 999L)
    assert(top.head._3 > 0.99) // rerank score is exact, not quantized
    // the ADC pass column-prunes to (id, code): one index scan reads the
    // code column WITHOUT the float vectors (the 4× bandwidth claim), the
    // rerank scan reads the vectors — both visible in the executed plan
    val serve = ix.batchTopK(spark, "vec_id", "embedding",
      queryDf, "vec_id", "embedding", k = 5, oversample = 4)
    serve.collect()
    val schemas = "ReadSchema: [^\\n]*".r
      .findAllIn(serve.queryExecution.executedPlan.toString).toSeq
    assert(schemas.exists(s => s.contains("code") && !s.contains("embedding")),
      schemas.mkString("\n"))
    assert(schemas.exists(_.contains("embedding")), schemas.mkString("\n"))
  }

  test("randomProject: deterministic across invocations, near-identical " +
      "vectors stay near-identical, planted neighbor survives 4x reduction") {
    val p1 = Similarity.randomProject(corpusDf, "embedding", dim, 4, 7L, "rp")
      .select("vec_id", "rp").as[(Long, Array[Double])].collect().toMap
    val p2 = Similarity.randomProject(corpusDf, "embedding", dim, 4, 7L, "rp")
      .select("vec_id", "rp").as[(Long, Array[Double])].collect().toMap
    assert(p1.keySet === p2.keySet)
    assert(p1.forall { case (k, v) => v.toSeq === p2(k).toSeq })
    assert(p1.values.forall(_.length === 4))
    // projection is linear: the planted near-copy of q stays the top hit
    // in the projected space at outDim = dim/4
    val proj = Similarity.randomProject(
      corpusDf.unionByName(queryDf), "embedding", dim, dim / 4, 7L, "rp")
    val top = Similarity.bruteForceBatchTopK(
        proj.filter(col("vec_id") =!= 0L), "vec_id", "rp",
        proj.filter(col("vec_id") === 0L), "vec_id", "rp", k = 1)
      .as[(Long, Long, Double)].collect()
    assert(top.head._2 === 999L)
    assert(top.head._3 > 0.98)
    intercept[IllegalArgumentException] {
      Similarity.randomProject(corpusDf, "embedding", dim, dim + 1, 7L, "rp")
    }
  }

  test("maxSimTopK: each query token matches its best doc vector " +
      "independently; totals are decimal-exact") {
    val mv = Seq((1L, "A", Array(1f, 0f)), (2L, "A", Array(0f, 1f)),
      (3L, "B", Array(0.7f, 0.7f))).toDF("vec_id", "doc", "embedding")
    val qt = Seq((10L, Array(1f, 0f)), (11L, Array(0f, 1f)))
      .toDF("vec_id", "embedding")
    val out = Similarity.maxSimTopK(mv, "doc", "embedding", qt, "vec_id",
        "embedding", k = 2)
      .as[(String, Double)].collect().toSeq
    // A: each token finds its exact twin (cos 1.0) → 2.0; B: both tokens
    // hit the diagonal vector at cos ≈ 0.707107 → ≈ 1.414214
    assert(out.head === ("A", 2.0))
    assert(out(1)._1 === "B")
    assert(math.abs(out(1)._2 - 2 * 0.707107) < 1e-6)
  }

  test("ivfIndexStats: population accounting and imbalance >= 1") {
    val dir = java.nio.file.Files.createTempDirectory("ivf_stats").toString
    CellIndex(dir, Voronoi(nlist = 4, kmeansIters = 1), Exact)
      .write(corpusDf, "vec_id", "embedding")
    val r = Similarity.ivfIndexStats(spark, dir).collect().head
    assert(r.getInt(0) === 4)                   // nlist
    val populated = r.getLong(1)
    assert(populated >= 1 && populated <= 4)
    assert(r.getLong(2) <= r.getLong(3))        // min <= max
    // mean · populated = corpus size (201 vectors)
    assert(math.round(r.getDouble(4) * populated) === corpusDf.count())
    assert(r.getDouble(5) >= 1.0)               // imbalance = max/mean
  }

  test("reclusterIvfIndex: skewed appends raise imbalance, recluster " +
      "restores balance and serving stays correct through the swap") {
    val dir = java.nio.file.Files.createTempDirectory("ivf_recluster")
      .toString
    // direction-cluster fixture matched to the index's DOT-product
    // geometry (equal norms, distinct directions — magnitude games would
    // test Euclidean k-means, which this index never was): two base
    // clusters along e0 and e1, ids arranged so the deterministic seeds
    // (first nlist by id) cover both
    val r2 = new scala.util.Random(7)
    def member(axis: Int, bias: Double = 0.0): Array[Float] = {
      val v = Array.fill(dim)(0.1f * r2.nextGaussian().toFloat)
      v(axis) = v(axis) + 5f
      if (bias != 0.0) v(0) = v(0) + bias.toFloat
      v
    }
    val baseCorpus =
      (Seq((1L, member(0)), (2L, member(0)), (3L, member(1)),
        (4L, member(1))) ++
        (5 to 102).map(i => (i.toLong, member(0))) ++
        (103 to 200).map(i => (i.toLong, member(1))))
        .toDF("vec_id", "embedding")
    val ivf = CellIndex(dir, Voronoi(nlist = 4, kmeansIters = 2), Exact)
    ivf.write(baseCorpus, "vec_id", "embedding")
    // the drifted batch: a THIRD direction (e2) with a small e0 bias so
    // the frozen centroids deterministically argmax all of it into one
    // e0-cell — the hot-cell degradation reclustering exists for
    val drifted = (1 to 100).map { i =>
      (5000L + i, member(2, bias = 0.5))
    }.toDF("vec_id", "embedding")
    ivf.append(drifted, "vec_id", "embedding")
    val before = Similarity.ivfIndexStats(spark, dir)
      .select("imbalance").as[Double].head()
    val total = spark.read.parquet(s"$dir/data").count()
    // a maintenance sidecar at the index root must ride through the
    // whole-root swap (the recluster regenerates only data + centroids)
    Seq(300L).toDF("trained_rows").coalesce(1)
      .write.mode("overwrite").parquet(s"$dir/trained_meta")
    // ...including `_`-prefixed PLAIN FILES: the compaction-cadence
    // counter CorpusPipeline keeps at the index root ("_maint_appends")
    // must not be dropped by the swap's metadata-dir exclusion, or every
    // recluster silently resets the cadence
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$dir/_maint_appends"),
      "7".getBytes(java.nio.charset.StandardCharsets.UTF_8))
    Similarity.reclusterIvfIndex(spark, dir, "vec_id", "embedding",
      kmeansIters = 5)
    assert(spark.read.parquet(s"$dir/trained_meta")
      .as[Long].head() === 300L, "sidecar lost in the root swap")
    assert(new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(s"$dir/_maint_appends")),
      java.nio.charset.StandardCharsets.UTF_8) === "7",
      "_maint_appends counter lost in the root swap")
    // the single-parent-rename discipline leaves no staging siblings
    val parent = new java.io.File(dir).getParentFile
    val leftovers = Option(parent.listFiles()).getOrElse(Array.empty)
      .filter(_.getName.contains("__recluster"))
    assert(leftovers.isEmpty, leftovers.mkString(", "))
    val after = Similarity.ivfIndexStats(spark, dir)
      .select("imbalance").as[Double].head()
    // Lloyd over the current contents gives the drifted direction its own
    // cell: the hot cell splits and max/mean falls
    assert(after < before,
      s"recluster did not reduce imbalance: $before -> $after")
    // no vector lost in the rewrite-and-swap
    assert(spark.read.parquet(s"$dir/data").count() === total)
    // serving through the swapped index stays correct: a query down the
    // drifted direction finds a drifted member with single-cell probing
    val driftedQuery = Seq((0L, member(2, bias = 0.5)))
      .toDF("vec_id", "embedding")
    val top = CellIndex(dir, Voronoi(nprobe = 1), Exact).topK(spark,
        "vec_id", "embedding", driftedQuery, "embedding", 3)
      .as[(Long, Double)].collect()
    assert(top.head._1 >= 5000L, s"expected a drifted-cluster member: $top")
    // and a base-direction query is still served from its cell
    val baseQuery = Seq((0L, member(1))).toDF("vec_id", "embedding")
    val orig = CellIndex(dir, Voronoi(nprobe = 2), Exact).topK(spark,
        "vec_id", "embedding", baseQuery, "embedding", 3)
      .as[(Long, Double)].collect()
    assert(orig.forall(t => t._1 >= 103L && t._1 <= 200L || t._1 <= 4L),
      s"base query must hit the e1 cluster: ${orig.toSeq}")
  }

  test("compactPartitioned: repeated appends swamp cell dirs with files, " +
      "compaction bounds them, serving result identical") {
    val dir = java.nio.file.Files.createTempDirectory("ivf_compact")
      .toString
    val ivf = CellIndex(dir, Voronoi(nlist = 4, nprobe = 4, kmeansIters = 1),
      Exact)
    ivf.write(corpusDf, "vec_id", "embedding")
    // 12 small appends — each lands one file-set per touched cell
    (1 to 12).foreach { b =>
      val batch = Seq((5000L + b,
        Array.fill(dim)(rnd.nextGaussian().toFloat))).toDF(
        "vec_id", "embedding")
      ivf.append(batch, "vec_id", "embedding")
    }
    val servedBefore = ivf.topK(spark, "vec_id", "embedding", queryDf,
        "embedding", 5)
      .as[(Long, Double)].collect().toSeq
    val (filesBefore, filesAfter) = graft.sources.Compaction
      .compactPartitioned(spark, s"$dir/data", targetBytes = 64L << 20)
    assert(filesBefore > 12, s"appends should have accumulated files")
    // every cell is far under targetBytes → exactly one file per cell
    assert(filesAfter <= 4, s"expected <=1 file/cell, got $filesAfter")
    val servedAfter = ivf.topK(spark, "vec_id", "embedding", queryDf,
        "embedding", 5)
      .as[(Long, Double)].collect().toSeq
    assert(servedAfter === servedBefore)
    // the sidecar was untouched by construction
    assert(spark.read.parquet(s"$dir/centroids").count() === 4)
    // crash-safety of the staging naming: a leftover per-leaf staging dir
    // (a compaction that died mid-rewrite) sits INSIDE the table root —
    // its dot prefix must keep partition discovery from reading it as an
    // extra `cell=...` partition (duplicated rows / conflicting partition
    // columns for every concurrent reader). `_` would NOT be enough:
    // Spark's listing filter exempts `_`-names containing `=`.
    val rowsBefore = spark.read.parquet(s"$dir/data").count()
    val leftover = s"$dir/data/${"."}cell=99__compacting"
    spark.range(1).select(col("id").as("vec_id"),
        typedLit(Array.fill(dim)(0f)).as("embedding"))
      .write.parquet(leftover)
    val reread = spark.read.parquet(s"$dir/data")
    assert(reread.count() === rowsBefore,
      "crash-leftover staging dir leaked into the scan")
    assert(!reread.schema("cell").dataType.typeName.contains("string"),
      "partition column type flipped — staging dir was discovered")
  }

  test("hyperplane bucket is deterministic and within range") {
    val b = corpusDf.select(
        Vectors.hyperplaneBucket(col("embedding"), 8, 0).as("b"))
      .as[Long].collect()
    assert(b.forall(x => x >= 0 && x < 256))
    val b2 = corpusDf.select(
        Vectors.hyperplaneBucket(col("embedding"), 8, 0).as("b"))
      .as[Long].collect()
    assert(b.toSeq === b2.toSeq)
  }
}
