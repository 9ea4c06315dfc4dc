package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.Vectors

/** Similarity search over embedding columns (`array<float>`).
  *
  * Scale design (100 TB / billions of vectors):
  *  - Brute-force top-k is a single narrow scan (score every vector with a
  *    broadcast query) followed by a TakeOrderedAndProject — no shuffle of
  *    the vectors themselves, and the per-partition top-k means only k rows
  *    per partition reach the driver-side merge.
  *  - The LSH path buckets vectors by random-hyperplane signature; a query
  *    probes only its own buckets (an equi-join on the bucket key), turning
  *    the scan into a hash-partition-pruned lookup. Bucket assignment is a
  *    pure expression, so the bucketed table can be written once
  *    (partitioned/bucketed by `bucket`) and reused by every query.
  */
object Similarity {

  /** Exact top-k by cosine similarity against a single query vector, given
    * as a 1-row DataFrame (broadcast — the corpus never moves).
    */
  def bruteForceTopK(corpus: DataFrame, idCol: String, vecCol: String,
                     query: DataFrame, queryVecCol: String, k: Int): DataFrame =
    corpus
      .crossJoin(broadcast(query.select(col(queryVecCol).as("__qvec"))))
      .select(col(idCol),
        Vectors.cosine(col(vecCol), col("__qvec")).as("score"))
      .orderBy(col("score").desc, col(idCol))
      .limit(k)

  /** BATCHED exact top-k — the ground-truth anchor for batched-retrieval
    * recall: corpus × broadcast query table in one scan, per-query window
    * top-k. Exact and batch-size-job-independent, but the window shuffles
    * |corpus|·|queries| scored rows keyed by query_id — the deliberate
    * O(n·q) baseline the ANN batch paths are priced against, not a scale
    * path itself. Returns (query_id, idCol, score).
    */
  def bruteForceBatchTopK(corpus: DataFrame, idCol: String, vecCol: String,
                          queries: DataFrame, queryIdCol: String,
                          queryVecCol: String, k: Int): DataFrame = {
    val q = broadcast(queries.select(col(queryIdCol).as("query_id"),
      col(queryVecCol).as("__qvec")))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("query_id").orderBy(col("score").desc, col(idCol))
    corpus.crossJoin(q)
      .select(col("query_id"), col(idCol),
        Vectors.cosine(col(vecCol), col("__qvec")).as("score"))
      .withColumn("__rank", row_number().over(w))
      .where(col("__rank") <= k).drop("__rank")
  }

  /** Hard-negative mining for contrastive / embedding training: for each
    * query, the top-`k` most-similar corpus vectors whose `labelCol`
    * DIFFERS from the query's — maximally confusable wrong-class examples.
    *
    * This is the EXACT variant (the [[bruteForceBatchTopK]] shape plus a
    * label-mismatch predicate pushed below the window), oracle-checkable
    * and the ground truth for approximate mining. The scale path composes
    * the index family: [[ivfBatchTopKFromIndex]] with an over-fetch
    * (k' > k), join labels back onto the (small) result set, drop
    * same-label rows, re-cut to k — `ann_hardneg_recall` prices exactly
    * that composition against this method. Returns
    * (query_id, idCol, score).
    */
  def hardNegatives(corpus: DataFrame, idCol: String, vecCol: String,
                    labelCol: String, queries: DataFrame, queryIdCol: String,
                    queryVecCol: String, queryLabelCol: String,
                    k: Int): DataFrame = {
    val q = broadcast(queries.select(col(queryIdCol).as("query_id"),
      col(queryVecCol).as("__qvec"), col(queryLabelCol).as("__qlabel")))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("query_id").orderBy(col("score").desc, col(idCol))
    corpus.crossJoin(q)
      .where(col(labelCol) =!= col("__qlabel"))
      .select(col("query_id"), col(idCol),
        Vectors.cosine(col(vecCol), col("__qvec")).as("score"))
      .withColumn("__rank", row_number().over(w))
      .where(col("__rank") <= k).drop("__rank")
  }

  /** Johnson–Lindenstrauss random projection: `outDim` Gaussian
    * directions drawn from `seed` on the driver (bounded metadata:
    * outDim·inDim doubles, the centroid/codebook convention), applied
    * in-plan as `y_j = ⟨x, R_j⟩ / √outDim`. Shrinks every downstream
    * vector op — pair verification flops, ANN scoring, shuffle width —
    * by inDim/outDim at a distance-distortion cost the JL lemma bounds
    * and `ann_rp_recall` prices empirically each round. Deterministic:
    * the same seed reproduces the same matrix on every executor and run.
    * Interpreted HOF — a one-time transform pass at pipeline ingest, not
    * a serving hot path. Appends `outCol` (array<double>).
    */
  def randomProject(df: DataFrame, vecCol: String, inDim: Int, outDim: Int,
                    seed: Long, outCol: String): DataFrame = {
    require(outDim > 0 && outDim <= inDim,
      s"outDim $outDim must be in (0, $inDim]")
    val rnd = new scala.util.Random(seed)
    val mat: Array[Array[Double]] =
      Array.fill(outDim)(Array.fill(inDim)(rnd.nextGaussian()))
    val matL = typedlit(mat)
    val scale = math.sqrt(outDim.toDouble)
    df.withColumn(outCol,
      transform(sequence(lit(0), lit(outDim - 1)), j =>
        aggregate(
          zip_with(Vectors.toDouble(col(vecCol)), element_at(matL, j + 1),
            (a, b) => a * b),
          lit(0.0), (acc, x) => acc + x) / scale))
  }

  /** ColBERT-style MaxSim late interaction (Khattab & Zaharia, SIGIR
    * 2020): documents are SETS of vectors (passage token/chunk
    * embeddings), queries are sets of token vectors, and
    * `score(q, d) = Σ_{t ∈ q} max_{v ∈ d} cos(t, v)` — each query token
    * finds its best-matching document vector independently, which is what
    * makes late interaction outrank single-vector retrieval.
    *
    * Plan: one scored pass (doc vectors × broadcast query tokens), a
    * (doc, token)-keyed max, then the per-doc decimal sum (6-decimal
    * rounded maxes — addition-order-independent, so the top-k cut is
    * bit-stable however many query tokens there are). Max of doubles has
    * no ordering exposure at all, so the whole score hashes
    * cross-engine. Returns (docIdCol, maxsim) top-k.
    */
  def maxSimTopK(corpus: DataFrame, docIdCol: String, vecCol: String,
                 queryToks: DataFrame, queryTokIdCol: String,
                 queryVecCol: String, k: Int): DataFrame =
    corpus
      .crossJoin(broadcast(queryToks.select(
        col(queryTokIdCol).as("__qt"), col(queryVecCol).as("__qvec"))))
      .select(col(docIdCol), col("__qt"),
        Vectors.cosine(col(vecCol), col("__qvec")).as("__s"))
      .groupBy(col(docIdCol), col("__qt"))
      .agg(max("__s").as("__ms"))
      .groupBy(col(docIdCol))
      .agg(sum(round(col("__ms"), 6).cast("decimal(18,6)"))
        .cast("double").as("maxsim"))
      .orderBy(col("maxsim").desc, col(docIdCol))
      .limit(k)

  /** Index health diagnostics for a materialized IVF-family index: cell
    * population statistics as one row — populated cells, min/max/mean
    * population, and the imbalance factor max/mean. At 100 TB this is the
    * number an operator watches: imbalance ≫ 1 means some cells carry a
    * disproportionate share of every probe (skewed serving latency) and
    * the index wants retraining with more iterations or a resharded
    * nlist. One column-pruned scan (id only) + one grouped count.
    */
  /** The cell-partitioned table of an IVF-family index: plain IVF stores
    * vectors under `data/`, IVF-PQ stores codes under `codes/` — every
    * cell-population question (health stats, the drift monitor's
    * occupancy reference) dispatches on the same layout rule, kept in
    * ONE place so a future layout can't silently diverge the two.
    */
  private[graft] def cellTableDir(spark: SparkSession,
                                  path: String): String = {
    val hp = new org.apache.hadoop.fs.Path(s"$path/data")
    val fs = hp.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(hp)) s"$path/data" else s"$path/codes"
  }

  /** TAKEDOWN over an IVF-family index: excise the given ids from the
    * cell table (data/ for plain IVF, codes/ for IVF-PQ — the
    * [[cellTableDir]] dispatch) with a CELL-PRUNED rewrite: one
    * column-pruned pass (id + the directory-derived cell, no vectors/
    * codes read) finds which cells hold the ids (≤ nlist ints,
    * bounded), then ONLY those leaves are rewritten — anti-join on the
    * id, staged atomic swap per leaf, untouched cells keep their files
    * byte-for-byte (the [[graft.sources.TextIndex.retract]]
    * discipline). Sidecars (centroids/codebooks/trained_meta) are
    * geometry, not membership — untouched. Idempotent: re-running for
    * absent ids is a no-op.
    */
  def retractFromIndex(spark: SparkSession, path: String,
                       ids: DataFrame, idsCol: String,
                       indexIdCol: String): Unit = {
    val table = cellTableDir(spark, path)
    // an index that never materialized holds nothing to excise
    if (!new java.io.File(table).exists()) return
    val keys = ids.select(col(idsCol).cast("long").as("__rid")).distinct()
      .localCheckpoint(true)
    try {
      val touched = spark.read.parquet(table)
        .select(col(indexIdCol).cast("long").as("__rid"), col("cell"))
        .join(broadcast(keys), Seq("__rid"), "left_semi")
        .select("cell").distinct()
        .collect().map(_.getInt(0)).toSeq
      graft.sources.Compaction.rewriteLeaves(spark, table, "cell", touched,
        df => df.join(broadcast(keys),
          df(indexIdCol).cast("long") === keys("__rid"), "left_anti"))
    } finally org.apache.spark.sql.GraftBridge.unpersistCheckpoint(keys)
  }

  def ivfIndexStats(spark: SparkSession, path: String): DataFrame = {
    val counts = spark.read.parquet(cellTableDir(spark, path))
      .groupBy("cell").agg(count(lit(1)).as("n"))
    val nlist = centroidCount(path) // footer metadata, no collect job
    counts.agg(count(lit(1)).as("cells_populated"),
        min("n").as("min_pop"), max("n").as("max_pop"),
        avg("n").as("mean_pop"))
      .select(lit(nlist).as("nlist"), col("cells_populated"),
        col("min_pop"), col("max_pop"),
        round(col("mean_pop"), 2).as("mean_pop"),
        round(col("max_pop") / col("mean_pop"), 4).as("imbalance"))
  }

  /** All buckets within hamming distance `hammingProbe` (0, 1 or 2) of
    * the base bucket: the exact bucket, every single bit flip, and — for
    * hamming 2 — every pair of flips. Multiprobe LSH: a near neighbor
    * that lands one or two hyperplanes on the wrong side sits in a
    * hamming-1/2 bucket, so probing those recovers most of the recall an
    * extra hash table would buy WITHOUT replicating the corpus again —
    * probe count is per-QUERY cost (1 + n + n(n−1)/2 at hamming 2, still
    * tiny), table count is per-CORPUS cost (another full copy in the
    * index).
    */
  private def probeSet(baseBucket: Column, nBits: Int,
                       hammingProbe: Int): Column = {
    require(hammingProbe >= 0 && hammingProbe <= 2,
      "hammingProbe 0 (exact), 1 (single-bit flips) or 2 (+pair flips)")
    val masks = hammingProbe match {
      case 0 => Seq.empty[Long]
      case 1 => (0 until nBits).map(i => 1L << i)
      case _ => (0 until nBits).map(i => 1L << i) ++
        (for (i <- 0 until nBits; j <- i + 1 until nBits)
          yield (1L << i) | (1L << j))
    }
    array(baseBucket +: masks.map(m => baseBucket.bitwiseXOR(lit(m))): _*)
  }

  /** Approximate top-k: candidates = union over hash tables of vectors in
    * the query's probed bucket(s), reranked exactly. Recall grows with
    * `tables` (corpus-side cost: the index replicates per table) and with
    * `hammingProbe` (query-side cost only: 1+nBits probes per table);
    * cost per query is |bucket| × probes instead of |corpus|.
    *
    * Planned as ONE equi-join on (table, bucket): the corpus explodes its
    * per-table buckets once and the query's (table, bucket) probe set is
    * broadcast — the probe cost is independent of the number of tables
    * (the previous form planned one join per table: `tables`× the stages,
    * and a union pipeline that grew with the parameter).
    */
  def lshTopK(corpus: DataFrame, idCol: String, vecCol: String,
              query: DataFrame, queryVecCol: String, k: Int,
              nBits: Int = 12, tables: Int = 4,
              hammingProbe: Int = 0): DataFrame = {
    def bucketsOf(vec: Column): Column = array((0 until tables).map(t =>
      Vectors.hyperplaneBucket(vec, nBits, tableSeed = t)): _*)
    val corpusBuckets = corpus.select(col(idCol), col(vecCol),
      posexplode(bucketsOf(col(vecCol))).as(Seq("__table", "__bucket")))
    val qBuckets = query
      .select(col(queryVecCol).as("__qvec"))
      .select(col("__qvec"),
        posexplode(bucketsOf(col("__qvec"))).as(Seq("__table", "__b0")))
      .select(col("__qvec"), col("__table"),
        explode(probeSet(col("__b0"), nBits, hammingProbe)).as("__bucket"))
    corpusBuckets.join(broadcast(qBuckets), Seq("__table", "__bucket"))
      .dropDuplicates(idCol)
      .select(col(idCol), Vectors.cosine(col(vecCol), col("__qvec")).as("score"))
      .orderBy(col("score").desc, col(idCol))
      .limit(k)
  }

  /** IVF-style ANN: partition the corpus into `nlist` Voronoi cells around
    * deterministic seed centroids (the lowest-id vectors — a k-means round
    * would refine them; seeds keep the operator fully deterministic), search
    * only the query's `nprobe` nearest cells, rerank exactly.
    *
    * Scale shape: the centroid set is tiny and bounded (like a broadcast
    * side), so it is collected once and inlined as literal vectors; cell
    * assignment is then a NARROW argmax — `nlist` codegen'd dots per row and
    * an `array_max` over (score, cid) structs — with no join, no window and
    * no shuffle of the corpus. (The previous form cross-joined the corpus
    * with the centroids and ranked with a `Window.partitionBy(id)`: a full
    * shuffle of nlist× the corpus keyed by a near-unique id — a
    * scale-killer.) The assigned table can be written partitioned by `cell`
    * so a query reads only nprobe partitions — the classic IVF pruning,
    * expressed as partition pruning.
    */
  /** Max-dot cell assignment — native [[graft.functions.CellArgmaxExpr]]
    * (centroids ride as a reference object, so the plan is one node and
    * the codegen source is centroid-independent: no per-iteration
    * analysis/Janino cost). Picks the highest score, ties to the lowest
    * cid — identical semantics to a row_number ranking, with no join and
    * no shuffle; bit-parity with the declarative form is pinned by
    * SimilaritySpec against [[bestCellForDeclarative]].
    */
  private[graft] def bestCellFor(cs: Seq[(Long, Seq[Double])])(vec: Column): Column =
    graft.functions.CellArgmax.bestCell(Vectors.toDouble(vec), cs)

  /** Top-`probes` cells by dot score as an array — soft assignment via
    * the same native expression ([[topCellsForDeclarative]] is the
    * executable spec). Same tie semantics as [[bestCellFor]] (its result
    * is always element 1 of this array).
    */
  private[graft] def topCellsFor(cs: Seq[(Long, Seq[Double])],
                          probes: Int)(vec: Column): Column =
    graft.functions.CellArgmax.topCells(Vectors.toDouble(vec), cs, probes)

  /** The replaced declarative cell argmax, kept as the executable
    * specification for the native expression's parity test: array_max
    * compares struct fields in order, so (score, -cid) picks the highest
    * score and breaks ties on lowest cid.
    */
  private[graft] def bestCellForDeclarative(cs: Seq[(Long, Seq[Double])])(vec: Column): Column = {
    val scored = cs.map { case (cid, cv) =>
      struct(Vectors.dot(vec, typedlit(cv)).as("score"),
        lit(-cid).as("ncid"))
    }
    -array_max(array(scored: _*)).getField("ncid")
  }

  /** The replaced declarative top-cells ranking (executable spec):
    * array_sort on (-score, cid) structs, slice keeps the best
    * `probes`. */
  private[graft] def topCellsForDeclarative(cs: Seq[(Long, Seq[Double])],
                          probes: Int)(vec: Column): Column = {
    val scored = cs.map { case (cid, cv) =>
      struct((-Vectors.dot(vec, typedlit(cv))).as("nscore"),
        lit(cid).as("cid"))
    }
    transform(slice(array_sort(array(scored: _*)), 1, probes),
      c => c.getField("cid"))
  }

  /** Deterministic seed centroids (lowest-id vectors of the full corpus)
    * plus optional Lloyd refinement: re-assign (narrow argmax, no join),
    * recompute per-cell componentwise means via a (cell, dim)-keyed
    * aggregate — the shuffle is N·dim scalar rows per iteration and the
    * collect is nlist·dim rows. Empty cells keep their previous centroid.
    * The result is tiny and bounded (like a broadcast side), so collecting
    * it to the driver is the IVF-standard move.
    *
    * `sampleFraction` < 1 trains on a seeded Bernoulli sample: centroid
    * QUALITY needs a representative sample, not the corpus — recall is
    * governed by nprobe, and the per-iteration N·dim shuffle shrinks by
    * the same fraction. At 100 TB this is the only sane setting (training
    * cost becomes independent of corpus growth); the assignment pass is
    * untouched. The projected train set is cached across Lloyd iterations
    * (each iteration re-reads it with new centroids) and released before
    * returning.
    */
  def trainCentroids(corpus: DataFrame, idCol: String, vecCol: String,
                     nlist: Int, kmeansIters: Int = 0,
                     sampleFraction: Double = 1.0): Seq[(Long, Seq[Double])] = {
    require(sampleFraction > 0.0 && sampleFraction <= 1.0,
      "sampleFraction must be in (0, 1]")
    val seeds = seedCentroids(corpus, idCol, vecCol, nlist)
    if (kmeansIters == 0) seeds
    else lloydRefine(corpus, vecCol, seeds, kmeansIters, sampleFraction)
  }

  /** The deterministic seed pass of [[trainCentroids]], exposed so a
    * caller holding an independent action (the recluster's lineage
    * checkpoint) can overlap the two jobs.
    */
  private[operators] def seedCentroids(corpus: DataFrame, idCol: String,
                                       vecCol: String, nlist: Int)
      : Seq[(Long, Seq[Double])] = {
    val seeds: Seq[(Long, Seq[Double])] =
      corpus.orderBy(col(idCol)).limit(nlist)
        .select(col(idCol).cast("long"), Vectors.toDouble(col(vecCol)))
        .collect()
        .map(r => (r.getLong(0), r.getSeq[Double](1)))
        .toSeq
    require(seeds.nonEmpty, "IVF needs a non-empty corpus")
    seeds
  }

  /** The Lloyd refinement of [[trainCentroids]] from given seeds —
    * identical iteration math (assign via the argmax semantics pinned by
    * SimilaritySpec's parity test, per-(cell, dim) means over non-null
    * elements, empty cells keep their previous centroid).
    *
    * Two execution shapes, chosen by the train set's size (the FAISS
    * convention: k-means trains on a BOUNDED in-memory sample, never the
    * corpus):
    *  - when the projected train set fits a broadcast-class driver budget
    *    (~32 MB of doubles), ONE bounded `take` collects it and the whole
    *    loop runs driver-side — the per-iteration (assign + collect) job
    *    pair disappears, so a k-iteration refine costs 1 job instead of
    *    k. Assignments call the SAME [[graft.functions.CellArgmaxExpr]]
    *    compute the distributed plan code-generates.
    *  - past the bound, the distributed loop below (persisted projection,
    *    one narrow assign + per-(cell, dim) mean job per iteration) —
    *    `sampleFraction` is the knob that brings a 100 TB corpus under
    *    the driver budget; full-fraction training past the bound stays
    *    distributed by construction.
    * The two shapes differ only in floating-point summation ORDER
    * (sequential vs per-partition partials merged) — the same low-bit
    * nondeterminism Spark's own partial aggregation already has across
    * partition layouts; every consumer (imbalance/recall floors, the
    * spec's behavioral assertions) is rounded far above it.
    */
  private[operators] def lloydRefine(corpus: DataFrame, vecCol: String,
                                     seeds: Seq[(Long, Seq[Double])],
                                     kmeansIters: Int,
                                     sampleFraction: Double = 1.0)
      : Seq[(Long, Seq[Double])] = {
    require(sampleFraction > 0.0 && sampleFraction <= 1.0,
      "sampleFraction must be in (0, 1]")
    val train = if (sampleFraction < 1.0)
      corpus.sample(withReplacement = false, sampleFraction, seed = 42L)
    else corpus
    val projPlan = train.select(Vectors.toDouble(col(vecCol)).as("v"))
    val dim0 = math.max(1, seeds.head._2.length)
    val rowBound = math.max(256, (1 << 22) / dim0)
    val taken = projPlan.take(rowBound + 1)
    if (taken.length <= rowBound)
      return lloydLocal(taken, seeds, kmeansIters)
    val proj = projPlan
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      (1 to kmeansIters).foldLeft(seeds) { (cs, _) =>
        val assigned = proj.select(
          bestCellFor(cs)(col("v")).as("cell"),
          posexplode(col("v")).as(Seq("dim", "x")))
        val means = assigned.groupBy("cell", "dim").agg(avg("x").as("m"))
          .collect()
          .groupBy(_.getLong(0))
          .map { case (cell, rows) =>
            cell -> rows.sortBy(_.getInt(1)).map(_.getDouble(2)).toSeq
          }
        cs.map { case (cid, cv) => (cid, means.getOrElse(cid, cv)) }
      }
    } finally proj.unpersist(false)
  }

  /** The driver-side Lloyd loop over a bounded collected train set —
    * same per-iteration math as the distributed shape: assignments via
    * [[graft.functions.CellArgmaxExpr.computeBest]] (null / ragged /
    * null-element vectors rank exactly as in the plan), means per
    * (cell, dim) over non-null elements (a null vector contributes to no
    * mean — the posexplode of the distributed form emits nothing for
    * it), cells with no contributing elements keep their previous
    * centroid. Dims whose contributions were ALL null are treated as
    * absent (the distributed form crashed on that degenerate input).
    */
  private def lloydLocal(rows: Array[org.apache.spark.sql.Row],
                         seeds: Seq[(Long, Seq[Double])],
                         kmeansIters: Int): Seq[(Long, Seq[Double])] = {
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    val vecs: Array[GenericArrayData] = rows.collect {
      case r if !r.isNullAt(0) =>
        new GenericArrayData(r.getSeq[Any](0).toArray)
    }
    (1 to kmeansIters).foldLeft(seeds) { (cs, _) =>
      val argmax = graft.functions.CellArgmaxExpr(
        org.apache.spark.sql.catalyst.expressions.Literal(null,
          org.apache.spark.sql.types.ArrayType(
            org.apache.spark.sql.types.DoubleType)), cs, 0)
      val acc = scala.collection.mutable.HashMap
        .empty[Long, scala.collection.mutable.HashMap[Int, (Double, Long)]]
      vecs.foreach { v =>
        val cell = argmax.computeBest(v)
        val m = acc.getOrElseUpdate(cell,
          scala.collection.mutable.HashMap.empty[Int, (Double, Long)])
        var i = 0
        val n = v.numElements()
        while (i < n) {
          if (!v.isNullAt(i)) {
            val (s, c) = m.getOrElse(i, (0.0, 0L))
            m.update(i, (s + v.getDouble(i), c + 1))
          }
          i += 1
        }
      }
      cs.map { case (cid, cv) =>
        (cid, acc.get(cid) match {
          case Some(m) if m.nonEmpty =>
            m.toSeq.sortBy(_._1).map { case (_, (s, c)) => s / c }
          case _ => cv
        })
      }
    }
  }

  /** The centroid sidecar read back (nlist rows — bounded driver state,
    * shared by every serve/append path of the IVF family).
    */
  private[operators] def readCentroids(spark: SparkSession,
                            path: String): Seq[(Long, Seq[Double])] =
    spark.read.parquet(s"$path/centroids")
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1)))
      .toSeq

  /** `nlist` = the sidecar's exact row count, read DRIVER-SIDE from the
    * parquet footers (the same metadata a scan planner reads) — the two
    * callers that need only the SIZE of the centroid set were paying a
    * full collect job for one integer. A tiny local file read is the
    * right cost class for bounded sidecar metadata at any scale.
    */
  private[operators] def centroidCount(path: String): Int = {
    val dir = new java.io.File(s"$path/centroids")
    val parts = Option(dir.listFiles()).getOrElse(Array.empty)
      .filter(f => f.isFile && f.getName.endsWith(".parquet"))
    require(parts.nonEmpty, s"no centroid sidecar at $dir")
    parts.map { f =>
      val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path(f.getAbsolutePath),
        new org.apache.hadoop.conf.Configuration())
      val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
      try r.getRecordCount finally r.close()
    }.sum.toInt
  }

  /** The single query vector collected ONCE (bounded: one row) — shared
    * by the guard, probe ranking and rerank literals of every single-query
    * serve path, so an un-materialized expensive query frame is evaluated
    * exactly once instead of per consumer.
    */
  private[operators] def collectSingleQuery(query: DataFrame,
                                            queryVecCol: String): Seq[Double] = {
    val qRows = query.select(Vectors.toDouble(col(queryVecCol))).take(2)
    require(qRows.length == 1,
      s"single-query ANN serving expects exactly one query row, got " +
        s"${qRows.length}+ — use the batched serves for query tables")
    qRows.head.getSeq[Double](0).toSeq
  }

  /** The query's nprobe nearest cell ids, ranked DRIVER-SIDE over the
    * bounded centroid set from the ONE collected query vector (see
    * [[collectSingleQuery]] — the query frame is evaluated exactly
    * once per serve, shared by guard, probe ranking and rerank). Same
    * (score desc, cid asc) tie semantics as [[topCellsFor]]; the dot sums
    * sequentially left-to-right exactly like the planned
    * [[Vectors.dot]], so driver and in-plan rankings agree bit-for-bit.
    */
  private[operators] def probeCellIds(q: Seq[Double],
                                      cents: Seq[(Long, Seq[Double])],
                                      nprobe: Int): Seq[Long] =
    cents.map { case (cid, cv) =>
        (cv.zip(q).map { case (a, b) => a * b }.sum, cid)
      }
      .sortBy { case (score, cid) => (-score, cid) }
      .take(nprobe).map(_._2)

  def ivfTopK(corpus: DataFrame, idCol: String, vecCol: String,
              query: DataFrame, queryVecCol: String, k: Int,
              nlist: Int = 16, nprobe: Int = 4,
              kmeansIters: Int = 0, sampleFraction: Double = 1.0): DataFrame = {
    val cents =
      trainCentroids(corpus, idCol, vecCol, nlist, kmeansIters, sampleFraction)
    val q = collectSingleQuery(query, queryVecCol)
    val cells = probeCellIds(q, cents, nprobe)
    corpus.select(col(idCol), col(vecCol),
        bestCellFor(cents)(col(vecCol)).as("cell"))
      .where(col("cell").isin(cells.toIndexedSeq: _*))
      .select(col(idCol), Vectors.cosine(col(vecCol), typedlit(q)).as("score"))
      .orderBy(col("score").desc, col(idCol))
      .limit(k)
  }

  /** Materialize the IVF index: the assigned corpus written PARTITIONED BY
    * cell (one directory per Voronoi cell) plus the trained centroids as a
    * tiny sidecar table. This converts IVF pruning into parquet partition
    * pruning: a query plans a scan whose PartitionFilters keep only its
    * nprobe cell directories — the other (nlist − nprobe)/nlist of the
    * corpus is never opened. Pay the assignment once at index-build time,
    * prune on every query — the 100 TB serving shape.
    */
  /** `attrCols` ride along in the cell partitions (metadata for FILTERED
    * search: a predicate over them evaluates inside the pruned scan —
    * parquet-pushable — instead of a post-hoc join back to the corpus).
    */
  def writeIvfIndex(corpus: DataFrame, idCol: String, vecCol: String,
                    path: String, nlist: Int = 16,
                    kmeansIters: Int = 0, sampleFraction: Double = 1.0,
                    attrCols: Seq[String] = Nil): Unit = {
    val cents =
      trainCentroids(corpus, idCol, vecCol, nlist, kmeansIters, sampleFraction)
    corpus.select(Seq(col(idCol), col(vecCol)) ++ attrCols.map(col) :+
        bestCellFor(cents)(col(vecCol)).as("cell"): _*)
      .write.mode("overwrite").partitionBy("cell").parquet(s"$path/data")
    val spark = corpus.sparkSession
    import spark.implicits._
    cents.toDF("cid", "cvec")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/centroids")
  }

  /** Append a new batch to a materialized IVF index: assign cells with
    * the EXISTING sidecar centroids (read back, bounded) and append to the
    * cell partition directories — the index a corpus-builder loop
    * maintains batch-over-batch without retraining. Centroids are frozen
    * at build time (the FAISS convention: retrain/rebuild when drift
    * matters, never mid-serve — readers meanwhile keep a consistent
    * geometry); the assignment pass is the same narrow argmax as the
    * build, touching only the batch.
    */
  def appendToIvfIndex(batch: DataFrame, idCol: String, vecCol: String,
                       path: String, attrCols: Seq[String] = Nil): Unit = {
    val cents = readCentroids(batch.sparkSession, path)
    // attrCols must match the build's (parquet would otherwise leave the
    // missing columns null on read — silently unfilterable rows)
    batch.select(Seq(col(idCol), col(vecCol)) ++ attrCols.map(col) :+
        bestCellFor(cents)(col(vecCol)).as("cell"): _*)
      .write.mode("append").partitionBy("cell").parquet(s"$path/data")
  }

  /** Re-cluster a materialized IVF index in place — the maintenance action
    * [[ivfIndexStats]]'s imbalance number calls for. Skewed APPENDS are the
    * expected degradation mode of the frozen-centroid contract: batches
    * drawn from a drifted distribution pile into few cells, every probe
    * then scans a disproportionate corpus share, and recall-per-nprobe
    * decays. The cure is the FAISS retrain convention done as a rebuild:
    * re-run Lloyd over the CURRENT index contents (optionally a sample),
    * re-assign every vector to the new Voronoi geometry, rewrite the cell
    * partitions, and swap the WHOLE index root via one
    * [[graft.sources.Compaction.replace]] rename pair. Data and centroid
    * sidecar are staged together under a single dot-prefixed
    * sibling and replace the root in one rename — swapping them with two
    * separate calls would open a window (crash between them, or a
    * rolled-back second swap) where vectors are partitioned by the NEW
    * geometry while probes rank cells with the OLD sidecar: silently
    * wrong serving and misassigned appends. With the parent swap no such
    * state exists: a crash leaves either the original root intact, or
    * (between retire and rename-in) no root at all — loud, and fully
    * recoverable from the `.<name>__retired` copy.
    *
    * Plain-IVF only (the index stores raw vectors, so geometry is the only
    * trainable state). For IVF-PQ the equivalent action is a rebuild from
    * the corpus ([[CellIndex.write]] — codebooks must retrain with the
    * geometry), which [[graft.ingest.CorpusPipeline]] triggers off the
    * same imbalance signal.
    *
    * `attrCols` are carried over automatically: every non-(id, vec) data
    * column rides through the rewrite unchanged.
    */
  def reclusterIvfIndex(spark: SparkSession, path: String, idCol: String,
                        vecCol: String, kmeansIters: Int = 5,
                        sampleFraction: Double = 1.0): Unit = {
    val raw = spark.read.parquet(s"$path/data").drop("cell")
    // nlist from the sidecar footers — no collect job for one integer
    val nlist = centroidCount(path)
    // the lineage checkpoint and the seed pass are independent bounded
    // actions over the same stored rows (the checkpoint severs lineage
    // from the files about to be swapped out; seeds collect BEFORE the
    // swap, so reading the pre-swap files gives the identical rows) —
    // overlap them (§2.6)
    var corpusV: DataFrame = null
    var seedsV: Seq[(Long, Seq[Double])] = null
    graft.sources.Compaction.parEach(Seq(
      () => corpusV = raw.localCheckpoint(true),
      () => seedsV = seedCentroids(raw, idCol, vecCol, nlist)
    ))(_.apply())
    val corpus = corpusV
    try {
      val cents =
        if (kmeansIters == 0) seedsV
        else lloydRefine(corpus, vecCol, seedsV, kmeansIters, sampleFraction)
      val attrCols = corpus.columns.toSeq
        .filterNot(c => c == idCol || c == vecCol)
      import spark.implicits._
      // replace starts from a fresh staging dir: copyExtraSidecars copies
      // by filename and would MERGE new sidecar part-files into a crashed
      // run's survivors (two conflicting trained_meta rows, say)
      graft.sources.Compaction.replace(path, "reclustering") { staging =>
        // the two staged writes are independent (data from the
        // checkpointed corpus, sidecar from the driver-held centroids) —
        // overlap their jobs; the swap is still the single commit
        graft.sources.Compaction.parEach(Seq(
          () => corpus.select(Seq(col(idCol), col(vecCol)) ++
              attrCols.map(col) :+
              bestCellFor(cents)(col(vecCol)).as("cell"): _*)
            .write.partitionBy("cell")
            .parquet(new java.io.File(staging, "data").toString),
          () => cents.toDF("cid", "cvec").coalesce(1).write
            .parquet(new java.io.File(staging, "centroids").toString)
        ))(_.apply())
        // any other sidecar at the root (e.g. a trained_meta written by a
        // maintenance loop) rides through the swap by COPY — the original
        // stays complete until the single parent rename
        copyExtraSidecars(new java.io.File(path), staging,
          keep = Set("data", "centroids"))
        true
      }
    } finally org.apache.spark.sql.GraftBridge.unpersistCheckpoint(corpus)
  }

  /** Copy every top-level entry of `root` not in `keep` into `staging`,
    * so a whole-root swap preserves sidecars the rewrite did not
    * regenerate. Exclusions are narrow by design: dot-prefixed entries
    * are staging/retired dirs of the swap machinery itself (copying one
    * would resurrect crash garbage), and `_`-prefixed DIRECTORIES are
    * Spark metadata dirs — but `_`-prefixed plain FILES carry real
    * state ([[graft.ingest.CorpusPipeline]]'s `_maint_appends`
    * compaction-cadence counter lives at the index root) and must ride
    * through the swap like any other sidecar, or every recluster would
    * silently reset the maintenance cadence.
    */
  private def copyExtraSidecars(root: java.io.File, staging: java.io.File,
                                keep: Set[String]): Unit = {
    def copy(src: java.io.File, dst: java.io.File): Unit =
      if (src.isDirectory) {
        dst.mkdirs()
        Option(src.listFiles()).getOrElse(Array.empty)
          .foreach(f => copy(f, new java.io.File(dst, f.getName)))
      } else
        java.nio.file.Files.copy(src.toPath, dst.toPath,
          java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    Option(root.listFiles()).getOrElse(Array.empty)
      .filterNot(f => keep.contains(f.getName))
      .filterNot(f => f.getName.startsWith("."))
      .filterNot(f => f.getName.startsWith("_") && f.isDirectory)
      .foreach(f => copy(f, new java.io.File(staging, f.getName)))
  }

  /** Approximate top-k served FROM a materialized index: reads the sidecar
    * centroids (nlist rows), ranks cells for the query, and scans only the
    * nprobe matching partitions of the index (partition pruning — assert
    * `PartitionFilters` in the scan node).
    *
    * `filter` is an optional metadata predicate over `attrCols` the index
    * was built with — FILTERED search (the vector-database contract:
    * "nearest neighbors WHERE label = x"). It lands between the partition
    * pruning and the cosine, so it reaches the parquet scan as a pushed
    * data filter (`PushedFilters`) over the probed cells only: no post-hoc
    * join back to the corpus, no scoring of rows the predicate rejects.
    * Semantics are post-filtering WITHIN the probed cells, so recall
    * against the filtered brute-force truth degrades as the predicate gets
    * more selective (fewer matching rows per probed cell) — raise nprobe
    * with selectivity; `ann_ivf_filtered_recall` prices the fixture point.
    */
  def ivfTopKFromIndex(spark: SparkSession, path: String, idCol: String,
                       vecCol: String, query: DataFrame, queryVecCol: String,
                       k: Int, nprobe: Int = 4,
                       filter: Option[Column] = None): DataFrame = {
    val cents = readCentroids(spark, path)
    val q = collectSingleQuery(query, queryVecCol)
    val cells = probeCellIds(q, cents, nprobe) // bounded like cents
    spark.read.parquet(s"$path/data")
      .where(col("cell").isin(cells.toIndexedSeq: _*)) // → parquet PartitionFilters
      .transform(df => filter.fold(df)(df.where)) // → parquet PushedFilters
      // lazy-takedown overlay: tombstoned ids never serve (broadcast
      // anti-join over the probed cells only; identity when absent)
      .transform(graft.sources.Tombstones.exclude(_, path, col(idCol)))
      .select(col(idCol), Vectors.cosine(col(vecCol), typedlit(q)).as("score"))
      .orderBy(col("score").desc, col(idCol))
      .limit(k)
  }

  /** BATCHED IVF serving: a whole query TABLE answered in ONE plan — the
    * [[semanticDupAgainstIndex]] shape given top-k semantics. Each query
    * row soft-assigns to its `nprobe` nearest cells in-plan (narrow
    * [[topCellsFor]] + explode), the index scan is pruned to the UNION of
    * probed cell directories (bounded list collected → parquet
    * PartitionFilters), the equi-join on `cell` restricts every query to
    * ITS OWN cells, and a per-query window takes the top k. Per-query
    * results are IDENTICAL to looping [[ivfTopKFromIndex]] (same cell
    * ranking and tie semantics — pinned by `ann_ivf_batched_recall` at
    * floor 1.0) but the job count is independent of the batch size: a
    * 10k-query retrieval batch is one Spark job, not 10k.
    *
    * The candidate shuffle (the window's) is keyed by `query_id` and
    * carries only (query_id, id, score) — candidates per query are
    * bounded by the probed cells' population. `queries` is evaluated
    * twice (cell-list collect + join); localCheckpoint expensive query
    * pipelines first. Returns (query_id, idCol, score).
    */
  def ivfBatchTopKFromIndex(spark: SparkSession, path: String, idCol: String,
                            vecCol: String, queries: DataFrame,
                            queryIdCol: String, queryVecCol: String,
                            k: Int, nprobe: Int = 4,
                            filter: Option[Column] = None): DataFrame = {
    val cents = readCentroids(spark, path)
    val assigned = queries.select(col(queryIdCol).as("query_id"),
      Vectors.toDouble(col(queryVecCol)).as("__qvec"),
      explode(topCellsFor(cents, nprobe)(col(queryVecCol))).as("cell"))
    // the batch's probed cell set — bounded by min(nlist, batch·nprobe)
    val cells = assigned.select("cell").distinct()
      .collect().map(_.getLong(0))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("query_id").orderBy(col("score").desc, col(idCol))
    spark.read.parquet(s"$path/data")
      .where(col("cell").isin(cells.toIndexedSeq: _*)) // → parquet PartitionFilters
      .transform(df => filter.fold(df)(df.where)) // → parquet PushedFilters
      // lazy-takedown overlay, as in [[ivfTopKFromIndex]]
      .transform(graft.sources.Tombstones.exclude(_, path, col(idCol)))
      .select(col("cell"), col(idCol), col(vecCol))
      .join(broadcast(assigned), "cell")
      .select(col("query_id"), col(idCol),
        Vectors.cosine(col(vecCol), col("__qvec")).as("score"))
      .withColumn("__rank", row_number().over(w))
      .where(col("__rank") <= k).drop("__rank")
  }

  /** Semantic near-dup matches of an arriving batch against an INDEXED
    * corpus — [[Dedup.dedupAgainstIndex]]'s move applied to embeddings:
    * the batch soft-assigns to its `probes` nearest cells with the FROZEN
    * sidecar centroids, the IVF index (which stores raw vectors,
    * partitioned by cell) is scanned ONLY in those cell directories
    * (bounded cell list collected → parquet PartitionFilters), and
    * candidates are verified by exact cosine — so precision is exact and
    * the corpus is never read outside the batch's cells. Recall is
    * bounded by cell co-residence exactly like [[semanticDupPairs]];
    * `emb_semdedup_incremental_recall` prices it. Returns
    * (new_id, corpus_id, cosine).
    *
    * This is the corpus-builder's semantic gate: a batch's near-dups of
    * ALREADY-INGESTED documents surface without recomputing corpus-side
    * anything — the index was paid for at build/append time.
    */
  def semanticDupAgainstIndex(batch: DataFrame, idCol: String,
                              vecCol: String, path: String,
                              threshold: Double,
                              probes: Int = 2): DataFrame = {
    val spark = batch.sparkSession
    val cents = readCentroids(spark, path)
    val assigned = batch.select(
        col(idCol).as("new_id"),
        Vectors.toDouble(col(vecCol)).as("__v"),
        explode(topCellsFor(cents, probes)(col(vecCol))).as("cell"))
    // the batch's probed cell set is bounded by min(nlist, batch·probes) —
    // collected so the corpus scan prunes at the DIRECTORY level instead
    // of joining against every cell
    val cells = assigned.select("cell").distinct()
      .collect().map(_.getLong(0))
    val corpus = spark.read.parquet(s"$path/data")
      .where(col("cell").isin(cells.toIndexedSeq: _*)) // → parquet PartitionFilters
      // lazy-takedown overlay: a batch's near-dup of a TOMBSTONED doc
      // is novel content — it must not be attributed to a document that
      // is logically gone (the [[graft.sources.Tombstones]] contract)
      .transform(graft.sources.Tombstones.exclude(_, path, col(idCol)))
      .select(col("cell"), col(idCol).as("corpus_id"),
        Vectors.toDouble(col(vecCol)).as("__cv"))
    assigned.join(corpus, "cell")
      .where(col("new_id") =!= col("corpus_id"))
      .dropDuplicates("new_id", "corpus_id") // multi-probe collisions
      .select(col("new_id"), col("corpus_id"),
        Vectors.cosine(col("__v"), col("__cv")).as("cosine"))
      .where(col("cosine") >= threshold)
  }

  /** Single-query serve of an IVF-PQ [[CellIndex]] (codes under `codes/`,
    * `centroids` + `codebooks` sidecars): the probed cells' codes are
    * ADC-scored and the candidates reranked against `rawCorpus` — the
    * [[CellIndex.topK]] plan, under the name the benchmark harness calls.
    */
  def ivfPqTopKFromIndex(spark: SparkSession, path: String,
                         rawCorpus: DataFrame, idCol: String, vecCol: String,
                         query: DataFrame, queryVecCol: String, k: Int,
                         nprobe: Int = 4, oversample: Int = 4,
                         filter: Option[Column] = None): DataFrame =
    CellIndex(path, Pq.Codec(), nprobe = nprobe).topK(spark, idCol, vecCol,
      query, queryVecCol, k, oversample, filter, Some(rawCorpus))

  /** Materialize the LSH index: the corpus posexploded to one row per
    * (table, bucket) membership, written PARTITIONED BY (table, bucket),
    * plus a tiny sidecar recording the (nBits, tables) parameters. This is
    * the [[writeIvfIndex]] move applied to LSH: bucket probing becomes
    * parquet partition pruning — a query opens only its `tables` probe
    * directories out of tables·2^nBits, instead of re-bucketing the corpus
    * per call (which is what back-to-back [[lshTopK]] calls pay). The
    * corpus is replicated `tables`× in the index — the standard
    * multi-table LSH space-for-recall trade; pay it once at build time.
    */
  def writeLshIndex(corpus: DataFrame, idCol: String, vecCol: String,
                    path: String, nBits: Int = 12, tables: Int = 4): Unit = {
    corpus.select(col(idCol), col(vecCol),
        posexplode(array((0 until tables).map(t =>
          Vectors.hyperplaneBucket(col(vecCol), nBits, tableSeed = t)): _*))
          .as(Seq("table", "bucket")))
      .write.mode("overwrite").partitionBy("table", "bucket")
      .parquet(s"$path/data")
    val spark = corpus.sparkSession
    import spark.implicits._
    Seq((nBits, tables)).toDF("n_bits", "tables")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/meta")
  }

  /** Append a new batch to a materialized LSH index: bucket with the
    * EXISTING sidecar parameters (nBits/tables — hyperplanes are derived
    * from the table seed, so stored and appended rows always hash
    * identically) and append to the (table, bucket) partitions. The
    * tables× replication applies to the batch only.
    */
  def appendToLshIndex(batch: DataFrame, idCol: String, vecCol: String,
                       path: String): Unit = {
    val meta = batch.sparkSession.read.parquet(s"$path/meta").collect().head
    val (nBits, tables) = (meta.getInt(0), meta.getInt(1))
    batch.select(col(idCol), col(vecCol),
        posexplode(array((0 until tables).map(t =>
          Vectors.hyperplaneBucket(col(vecCol), nBits, tableSeed = t)): _*))
          .as(Seq("table", "bucket")))
      .write.mode("append").partitionBy("table", "bucket")
      .parquet(s"$path/data")
  }

  /** Approximate top-k served FROM a materialized LSH index: reads the
    * sidecar params, computes the query's `tables` probe buckets (bounded
    * driver state, like the IVF probe cells), and scans only the matching
    * (table, bucket) partitions — assert `PartitionFilters` in the scan
    * node. Candidates are deduplicated across tables before the exact
    * rerank, exactly as [[lshTopK]] does.
    */
  /** TAKEDOWN over the (table, bucket)-partitioned LSH index — the
    * [[retractFromIndex]] discipline under the two-level layout: a doc
    * lives in exactly `tables` leaves, so one column-pruned pass (id +
    * the directory-derived table/bucket, no vectors read) finds the
    * touched (table, bucket) pairs (≤ |ids|·tables, bounded) and ONLY
    * those leaves rewrite — anti-join on the id, staged atomic swap per
    * leaf, overlapped via [[graft.sources.Compaction.parEach]]. The
    * meta sidecar (nBits, tables) is geometry, untouched. Idempotent.
    */
  def retractFromLshIndex(spark: SparkSession, path: String,
                          ids: DataFrame, idsCol: String,
                          indexIdCol: String): Unit = {
    val table = s"$path/data"
    if (!new java.io.File(table).exists()) return
    val keys = ids.select(col(idsCol).cast("long").as("__rid")).distinct()
      .localCheckpoint(true)
    try {
      // partition-column values read back type-inferred from directory
      // names (a small bucket parses as int) — cast both explicitly
      val touched = spark.read.parquet(table)
        .select(col(indexIdCol).cast("long").as("__rid"),
          col("table").cast("int").as("table"),
          col("bucket").cast("long").as("bucket"))
        .join(broadcast(keys), Seq("__rid"), "left_semi")
        .select("table", "bucket").distinct()
        .collect().map(r => (r.getInt(0), r.getLong(1))).toSeq
      // ONE pruned scan + dynamic write + per-leaf swaps over the
      // two-level (table, bucket) layout — the same one-job takedown
      // shape as every single-level index (job count O(1), not
      // O(|ids|·tables))
      graft.sources.Compaction.rewriteLeavesN(spark, table,
        Seq("table", "bucket"), touched.map { case (t, b) => Seq(t, b) },
        df => df.join(broadcast(keys),
          df(indexIdCol).cast("long") === keys("__rid"), "left_anti"))
    } finally org.apache.spark.sql.GraftBridge.unpersistCheckpoint(keys)
  }

  def lshTopKFromIndex(spark: SparkSession, path: String, idCol: String,
                       vecCol: String, query: DataFrame, queryVecCol: String,
                       k: Int, hammingProbe: Int = 0): DataFrame = {
    val meta = spark.read.parquet(s"$path/meta").collect().head
    val (nBits, tables) = (meta.getInt(0), meta.getInt(1))
    val exact: Seq[(Int, Long)] = query
      .select(posexplode(array((0 until tables).map(t =>
        Vectors.hyperplaneBucket(col(queryVecCol), nBits, tableSeed = t)): _*))
        .as(Seq("__table", "__bucket")))
      .collect().map(r => (r.getInt(0), r.getLong(1))).toSeq
    // multiprobe widens the probe LIST, not the index: hamming-1 flips are
    // extra pruned partitions per table — (1+nBits)·tables directories,
    // still bounded driver state
    val probes: Seq[(Int, Long)] =
      if (hammingProbe == 0) exact
      else exact.flatMap { case (t, b) =>
        (t, b) +: (0 until nBits).map(i => (t, b ^ (1L << i)))
      }.distinct
    val pruned = probes.map { case (t, bkt) =>
      col("table") === t && col("bucket") === bkt
    }.reduce(_ || _) // → parquet PartitionFilters (partition cols only)
    val qvec = broadcast(query.select(col(queryVecCol).as("__qvec")))
    spark.read.parquet(s"$path/data")
      .where(pruned)
      // lazy-takedown overlay ([[graft.sources.Tombstones]])
      .transform(graft.sources.Tombstones.exclude(_, path, col(idCol)))
      .dropDuplicates(idCol)
      .crossJoin(qvec)
      .select(col(idCol), Vectors.cosine(col(vecCol), col("__qvec")).as("score"))
      .orderBy(col("score").desc, col(idCol))
      .limit(k)
  }

  /** BATCHED LSH serving — [[ivfBatchTopKFromIndex]]'s contract for the
    * (table, bucket)-partitioned LSH index: every query row computes its
    * probe buckets in-plan (the same hyperplane expressions the index was
    * built with), the scan is pruned to the UNION of probed partitions
    * (bounded list collected → parquet PartitionFilters), the equi-join on
    * (table, bucket) restricts each query to ITS OWN probes, candidates
    * dedup per (query, id) across tables exactly like [[lshTopKFromIndex]],
    * and a per-query window takes the top k. Job count independent of
    * batch size; per-query results identical to the loop (pinned by
    * `ann_lsh_batched_recall` at floor 1.0). Returns (query_id, idCol,
    * score).
    */
  def lshBatchTopKFromIndex(spark: SparkSession, path: String, idCol: String,
                            vecCol: String, queries: DataFrame,
                            queryIdCol: String, queryVecCol: String,
                            k: Int, hammingProbe: Int = 0): DataFrame = {
    val meta = spark.read.parquet(s"$path/meta").collect().head
    val (nBits, tables) = (meta.getInt(0), meta.getInt(1))
    val probes = queries
      .select(col(queryIdCol).as("query_id"), col(queryVecCol).as("__qvec"),
        posexplode(array((0 until tables).map(t =>
          Vectors.hyperplaneBucket(col(queryVecCol), nBits, tableSeed = t)): _*))
          .as(Seq("table", "__b0")))
      .select(col("query_id"), col("__qvec"), col("table"),
        explode(probeSet(col("__b0"), nBits, hammingProbe)).as("bucket"))
    // the batch's probed (table, bucket) set — bounded by
    // batch·tables·(1+nBits), like the IVF cell list
    val pairs = probes.select("table", "bucket").distinct()
      .collect().map(r => (r.getInt(0), r.getLong(1)))
    require(pairs.nonEmpty, "LSH batch serving got an empty query table")
    val pruned = pairs.map { case (t, b) =>
      col("table") === t && col("bucket") === b
    }.reduce(_ || _) // → parquet PartitionFilters (partition cols only)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("query_id").orderBy(col("score").desc, col(idCol))
    spark.read.parquet(s"$path/data")
      .where(pruned)
      // lazy-takedown overlay ([[graft.sources.Tombstones]])
      .transform(graft.sources.Tombstones.exclude(_, path, col(idCol)))
      .join(broadcast(probes), Seq("table", "bucket"))
      .dropDuplicates("query_id", idCol) // multi-table collisions
      .select(col("query_id"), col(idCol),
        Vectors.cosine(col(vecCol), col("__qvec")).as("score"))
      .withColumn("__rank", row_number().over(w))
      .where(col("__rank") <= k).drop("__rank")
  }

  /** Near-duplicate pairs via LSH blocking: pairs are generated only
    * within a hyperplane bucket (an equi-join, never a cross product) and
    * verified by exact cosine. Precision is exact (every emitted pair
    * really clears the threshold); recall grows with `tables` and shrinks
    * with `nBits` — at scale, nBits tunes the block size so each bucket's
    * quadratic stays bounded. This is the 100 TB form of
    * [[cosineNearDupPairs]]; measure its recall against the exact operator
    * with a small sample (see the `emb_neardup_recall` query).
    *
    * Planned as ONE corpus scan + ONE self-equi-join on (table, bucket):
    * each row posexplodes its per-table buckets (the same move as
    * [[lshTopK]]), so "pairs colliding in ANY table" is a single join —
    * the previous form ran `tables` separate scans+self-joins and unioned
    * them: 8× the read at 100 TB. Candidate pairs are deduplicated BEFORE
    * the cosine verify, so multi-table collisions cost one dot product.
    * Cosine arithmetic is identical to [[cosineNearDupPairs]] (dot/(‖a‖‖b‖)
    * on double-cast vectors), so the emitted pair set is bit-identical to
    * the old per-table union.
    */
  def lshBlockedNearDupPairs(df: DataFrame, idCol: String, vecCol: String,
                             threshold: Double, nBits: Int = 2,
                             tables: Int = 8): DataFrame = {
    // buckets computed on the RAW vector column (same seeds as before —
    // recall characteristics unchanged); cast + norm once per vector
    val base = df.select(col(idCol).as("id"),
        Vectors.toDouble(col(vecCol)).as("v"),
        posexplode(array((0 until tables).map(t =>
          Vectors.hyperplaneBucket(col(vecCol), nBits, tableSeed = t)): _*))
          .as(Seq("__table", "__bucket")))
      .withColumn("nrm", Vectors.l2Norm(col("v")))
    verifiedPairsWithin(base, Seq("__table", "__bucket"), threshold)
  }

  /** The shared block-join verify: self-equi-join a prepared
    * (blockKeys..., id, v, nrm) frame on its block keys, dedup candidate
    * pairs BEFORE the cosine (a multi-block collision costs one dot
    * product), verify exactly. Used by the LSH-blocked and
    * soft-assignment-semantic pair generators — one implementation, one
    * set of zero-norm/tie semantics.
    */
  private def verifiedPairsWithin(base: DataFrame, blockKeys: Seq[String],
                                  threshold: Double): DataFrame = {
    val a = base.select(blockKeys.map(col) ++ Seq(col("id").as("id_a"),
      col("v").as("v_a"), col("nrm").as("nrm_a")): _*)
    val b = base.select(blockKeys.map(col) ++ Seq(col("id").as("id_b"),
      col("v").as("v_b"), col("nrm").as("nrm_b")): _*)
    val denom = col("nrm_a") * col("nrm_b")
    a.join(b, blockKeys)
      .where(col("id_a") < col("id_b"))
      .dropDuplicates("id_a", "id_b")
      .select(col("id_a"), col("id_b"),
        when(denom === 0, lit(null))
          .otherwise(Vectors.dot(col("v_a"), col("v_b")) / denom)
          .as("cosine"))
      .where(col("cosine") >= threshold)
  }

  /** SemDeDup-style semantic near-dup pairs (Abbas et al. 2023): k-means
    * cells play the blocking key, so pairwise cosine runs only WITHIN a
    * cluster — the published recipe for semantic dedup at web scale.
    * Composition of two existing pieces: [[trainCentroids]] (bounded,
    * sampled driver state) supplies the cells, [[cosineNearDupPairs]] with
    * the cell as `blockCols` does the verified within-cell quadratic.
    * Precision is exact (every pair clears the threshold); recall is
    * bounded by same-cell co-residence — the `emb_semdedup_recall` query
    * prices that trade against the exact global pair set. At 100 TB the
    * per-cell quadratic is the knob: nlist scales with corpus size to hold
    * cell populations flat.
    */
  def semanticDupPairs(df: DataFrame, idCol: String, vecCol: String,
                       threshold: Double, nlist: Int = 16,
                       kmeansIters: Int = 2, sampleFraction: Double = 1.0,
                       probes: Int = 1): DataFrame = {
    val cents =
      trainCentroids(df, idCol, vecCol, nlist, kmeansIters, sampleFraction)
    if (probes <= 1)
      return cosineNearDupPairs(df, idCol, vecCol, threshold,
        blockCols = Seq(bestCellFor(cents)(col(vecCol))))
    // soft assignment: each vector joins its top-`probes` cells (the IVF
    // nprobe move applied to dedup blocking — pairs near a Voronoi
    // boundary stop being invisible). Corpus replicated probes×;
    // structurally lshBlockedNearDupPairs with learned cells instead of
    // random hyperplanes, sharing its verify join.
    val base = df.select(col(idCol).as("id"),
        Vectors.toDouble(col(vecCol)).as("v"),
        explode(topCellsFor(cents, probes)(col(vecCol))).as("__cell"))
      .withColumn("nrm", Vectors.l2Norm(col("v")))
    verifiedPairsWithin(base, Seq("__cell"), threshold)
  }

  /** Semantic dedup proper: one survivor (min id) per connected component
    * of the within-cluster near-dup graph — transitive, like
    * `Components.keepComponentMinima` everywhere else in the engine, so
    * A~B~C collapses to {A} even when the A~C edge is below threshold.
    */
  def semanticDedup(df: DataFrame, idCol: String, vecCol: String,
                    threshold: Double, nlist: Int = 16,
                    kmeansIters: Int = 2, sampleFraction: Double = 1.0,
                    probes: Int = 1): DataFrame =
    Components.keepComponentMinima(df, idCol,
      semanticDupPairs(df, idCol, vecCol, threshold, nlist, kmeansIters,
        sampleFraction, probes),
      "id_a", "id_b")

  /** Exact near-duplicate pairs by cosine ≥ threshold. `blockCols` (e.g. a
    * coarse LSH bucket or a label) bound the quadratic blow-up: the join is
    * an equi-join on the block key. Pass an empty Seq for the (small-data
    * only) full cross product.
    */
  def cosineNearDupPairs(df: DataFrame, idCol: String, vecCol: String,
                         threshold: Double,
                         blockCols: Seq[Column] = Seq.empty): DataFrame = {
    // cast + norm once per VECTOR, carried through the join as scalar
    // columns; per-pair work is exactly one dot product. The arithmetic
    // stays dot/(nā·nb̄) so results are bit-identical to the naive form.
    val base = df.select(col(idCol) +:
      Vectors.toDouble(col(vecCol)).as("v") +:
      blockCols.zipWithIndex.map { case (c, i) => c.as(s"blk_$i") }: _*)
      .withColumn("nrm", Vectors.l2Norm(col("v")))
    val blkNames = blockCols.indices.map(i => s"blk_$i")
    val a = base.select(col(idCol).as("id_a") +: col("v").as("v_a") +:
      col("nrm").as("nrm_a") +: blkNames.map(col): _*)
    val b = base.select(col(idCol).as("id_b") +: col("v").as("v_b") +:
      col("nrm").as("nrm_b") +: blkNames.map(col): _*)
    val joined =
      if (blkNames.isEmpty) a.crossJoin(b)
      else a.join(b, blkNames.toSeq)
    val denom = col("nrm_a") * col("nrm_b")
    joined.where(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        when(denom === 0, lit(null))
          .otherwise(Vectors.dot(col("v_a"), col("v_b")) / denom)
          .as("cosine"))
      .where(col("cosine") >= threshold)
  }
}
