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
    * the index family: [[CellIndex.batchTopK]] with an over-fetch
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

  /** Index health diagnostics for a materialized IVF-family index: cell
    * population statistics as one row — populated cells, min/max/mean
    * population, and the imbalance factor max/mean. At 100 TB this is the
    * number an operator watches: imbalance ≫ 1 means some cells carry a
    * disproportionate share of every probe (skewed serving latency) and
    * the index wants retraining with more iterations or a resharded
    * nlist. One column-pruned scan (id only) + one grouped count.
    */
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

  /** The XOR masks reaching every bucket within hamming distance
    * `hammingProbe` (0, 1 or 2) of a base bucket: none, every single bit
    * flip, and — for hamming 2 — every pair of flips. Multiprobe LSH: a
    * near neighbor that lands one or two hyperplanes on the wrong side
    * sits in a hamming-1/2 bucket, so probing those recovers most of the
    * recall an extra hash table would buy WITHOUT replicating the corpus
    * again — probe count is per-QUERY cost (1 + n + n(n−1)/2 at hamming
    * 2, still tiny), table count is per-CORPUS cost (another full copy in
    * the index).
    */
  private[operators] def probeMasks(nBits: Int,
                                    hammingProbe: Int): Seq[Long] = {
    require(hammingProbe >= 0 && hammingProbe <= 2,
      "hammingProbe 0 (exact), 1 (single-bit flips) or 2 (+pair flips)")
    hammingProbe match {
      case 0 => Seq.empty[Long]
      case 1 => (0 until nBits).map(i => 1L << i)
      case _ => (0 until nBits).map(i => 1L << i) ++
        (for (i <- 0 until nBits; j <- i + 1 until nBits)
          yield (1L << i) | (1L << j))
    }
  }

  /** [[probeMasks]] applied in-plan: the probed buckets as an array, the
    * base bucket first. */
  private[operators] def probeSet(baseBucket: Column, nBits: Int,
                                  hammingProbe: Int): Column =
    array(baseBucket +: probeMasks(nBits, hammingProbe)
      .map(m => baseBucket.bitwiseXOR(lit(m))): _*)

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
    * shared by every serve/append path of the IVF family), once per
    * commit of the sidecar ([[graft.sources.SidecarCache]]).
    */
  private[operators] def readCentroids(spark: SparkSession,
                            path: String): Seq[(Long, Seq[Double])] =
    graft.sources.SidecarCache.memo(spark, s"$path/centroids", "centroids") {
      spark.read.parquet(s"$path/centroids")
        .collect()
        .map(r => (r.getLong(0), r.getSeq[Double](1)))
        .toSeq
    }

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
    CellIndex(path, CellAssigner.Voronoi(nprobe = nprobe), Pq.Codec())
      .topK(spark, idCol, vecCol, query, queryVecCol, k, oversample, filter,
        Some(rawCorpus))

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
