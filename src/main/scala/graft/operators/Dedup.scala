package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.TextAnalysis

/** Deduplication operators for large-scale text corpora.
  *
  * Scale design notes (100 TB target):
  *  - Exact dedup is one hash-shuffle on the dedup key — the minimum possible
  *    data movement; partial (map-side) aggregation means only one record per
  *    (partition, key) crosses the wire.
  *  - MinHash signatures are computed as narrow codegen'd expressions (no
  *    shuffle); only the (band, bandHash) pairs — a few ints per doc — are
  *    shuffled for bucketing, never the documents themselves. Candidate
  *    verification re-joins only the bucket-colliding minority.
  *  - SimHash dedup needs only a 64-bit signature per doc; near-dup lookup is
  *    an equi-join on rotated bit-blocks (pigeonhole), not an O(n²) scan.
  */
object Dedup {

  /** Exact dedup: keep the lowest id per distinct value of `keyCols`.
    * One shuffle on the key; survives any scale with AQE skew handling.
    */
  def exact(df: DataFrame, idCol: String, keyCols: Seq[String]): DataFrame =
    df.groupBy(keyCols.map(col): _*)
      .agg(min(col(idCol)).as(idCol), count(lit(1)).as("n_copies"))

  /** Exact dedup with a QUALITY survivor policy: per duplicate group,
    * keep the row maximizing `qualityCol` (id ascending as tie-break)
    * instead of the arbitrary lowest id — near-universal in corpus
    * curation, where copies differ in upstream metadata (a longer scrape,
    * a higher quality score) and "first seen" throws the best one away.
    * Same single shuffle as [[exact]] — a max_by struct aggregation, no
    * window, no second pass. Returns the full surviving rows plus
    * `n_copies`.
    */
  def exactBest(df: DataFrame, idCol: String, keyCols: Seq[String],
                qualityCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(keyCols.map(col): _*)
      .orderBy(col(qualityCol).desc, col(idCol))
    df.withColumn("__dd_rn", row_number().over(w))
      .withColumn("n_copies",
        count(lit(1)).over(Window.partitionBy(keyCols.map(col): _*)))
      .where(col("__dd_rn") === 1)
      .drop("__dd_rn")
  }

  // MinHash over 2^31 hash space: h_i(s) = (a_i·x + b_i) mod p, x = base
  // shingle hash folded into [0, 2^31). Coefficients are kept < 2^31 so
  // a·x < 2^62 never overflows a signed long (ANSI mode makes overflow an
  // error, not a wrap). Textbook universal-hash scheme.
  private val P = 2147483647L // 2^31 - 1 (Mersenne prime)
  private def aCoef(i: Int): Long = (2654435761L * (i * 2 + 1)) % P + 1
  private def bCoef(i: Int): Long = (40503L * (i + 7) * (i + 13) + 17L) % P

  /** MinHash signature from a pre-computed shingle array.
    *
    * Implemented as ONE fold over the shingles with a `numHashes`-wide
    * running-min accumulator — not `numHashes` separate `array_min`
    * projections, which would re-evaluate the shingle extraction and base
    * hash once per permutation (measured ~30× slowdown: subexpression
    * elimination does not reach inside lambda bodies). Each shingle is
    * xxhash64'd exactly once; the per-permutation work is two integer ops.
    * Null/empty shingle set → null signature (never LSH-matches).
    */
  def sigFromShingles(sh: Column, numHashes: Int): Column = {
    val params = array((0 until numHashes).map(i =>
      struct(lit(aCoef(i)).as("a"), lit(bCoef(i)).as("b"))): _*)
    val folded = aggregate(
      sh,
      array_repeat(lit(P), numHashes),
      (acc, s) => {
        val x = pmod(xxhash64(s), lit(2147483648L))
        zip_with(acc, params, (m, pr) =>
          least(m, pmod(x * pr.getField("a") + pr.getField("b"), lit(P))))
      })
    when(size(sh) > 0, folded)
  }

  /** MinHash signature (length `numHashes`) over character `k`-shingles. */
  def minhashSignature(text: Column, numHashes: Int, k: Int = 5): Column =
    sigFromShingles(TextAnalysis.shingles(text, k), numHashes)

  /** MinHash + LSH banding: returns candidate near-duplicate pairs
    * (id_a < id_b) whose signatures collide in ≥1 of `bands` bands, with the
    * exact shingle-Jaccard computed for verification and filtered at
    * `threshold`.
    *
    * Only (docId, band, hash-of-band-rows) tuples are shuffled; documents are
    * re-fetched just for the candidate minority. Bucket-join uses a regular
    * hash join so AQE can handle skewed buckets (e.g. empty-ish docs).
    *
    * `persistIntermediates = true` makes the call EAGER: the multi-consumer
    * intermediates (signatures, prefiltered candidates) are pinned for the
    * run, the pair result — O(duplicates), tiny next to the corpus — is
    * materialized via localCheckpoint, and the pins are released before
    * returning, so repeated calls in a long-lived session don't accumulate
    * CacheManager entries. With `false` the signature pass stays lazy
    * (cheaper at small scale where recompute beats cache materialization),
    * but the O(candidates)-small prefiltered pair list is still
    * materialized eagerly: the verify stage reads it three times, and as
    * three plan subtrees the banding pipeline would re-run per consumer.
    *
    * Reliability caveat of the eager path: `localCheckpoint` truncates
    * lineage and keeps the result only in executor block storage. Losing
    * an executor afterwards (dynamic allocation, spot nodes) makes the
    * returned frame unrecoverable — there is no plan left to recompute it.
    * On a long-lived cluster with executor churn, either write the pair
    * list to durable storage immediately (it is O(duplicates)-small) or
    * call with `persistIntermediates = false` and persist/checkpoint at
    * the consumer that knows the fault-tolerance budget.
    */
  def minhashLsh(df: DataFrame, idCol: String, textCol: String,
                 numHashes: Int = 32, bands: Int = 8, shingleK: Int = 5,
                 threshold: Double = 0.5,
                 persistIntermediates: Boolean = true): DataFrame = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    val rows = numHashes / bands
    import graft.functions.HashedShingles.hashedShingles
    import graft.functions.MinhashSig.minhashSig
    import org.apache.spark.storage.StorageLevel
    def pin(d: DataFrame): DataFrame =
      if (persistIntermediates) d.persist(StorageLevel.MEMORY_AND_DISK) else d
    // Shingle → signature as ONE fused narrow pass (two native expressions,
    // no intermediate shingle column, no shuffle — signatures are born
    // narrow). History, all measured at sf0.1: an HOF expression fold was
    // interpreted, ~100× slower; explode → 32-way min-agg was codegen'd but
    // shuffled |shingles| rows per doc through a hash aggregate (~2s);
    // caching the full shingle arrays for reuse paid more in cache
    // materialization (~2s for 5k docs) than recomputing. Null signatures
    // (empty shingle sets — undersized docs) are dropped.
    // The small signature table IS worth caching: banding and both sides of
    // the estimate prefilter read it (numHashes longs per doc).
    val sigs = pin(df
      .select(col(idCol),
        minhashSig(hashedShingles(col(textCol), shingleK), numHashes).as("sig"))
      .where(col("sig").isNotNull))
    val bandHashes = array((0 until bands).map(b =>
      xxhash64(slice(col("sig"), b * rows + 1, rows), lit(b))): _*)
    val banded = sigs.select(col(idCol),
      posexplode(bandHashes).as(Seq("band", "band_hash")))
    val a = banded.select(col(idCol).as("id_a"), col("band"), col("band_hash"))
    val b = banded.select(col(idCol).as("id_b"), col("band"), col("band_hash"))
    val candidates = a.join(b, Seq("band", "band_hash"))
      .where(col("id_a") < col("id_b"))
      .select("id_a", "id_b")
      .distinct() // multi-band collisions verified once
    // Signature-estimate prefilter BEFORE the exact verify: band collisions
    // are dominated by low-Jaccard pairs (measured 48k candidates → 256 true
    // pairs at sf0.1 — boilerplate-sharing docs collide in one band at
    // j≈0.15), and carrying two full shingle arrays per candidate through
    // the verify join was the pipeline's top cost. The MinHash estimate
    // (matching signature fraction) needs only the 32-long sigs; keep a
    // pair when est ≥ threshold − 1.5/√numHashes (≈3σ of the estimator), so
    // the miss probability for a true pair is ~1e-3. Exact Jaccard still
    // decides membership — this only prunes what it must look at.
    val margin = 1.5 / math.sqrt(numHashes.toDouble)
    val minMatch = math.max(0, math.ceil((threshold - margin) * numHashes).toInt)
    val sigA = sigs.select(col(idCol).as("id_a"), col("sig").as("sig_a"))
    val sigB = sigs.select(col(idCol).as("id_b"), col("sig").as("sig_b"))
    val prefilteredRaw = candidates
      .join(sigA, "id_a").join(sigB, "id_b")
      .where(graft.functions.LongArrayJaccard
        .matchCountLong(col("sig_a"), col("sig_b")) >= minMatch)
      .select("id_a", "id_b")
    // The verify stage consumes this pair list THREE times (the pair
    // join plus the two id semi-joins that prune re-shingling to the
    // candidate minority). As three separate plan subtrees Spark would
    // re-run the whole banding+prefilter pipeline once PER consumer —
    // no exchange is reusable across them (different keys), so the
    // duplicated-subtree cost is real (measured 3× the candidate cost
    // at sf0.1). Materialize the O(candidates)-small list once: the
    // eager path pins it (released below), the lazy path checkpoints it
    // (blocks self-release via the ContextCleaner when the returned
    // frame is collected — same contract as the eager path's result).
    val prefiltered =
      if (persistIntermediates) pin(prefilteredRaw)
      else prefilteredRaw.localCheckpoint(true)
    // Exact Jaccard verification over HASHED shingles (long-array
    // intersect/union is far cheaper than string sets). Only the candidate
    // MINORITY is re-shingled: a semi-join prunes each side to surviving
    // ids before the shingle expression runs, so the full corpus is
    // shingled exactly once (in the signature pass) regardless of how many
    // consumers the verify plan has.
    val docA = df
      .join(prefiltered.select(col("id_a").as(idCol)).distinct(),
        Seq(idCol), "left_semi")
      .select(col(idCol).as("id_a"),
        hashedShingles(col(textCol), shingleK).as("sh_a"))
    val docB = df
      .join(prefiltered.select(col("id_b").as(idCol)).distinct(),
        Seq(idCol), "left_semi")
      .select(col(idCol).as("id_b"),
        hashedShingles(col(textCol), shingleK).as("sh_b"))
    import graft.functions.LongArrayJaccard.jaccardLong
    val verified = prefiltered.join(docA, "id_a").join(docB, "id_b")
      .select(col("id_a"), col("id_b"),
        jaccardLong(col("sh_a"), col("sh_b")).as("jaccard"))
      .where(col("jaccard") >= threshold)
    if (!persistIntermediates) verified
    else {
      // Materialize the (small) pair list, then release the pinned
      // intermediates — the returned plan no longer references them, and
      // the checkpoint blocks self-release via the ContextCleaner when the
      // result is garbage-collected.
      val out = verified.localCheckpoint(true)
      sigs.unpersist(false)
      prefiltered.unpersist(false)
      out
    }
  }

  /** 64-bit SimHash of the whitespace tokens of `text`: bit b is set iff
    * more than half the token hashes have bit b set (majority vote of
    * ±1 contributions). Runs as the native codegen'd
    * [[graft.functions.SimHashExpr]] — bit-identical to the HOF
    * formulation it replaced (asserted by `DedupSpec`), which interpreted
    * a 64-wide lambda per token.
    */
  def simhash(text: Column): Column = graft.functions.SimHash.simhash(text)

  /** Near-duplicate pairs by SimHash: candidates share at least one of
    * four 16-bit blocks (pigeonhole: hamming ≤ maxHamming with 4 blocks
    * of a 64-bit hash guarantees ≥1 identical block when maxHamming ≤ 3);
    * verified by exact Hamming distance.
    */
  def simhashPairs(df: DataFrame, idCol: String, textCol: String,
                   maxHamming: Int = 3): DataFrame =
    hammingPairs64(
      df.select(col(idCol), simhash(col(textCol)).as("simhash")),
      idCol, "simhash", maxHamming)

  /** Near-duplicate pairs over an ARBITRARY 64-bit signature column by
    * blocked Hamming join — the [[simhashPairs]] core factored out so
    * other 64-bit perceptual signatures (image dHash,
    * [[Multimodal.imageNearDupPairs]]) reuse the same plan. Pigeonhole
    * makes candidate generation EXACT: with B equal blocks, any pair
    * within distance B−1 shares ≥1 identical block. maxHamming ≤ 3 uses
    * the 4×16-bit split; 4–7 widens to 8×8-bit blocks (the trade: 2× the
    * exploded candidate rows and 2⁸ vs 2¹⁶ bucket keys, so per-block
    * buckets are coarser — candidate verify prunes the rest with the
    * exact `bit_count`).
    *
    * Radius 8–15 — real pHash dedup commonly wants 6–10+ at 64 bits, and
    * exact-block pigeonhole runs out (16 single-block splits would need
    * 4-bit buckets: 16 keys per position, candidates ≈ all pairs) —
    * switches to MULTI-INDEX candidate generation (Norouzi, Punjani &
    * Fleet, "Fast Search in Hamming Space with Multi-Index Hashing",
    * CVPR 2012, recast as a join): with 4 blocks, any pair within
    * distance r has some block within ⌊r/4⌋, so one side of the blocked
    * self-join EXPANDS each 16-bit block value to its full radius-⌊r/4⌋
    * Hamming ball (XOR-mask literals built once on the driver: 137 masks
    * at ⌊r/4⌋ = 2, 697 at 3) and joins the other side's exact values.
    * Buckets stay 16-bit-sharp — precision survives the wider radius —
    * and the cost is a bounded constant (blocks × masks exploded rows)
    * per DISTINCT signature, never per corpus row. Beyond 15 the
    * ball-enumeration constant is the binding cost; recurse the scheme
    * (wider per-block balls or 128-bit signatures) out of scope here.
    *
    * Skew-hardened (round 12): real perceptual-hash corpora are full of
    * DEGENERATE signatures (uniform/near-black images → dHash 0, silence
    * → waveform hash 0), and the naive formulation — explode every ROW
    * into its blocks and self-join — goes quadratic inside the one
    * (block, value) bucket every such row lands in. Two structural fixes,
    * neither changing the result set:
    *
    *  1. The blocked join runs over DISTINCT signatures only. A million
    *     identical hashes collapse to ONE row before the join, so bucket
    *     width scales with distinct-signature diversity (≤ 2^16 buckets
    *     per block), never with corpus size. The exact `bit_count(xor)`
    *     verify is unchanged; id-level pairs re-expand through two
    *     equi-joins against the (id, hash) membership frame.
    *  2. Identical-signature pairs (hamming 0) never enter the blocked
    *     join at all: within a hash-group every pair matches by
    *     definition, and the |group|² expansion — inherent to the PAIRS
    *     contract, not to this plan — runs as a content-salted self-join
    *     ([[Skew.saltedJoin]]) so no single task owns a whole hot group;
    *     max task output is |group|²/salts.
    */
  def hammingPairs64(df: DataFrame, idCol: String, hashCol: String,
                     maxHamming: Int = 3, salts: Int = 16): DataFrame = {
    require(maxHamming >= 0 && maxHamming <= 15,
      s"candidate generation over a 64-bit signature is exact only for " +
        s"maxHamming <= 15 (4 blocks x radius-3 Hamming balls), " +
        s"got $maxHamming")
    val members = df.select(col(idCol), col(hashCol).cast("long").as("__h"))
    val sigs = members.select("__h").distinct()
    def blockFrame(blocks: Int): DataFrame = {
      val width = 64 / blocks
      val mask = (1L << width) - 1
      val blockVals = array((0 until blocks).map(b =>
        shiftright(col("__h"), b * width).bitwiseAND(lit(mask))): _*)
      sigs.select(col("__h"),
        posexplode(blockVals).as(Seq("block", "block_val")))
    }
    val candidates =
      if (maxHamming <= 7) {
        // exact-block pigeonhole: a shared identical block is guaranteed
        val blocked = blockFrame(if (maxHamming <= 3) 4 else 8)
        val a = blocked.select(col("__h").as("h_a"), col("block"),
          col("block_val"))
        val b = blocked.select(col("__h").as("h_b"), col("block"),
          col("block_val"))
        a.join(b, Seq("block", "block_val"))
      } else {
        // multi-index: some block is within ⌊r/4⌋, so side a expands each
        // block value to its Hamming ball (XOR-mask literals) and joins
        // side b's exact values — 16-bit-sharp buckets at radius 8-15
        val blocked = blockFrame(4)
        val masks = hammingBallMasks(16, maxHamming / 4)
        val a = blocked
          .withColumn("__mask", explode(typedlit(masks)))
          .select(col("__h").as("h_a"), col("block"),
            col("block_val").bitwiseXOR(col("__mask")).as("block_val"))
        val b = blocked.select(col("__h").as("h_b"), col("block"),
          col("block_val"))
        a.join(b, Seq("block", "block_val"))
      }
    // distinct-signature near pairs, 1 ≤ hamming ≤ maxHamming (0 is
    // impossible across distinct hashes); distinct() folds multi-block
    // matches of the same hash pair
    val sigPairs = candidates
      .where(col("h_a") < col("h_b"))
      .select(col("h_a"), col("h_b"))
      .distinct()
      .withColumn("hamming",
        bit_count(col("h_a").bitwiseXOR(col("h_b"))))
      .where(col("hamming") <= maxHamming)
    val ma = members.select(col(idCol).as("__ida"), col("__h").as("h_a"))
    val mb = members.select(col(idCol).as("__idb"), col("__h").as("h_b"))
    val cross = sigPairs.join(ma, Seq("h_a")).join(mb, Seq("h_b"))
      .select(least(col("__ida"), col("__idb")).as("id_a"),
        greatest(col("__ida"), col("__idb")).as("id_b"), col("hamming"))
    val dupSigs = members.groupBy("__h").agg(count(lit(1)).as("__m"))
      .where(col("__m") > 1).select("__h")
    val multi = members.join(dupSigs, Seq("__h"), "left_semi")
    val within = Skew.saltedJoin(
        multi.select(col(idCol).as("id_a"), col("__h")),
        multi.select(col(idCol).as("id_b"), col("__h")),
        "__h", salts)
      .where(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"), lit(0).as("hamming"))
    cross.unionByName(within)
  }

  /** All XOR masks flipping ≤ `r` of the lowest `width` bits — the
    * radius-`r` Hamming ball around 0, enumerated once on the driver and
    * shipped as an array literal (137 masks at (16, 2), 697 at (16, 3):
    * bounded metadata, the centroid/codebook convention). Symmetric by
    * construction: `x ⊕ m = y ⟺ y ⊕ m = x`, which is why expanding ONE
    * side of the candidate join suffices.
    */
  private[graft] def hammingBallMasks(width: Int, r: Int): Seq[Long] =
    (0 to r).flatMap(k =>
      (0 until width).combinations(k)
        .map(_.foldLeft(0L)((m, b) => m | (1L << b))))

  /** Two-sided blocked Hamming join: every (left, right) id pair whose
    * 64-bit signatures sit within `maxHamming` — the batch-vs-index
    * shape ([[graft.operators.Multimodal.dedupAgainstMediaIndex]]),
    * where neither side self-joins and hamming 0 IS a valid cross
    * match (unlike the pairs operator, where 0 means "same row").
    *
    * Same tiered candidate scheme as [[hammingPairs64]], across two
    * frames: the blocked join runs over DISTINCT signatures per side
    * (bucket width scales with signature diversity, never corpus size);
    * radius ≤ 7 uses exact-block pigeonhole (4 or 8 blocks), 8–15
    * expands the LEFT side's blocks to their Hamming balls (the batch —
    * typically the small side — pays the bounded mask explosion) and
    * joins the right side's exact values. Id-level pairs re-expand
    * through two equi-joins; a degenerate signature shared by many rows
    * of both sides expands there, which is inherent to the OUTPUT size,
    * not to this plan (AQE's skew split owns that join at scale).
    * Returns (leftIdCol, rightIdCol, hamming).
    */
  def hammingJoin64(left: DataFrame, leftIdCol: String,
                    right: DataFrame, rightIdCol: String,
                    hashCol: String, maxHamming: Int = 3): DataFrame = {
    require(maxHamming >= 0 && maxHamming <= 15,
      s"candidate generation over a 64-bit signature is exact only for " +
        s"maxHamming <= 15, got $maxHamming")
    val mL = left.select(col(leftIdCol), col(hashCol).cast("long").as("__hl"))
    val mR = right.select(col(rightIdCol), col(hashCol).cast("long").as("__hr"))
    def blockFrame(sigs: DataFrame, h: String, blocks: Int): DataFrame = {
      val width = 64 / blocks
      val mask = (1L << width) - 1
      val blockVals = array((0 until blocks).map(b =>
        shiftright(col(h), b * width).bitwiseAND(lit(mask))): _*)
      sigs.select(col(h), posexplode(blockVals).as(Seq("block", "block_val")))
    }
    val blocks = if (maxHamming <= 3) 4 else 8
    val sigL = mL.select("__hl").distinct()
    val sigR = mR.select("__hr").distinct()
    val candidates =
      if (maxHamming <= 7)
        blockFrame(sigL, "__hl", blocks)
          .join(blockFrame(sigR, "__hr", blocks), Seq("block", "block_val"))
      else {
        val masks = hammingBallMasks(16, maxHamming / 4)
        blockFrame(sigL, "__hl", 4)
          .withColumn("__mask", explode(typedlit(masks)))
          .select(col("__hl"), col("block"),
            col("block_val").bitwiseXOR(col("__mask")).as("block_val"))
          .join(blockFrame(sigR, "__hr", 4), Seq("block", "block_val"))
      }
    val sigPairs = candidates
      .select(col("__hl"), col("__hr")).distinct()
      .withColumn("hamming", bit_count(col("__hl").bitwiseXOR(col("__hr"))))
      .where(col("hamming") <= maxHamming)
    sigPairs.join(mL, Seq("__hl")).join(mR, Seq("__hr"))
      .select(col(leftIdCol), col(rightIdCol), col("hamming"))
  }

  /** GREEDY survivor selection over ANY verified near-dup pair set:
    * drop the `idB` side of every pair (pairs are canonically
    * id_a < id_b, so the lowest id of each pair survives; for a chain
    * a~b, b~c it keeps a). The pair source is a parameter — the
    * MinHash, SimHash, n-gram-Jaccard and embedding candidate
    * generators all emit the same (id_a, id_b) shape, and decoupling
    * the survivor policy from the generator is what lets the
    * `dedup_clean_corpus` row run over the ORACLE-CHECKED exact pair
    * set while production runs the MinHash one.
    */
  def dropNearDuplicatesFromPairs(df: DataFrame, idCol: String,
                                  pairs: DataFrame,
                                  idB: String = "id_b"): DataFrame = {
    val dupIds = pairs.select(col(idB).as(idCol)).distinct()
    df.join(dupIds, Seq(idCol), "left_anti")
  }

  /** Corpus cleaning: drop near-duplicates, keeping the lowest id of every
    * duplicate pair (greedy — for a chain a~b, b~c it keeps a). Built on
    * [[minhashLsh]], so the only per-doc cost is the signature; the anti
    * join removes the `id_b` side of every verified pair.
    */
  def dropNearDuplicates(df: DataFrame, idCol: String, textCol: String,
                         numHashes: Int = 32, bands: Int = 8,
                         shingleK: Int = 5,
                         threshold: Double = 0.8,
                         persistIntermediates: Boolean = true): DataFrame =
    dropNearDuplicatesFromPairs(df, idCol,
      minhashLsh(df, idCol, textCol, numHashes, bands, shingleK,
        threshold, persistIntermediates))

  /** Materialize the MinHash/LSH index of a corpus: one row per (band,
    * band_hash) membership carrying the doc id and full signature, plus a
    * parameter sidecar. An arriving batch then dedups against the corpus
    * WITHOUT re-reading or re-shingling it ([[dedupAgainstIndex]]) — the
    * continuous-ingest production shape: the corpus pays shingling once at
    * index build, each daily batch pays only its own signatures. Appending
    * the surviving batch's index rows (same schema) keeps the index
    * current.
    */
  /** The index rows for `df` under the given parameters: (corpus_id, sig,
    * band, band_hash) — one narrow pass, shared by build and append.
    */
  private def minhashIndexRows(df: DataFrame, idCol: String, textCol: String,
                               numHashes: Int, bands: Int,
                               shingleK: Int): DataFrame = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    val rows = numHashes / bands
    import graft.functions.HashedShingles.hashedShingles
    import graft.functions.MinhashSig.minhashSig
    val sigs = df.select(col(idCol).cast("long").as("corpus_id"),
        minhashSig(hashedShingles(col(textCol), shingleK), numHashes).as("sig"))
      .where(col("sig").isNotNull)
    val bandHashes = array((0 until bands).map(b =>
      xxhash64(slice(col("sig"), b * rows + 1, rows), lit(b))): _*)
    sigs.select(col("corpus_id"), col("sig"),
      posexplode(bandHashes).as(Seq("band", "band_hash")))
  }

  def writeMinhashIndex(df: DataFrame, idCol: String, textCol: String,
                        path: String, numHashes: Int = 32, bands: Int = 8,
                        shingleK: Int = 5): Unit = {
    minhashIndexRows(df, idCol, textCol, numHashes, bands, shingleK)
      .write.mode("overwrite").parquet(s"$path/data")
    val spark = df.sparkSession
    import spark.implicits._
    Seq((numHashes, bands, shingleK))
      .toDF("num_hashes", "bands", "shingle_k")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/meta")
  }

  /** The index's pinned (num_hashes, bands, shingle_k) from its meta
    * sidecar, read once per commit of the sidecar
    * ([[graft.sources.SidecarCache]]). */
  private[graft] def minhashMeta(spark: org.apache.spark.sql.SparkSession,
                                 path: String): (Int, Int, Int) =
    graft.sources.SidecarCache.memo(spark, s"$path/meta", "minhash") {
      val meta = spark.read.parquet(s"$path/meta").collect().head
      (meta.getInt(0), meta.getInt(1), meta.getInt(2))
    }

  /** Append `df`'s index rows to an existing index (parameters read from
    * the sidecar, so appended rows are always comparable to stored ones).
    * The AQE rebalance lands a batch smaller than one target file as ONE
    * file whatever its input partitioning; large batches stay parallel.
    */
  def appendMinhashIndex(df: DataFrame, idCol: String, textCol: String,
                         path: String): Unit = {
    val (numHashes, bands, shingleK) = minhashMeta(df.sparkSession, path)
    minhashIndexRows(df, idCol, textCol, numHashes, bands, shingleK)
      .hint("rebalance")
      .write.mode("append").parquet(s"$path/data")
  }

  /** TAKEDOWN over the MinHash index: excise the given doc ids' band
    * rows (and their signatures with them) so no future batch can match
    * against a retracted document — and, symmetrically, the retracted
    * document itself re-admits cleanly if re-submitted (tombstone ≠
    * ban: the gate finds no signature and treats it as novel). The data
    * table is unpartitioned (band hashes have no useful locality for a
    * doc-keyed delete), so this is ONE whole-index anti-join rewrite —
    * O(index), ints only, never the corpus text — via the staged atomic
    * swap. The meta sidecar is parameters, not membership — untouched.
    */
  def retractFromMinhashIndex(spark: org.apache.spark.sql.SparkSession,
                              path: String, ids: DataFrame,
                              idCol: String): Unit =
    graft.sources.Compaction.retractRows(spark, s"$path/data",
      ids.select(col(idCol).cast("long").as("__rid")).distinct(),
      (t, k) => t("corpus_id") === k("__rid"))

  /** Near-dup PAIRS AMONG a given id set, re-derived from the STORED
    * signatures — no text is re-read, no signature recomputed: the index
    * rows of the ids band-join against themselves and candidate pairs
    * are decided by the same signature-agreement estimate as
    * [[dedupAgainstIndex]]. This is the satellite RE-CLOSURE primitive:
    * when a takedown removes a duplicate cluster's canonical, the
    * survivors' mutual linkage was never stored (the label store keeps
    * star edges only — attribution was to the canonical), but their
    * band rows still are, so their true pairs re-derive in O(the ids'
    * band buckets) and [[Components.updateLabelStore]] re-closes them
    * ([[Retraction.retractDocs]] wires the composition). Returns
    * (id_a, id_b, est_jaccard), id_a < id_b.
    */
  def pairsFromMinhashIndex(spark: org.apache.spark.sql.SparkSession,
                            path: String, ids: DataFrame, idCol: String,
                            threshold: Double): DataFrame = {
    val numHashes = minhashMeta(spark, path)._1
    val keys = ids.select(col(idCol).cast("long").as("__pid")).distinct()
    val rows = spark.read.parquet(s"$path/data")
      .join(broadcast(keys), col("corpus_id") === col("__pid"),
        "left_semi")
    rows.as("a")
      .join(rows.as("b"),
        col("a.band") === col("b.band") &&
          col("a.band_hash") === col("b.band_hash") &&
          col("a.corpus_id") < col("b.corpus_id"))
      .select(col("a.corpus_id").as("id_a"),
        col("b.corpus_id").as("id_b"),
        col("a.sig").as("__sa"), col("b.sig").as("__sb"))
      .dropDuplicates("id_a", "id_b") // multi-band hits decided once
      .select(col("id_a"), col("id_b"),
        round(graft.functions.LongArrayJaccard
            .matchCountLong(col("__sa"), col("__sb"))
            .cast("double") / numHashes, 4)
          .as("est_jaccard"))
      .where(col("est_jaccard") >= threshold)
  }

  /** Near-duplicate matches of an arriving batch against an indexed
    * corpus: the batch's signatures are computed narrow (the only
    * shingling in the query), band-joined against the stored band hashes,
    * and decided by the MinHash signature-agreement ESTIMATE at
    * `threshold` — the index stores signatures, not text, so the decision
    * error is the estimator's ±1/√numHashes (exact verification, when
    * needed, is a join back to the corpus table by `corpus_id`, which is
    * the O(matches) minority). Returns (new_id, corpus_id, est_jaccard).
    * A recall-leaning gate (dropping a true dup is worse than keeping a
    * borderline one) should pass `threshold − 1.5/√numHashes` — the same
    * ≈3σ margin [[minhashLsh]]'s prefilter uses; `dedup_incremental_recall`
    * reports what the unmargined decision costs on real data.
    */
  def dedupAgainstIndex(newDocs: DataFrame, idCol: String, textCol: String,
                        path: String, threshold: Double): DataFrame = {
    val spark = newDocs.sparkSession
    import graft.functions.HashedShingles.hashedShingles
    import graft.functions.MinhashSig.minhashSig
    val (numHashes, bands, shingleK) = minhashMeta(spark, path)
    val rows = numHashes / bands
    val sigs = newDocs.select(col(idCol).cast("long").as("new_id"),
        minhashSig(hashedShingles(col(textCol), shingleK), numHashes)
          .as("sig_n"))
      .where(col("sig_n").isNotNull)
    val bandHashes = array((0 until bands).map(b =>
      xxhash64(slice(col("sig_n"), b * rows + 1, rows), lit(b))): _*)
    val banded = sigs.select(col("new_id"), col("sig_n"),
      posexplode(bandHashes).as(Seq("band", "band_hash")))
    // lazy-takedown overlay: a tombstoned corpus doc must neither gate
    // nor attribute an arriving near-dup (it is logically gone; the
    // physical band rows wait for the excision pass — the
    // [[graft.sources.Tombstones]] contract)
    val idx = graft.sources.Tombstones.exclude(
      spark.read.parquet(s"$path/data"), path, col("corpus_id"))
    banded.join(idx, Seq("band", "band_hash"))
      .dropDuplicates("new_id", "corpus_id") // multi-band hits decided once
      .select(col("new_id"), col("corpus_id"),
        round(graft.functions.LongArrayJaccard
            .matchCountLong(col("sig_n"), col("sig"))
            .cast("double") / numHashes, 4)
          .as("est_jaccard"))
      .where(col("est_jaccard") >= threshold)
  }

  /** Word n-gram Jaccard near-dup pairs with cheap length blocking:
    * candidate pairs share `blockCols` (e.g. lang + a length bucket), so the
    * join is an equi-join, not a cross product — the blocking key bounds the
    * per-bucket quadratic cost.
    *
    * The per-PAIR work is the whole cost of this operator (blocking leaves
    * ~400k candidate pairs at sf0.1 for 70 true pairs), so the verify is
    * engineered down the same way as the MinHash ground-truth path:
    *  - each doc's distinct n-grams are 64-bit-hashed ONCE (per-doc narrow
    *    pass), so the pair step compares `array<long>`, not strings;
    *  - an exact-complete length bound (J ≥ t ⇒ t·|b| ≤ |a| ≤ |b|/t) prunes
    *    before any array is touched;
    *  - the Jaccard itself is the native sorted-merge
    *    [[graft.functions.LongArrayJaccardExpr]] — no per-pair boxed hash
    *    sets (~4× on this scan).
    * Hashing makes the Jaccard exact-modulo-64-bit-collision: a pair is
    * affected only if two DISTINCT n-grams in its own union collide
    * (p ≈ |union|²/2⁶⁵ ≈ 1e-16 per pair) — the same trade the hashed-
    * shingle ground truth in `dedup_minhash_recall` already makes, and the
    * string-form DuckDB oracle stays hash-green on it.
    */
  /** ExactSubstr REMOVAL (Lee et al. 2022, "Deduplicating Training Data
    * Makes Language Models Better"): rewrite the corpus with duplicated
    * spans EXCISED, not just detected. Every sliding k-token window that
    * occurs more than once corpus-wide keeps exactly its canonical
    * occurrence (minimum (id, start) — first document, earliest position);
    * a token is removed iff some non-canonical duplicated window covers
    * it. Consecutive duplicated windows merge into maximal removed spans
    * for free (their covered-position sets union), so a 400-token
    * copy-paste costs one contiguous hole, and the canonical document is
    * left byte-identical. Documents shorter than k contain no k-window and
    * pass through untouched; a fully-duplicated document collapses to ''.
    *
    * Returns (idCol, text_clean, n_kept, n_removed) for every input row.
    *
    * Scale shape (the reference paper uses a suffix array — a data
    * structure with no distributed analog; the sliding-window grouping
    * finds the identical span set for spans ≥ k): one groupBy keyed by
    * window text — or, with `keyByHash`, by xxhash64(window), the
    * [[ngramJaccardPairs]] trade: 8 bytes shuffle per window instead of
    * the k-token string, at a 2⁻⁶⁴-per-pair collision risk (a collision
    * over-removes one span). `keyByHash = false` stays textual for
    * cross-engine oracle exactness; `dedup_span_removal_hashed_gap` pins
    * both variants identical on the fixture at floor 1.0. Then one
    * covered-position explode bounded by k · duplicated windows, and a
    * co-partitioned anti-join + re-aggregation both keyed by id. No
    * driver state, no window function over the corpus.
    */
  def removeDuplicatedSpans(df: DataFrame, idCol: String, textCol: String,
                            k: Int = 16,
                            keyByHash: Boolean = false): DataFrame = {
    // hashed mode never BUILDS the window strings: one native O(T)
    // rolling pass emits every full window's 64-bit fingerprint from
    // the token array directly, where the textual-key path (kept for
    // the cross-engine oracle) materializes each k-token window string
    // through chunkByTokens before keying — O(T·k) string building that
    // was the detection pass's dominant cost. Key semantics are
    // unchanged where they matter: fingerprints agree exactly when
    // window token sequences agree (the same ~2⁻⁶⁴-per-pair collision
    // trade as xxhash64(window-text), pinned byte-identical to the
    // textual variant by `dedup_span_removal_hashed_gap`).
    val wins =
      if (keyByHash)
        df.select(col(idCol),
            posexplode(graft.functions.TokenWindowHashes.tokenWindowHashes(
              split(trim(col(textCol)), "\\s+"), k))
              .as(Seq("chunk_idx", "__key")))
      else Chunking.chunkByTokens(df, idCol, textCol, k, k - 1)
        .where(col("n_chunk_tokens") === k) // short-doc partial window
        .withColumn("__key", col("chunk_text"))
    // canonical occurrence per window text: min (id, start) — one struct
    // min, so the groupBy carries two longs beyond the key
    val canon = wins.groupBy("__key")
      .agg(count(lit(1)).as("__n"),
        min(struct(col(idCol), col("chunk_idx"))).as("__c"))
      .where(col("__n") > 1)
      .select(col("__key"), col("__c").getField(idCol).as("__cid"),
        col("__c").getField("chunk_idx").as("__cstart"))
    val dupOcc = wins.join(canon, "__key")
      .where(!(col(idCol) === col("__cid") &&
        col("chunk_idx") === col("__cstart")))
      .select(col(idCol), col("chunk_idx"))
    // Everything downstream of the detection pass is keyed by (id, pos)
    // or by id — hash-partitioning BOTH sides by id alone satisfies all
    // of it (HashPartitioning(id) clusters every (id, pos) key group),
    // so the token payload crosses ONE exchange: the (id,pos) distinct,
    // the anti-join AND the per-id re-aggregation all reuse it (§2.4) —
    // the previous shape shuffled the token strings twice (once keyed
    // (id,pos) for the anti-join, once keyed id for the groupBy).
    val covered = dupOcc
      .select(col(idCol),
        explode(sequence(col("chunk_idx"), col("chunk_idx") + (k - 1)))
          .as("__pos"))
      .repartition(col(idCol))
      .distinct()
    // the empty-token filter keeps an EMPTY document at 0 tokens (a bare
    // split yields [""] — one phantom token both here and in DuckDB)
    val toks = df.select(col(idCol),
        posexplode(filter(split(trim(col(textCol)), "\\s+"), t => t =!= ""))
          .as(Seq("__pos", "__tok")))
      .repartition(col(idCol))
    val rebuilt = toks.join(covered, Seq(idCol, "__pos"), "left_anti")
      .groupBy(col(idCol))
      .agg(array_join(transform(
          sort_array(collect_list(struct(col("__pos"), col("__tok")))),
          s => s.getField("__tok")), " ").as("text_clean"),
        count(lit(1)).as("n_kept"))
    df.select(col(idCol),
        size(filter(split(trim(col(textCol)), "\\s+"), t => t =!= ""))
          .cast("long").as("__total"))
      .join(rebuilt, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("text_clean"), lit("")).as("text_clean"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        (col("__total") - coalesce(col("n_kept"), lit(0L))).as("n_removed"))
  }

  def ngramJaccardPairs(df: DataFrame, idCol: String, textCol: String,
                        blockCols: Seq[Column], n: Int = 3,
                        threshold: Double = 0.5): DataFrame = {
    // n-grams are computed and hashed once per DOC before the join —
    // per-PAIR extraction would multiply the cost by the avg block size
    val blocked = df.select(col(idCol) +:
      transform(TextAnalysis.wordNgrams(col(textCol), n), g => xxhash64(g))
        .as("ngrams") +:
      blockCols.zipWithIndex.map { case (c, i) => c.as(s"blk_$i") }: _*)
    val blkNames = blockCols.indices.map(i => s"blk_$i")
    val a = blocked.select(col(idCol).as("id_a") +: col("ngrams").as("ng_a") +:
      blkNames.map(col): _*)
    val b = blocked.select(col(idCol).as("id_b") +: col("ngrams").as("ng_b") +:
      blkNames.map(col): _*)
    a.join(b, blkNames.toSeq)
      .where(col("id_a") < col("id_b"))
      .where(size(col("ng_b")) * threshold <= size(col("ng_a")) &&
        size(col("ng_a")) * threshold <= size(col("ng_b")))
      .select(col("id_a"), col("id_b"),
        graft.functions.LongArrayJaccard
          .jaccardLong(col("ng_a"), col("ng_b")).as("jaccard"))
      .where(col("jaccard") >= threshold)
  }
}
