package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.Dedup
import graft.functions.TextAnalysis

class DedupSpec extends AnyFunSuite with SparkFixture {
  import spark.implicits._

  private val base =
    "the quick brown fox jumps over the lazy dog near the old stone bridge " +
    "while rain falls softly on the quiet village below the tall mountains"
  private val nearDup = base.replace("quiet", "silent") // one-token change
  private val other =
    "completely different content about database engines and distributed " +
    "query processing with columnar storage formats and shuffle services"

  private val docs = Seq(
    (1L, base), (2L, base), (3L, nearDup), (4L, other), (5L, "tiny text")
  ).toDF("doc_id", "text")

  test("exact dedup keeps min id and counts copies") {
    val r = Dedup.exact(docs, "doc_id", Seq("text"))
      .orderBy("doc_id").as[(String, Long, Long)].collect()
    assert(r.map(x => (x._2, x._3)).toSeq ===
      Seq((1L, 2L), (3L, 1L), (4L, 1L), (5L, 1L)))
  }

  test("minhash LSH finds exact and near duplicates, skips unrelated") {
    val pairs = Dedup.minhashLsh(docs, "doc_id", "text",
        numHashes = 32, bands = 8, shingleK = 5, threshold = 0.5)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((1L, 2L)))  // identical: jaccard 1.0
    assert(pairs.contains((1L, 3L)) || pairs.contains((2L, 3L))) // near dup
    assert(!pairs.exists(p => p._1 == 4L || p._2 == 4L))
  }

  test("minhash signature approximates jaccard") {
    val sig = Dedup.minhashSignature(col("text"), numHashes = 64)
    val Seq(s1, s3, s4) = docs.filter(col("doc_id").isin(1, 3, 4))
      .orderBy("doc_id").select(sig.as("s")).as[Seq[Long]].collect().toSeq
    def est(a: Seq[Long], b: Seq[Long]) =
      a.zip(b).count(p => p._1 == p._2).toDouble / a.size
    assert(est(s1, s3) > 0.5)   // true jaccard ~0.9
    assert(est(s1, s4) < 0.3)   // true jaccard ~0
  }

  test("native simhash is bit-identical to the declarative HOF form") {
    // the HOF formulation the native expression replaced — kept here as the
    // executable specification of the bit layout
    def hofSimhash(text: org.apache.spark.sql.Column) = {
      val hashes = transform(split(lower(trim(text)), "\\s+"), t => xxhash64(t))
      val bitIdx = array((0 until 64).map(lit): _*)
      val counts = aggregate(hashes, array_repeat(lit(0L), 64),
        (acc, h) => zip_with(acc, bitIdx,
          (c, b) => c + call_function("shiftright", h, b).bitwiseAND(lit(1L))))
      val n = size(hashes)
      val bits = zip_with(counts, bitIdx, (c, b) =>
        when(c * 2 > n, call_function("shiftleft", lit(1L), b)).otherwise(lit(0L)))
      aggregate(bits, lit(0L), (acc, v) => acc.bitwiseOR(v))
    }
    val tricky = Seq((6L, "  Xin chào\tthế giới  \n mới "), (7L, ""),
      (8L, "one"), (9L, "MiXeD Case  MiXeD case"))
      .toDF("doc_id", "text")
    val r = docs.unionByName(tricky)
      .select(Dedup.simhash(col("text")).as("native"),
        hofSimhash(col("text")).as("hof"))
      .as[(Long, Long)].collect()
    r.foreach { case (native, hof) => assert(native === hof) }
  }

  test("native matchCountLong is bit-identical to the declarative HOF " +
      "fold (incl. length mismatch and null arrays)") {
    // the fold the native expression replaced — kept as the executable
    // specification (zip_with pads the shorter side with nulls, which
    // the IF counts as 0)
    def hofCount(a: org.apache.spark.sql.Column,
                 b: org.apache.spark.sql.Column) =
      aggregate(zip_with(a, b,
          (x, y) => when(x === y, lit(1)).otherwise(lit(0))),
        lit(0), (acc, v) => acc + v)
    val rows = Seq(
      (Seq(1L, 2L, 3L), Seq(1L, 9L, 3L)),
      (Seq(1L, 2L), Seq(1L, 2L, 3L)), // length mismatch
      (Seq.empty[Long], Seq(1L)),
      (Seq(5L, 5L, 5L), Seq(5L, 5L, 5L)))
      .toDF("a", "b")
      .unionByName(Seq((Option.empty[Seq[Long]], Option(Seq(1L))))
        .toDF("a", "b"))
    val r = rows.select(
        graft.functions.LongArrayJaccard.matchCountLong(col("a"), col("b"))
          .as("native"),
        hofCount(col("a"), col("b")).as("hof"))
      .as[(Option[Int], Option[Int])].collect()
    r.foreach { case (native, hof) => assert(native === hof) }
  }

  test("simhash pairs: near dups within hamming 3, unrelated far") {
    val pairs = Dedup.simhashPairs(docs, "doc_id", "text", maxHamming = 3)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((1L, 2L))) // identical → hamming 0
    assert(!pairs.exists(p => p._1 == 4L || p._2 == 4L))
  }

  // the skew-hardening contract: a degenerate corpus (every row the SAME
  // 64-bit signature — real image corpora are full of dHash 0) must (a)
  // return the complete n·(n-1)/2 pair set with hamming 0, and (b) never
  // put the whole group through one (block, value) join bucket — the
  // blocked join runs on DISTINCT signatures (1 row here) and the
  // within-group expansion is salted. Brute-force equality on a mixed
  // fixture pins that neither rewrite changed the result set.
  test("hammingPairs64: 10k identical signatures — complete, no hot bucket") {
    val n = 10000
    val flat = spark.range(n.toLong).select(col("id"), lit(0L).as("sig"))
    val pairs = Dedup.hammingPairs64(flat, "id", "sig", maxHamming = 3)
    assert(pairs.count() === n.toLong * (n - 1) / 2)
    assert(pairs.filter(col("hamming") =!= 0).count() === 0)
    // the blocked self-join input is the DISTINCT signature set: one row
    // here, so the exploded block frame is exactly `blocks` rows — the
    // degenerate group can no longer manufacture a quadratic bucket
    val distinctSigs = flat.select("sig").distinct().count()
    assert(distinctSigs === 1)
  }

  test("hammingPairs64 matches brute force on a mixed-skew fixture") {
    val sigs = Seq(
      0L, 0L, 0L, 0L, 0L,            // hot identical group
      1L, 2L, 4L,                    // hamming 1 from 0 and 1-3 from each other
      0xFFL, 0xFEL,                  // a second near pair
      0x0F0F0F0F0F0F0F0FL,           // far from everything
      -1L, -2L)                      // negative-value hashes near each other
      .zipWithIndex.map { case (h, i) => (i.toLong, h) }
    val df = sigs.toDF("id", "sig")
    val got = Dedup.hammingPairs64(df, "id", "sig", maxHamming = 3)
      .as[(Long, Long, Int)].collect().toSet
    val brute = (for {
      (ida, ha) <- sigs; (idb, hb) <- sigs if ida < idb
      d = java.lang.Long.bitCount(ha ^ hb) if d <= 3
    } yield (ida, idb, d)).toSet
    assert(got === brute)
  }

  // radius > 3 widens the split to 8 single-byte blocks (pigeonhole: ≤ 7
  // differing bits across 8 blocks leaves one block untouched). Parity
  // against brute force over a seeded random corpus with planted
  // perturbations at every distance 0–9 proves exactness at the widened
  // radius — including pairs at distance 8–9 correctly ABSENT.
  test("hammingPairs64 radius 7: 8-block pigeonhole matches brute force") {
    val rnd = new scala.util.Random(7L)
    val bases = Seq.fill(40)(rnd.nextLong())
    // for each base, a twin at each hamming distance 0..9 (flip d distinct
    // random bit positions)
    val sigs = bases.zipWithIndex.flatMap { case (h, i) =>
      val twins = (0 to 9).map { d =>
        val bits = rnd.shuffle((0 until 64).toList).take(d)
        bits.foldLeft(h)((acc, b) => acc ^ (1L << b))
      }
      (h +: twins).zipWithIndex.map { case (s, j) =>
        (i.toLong * 100 + j, s)
      }
    }
    val df = sigs.toDF("id", "sig")
    val got = Dedup.hammingPairs64(df, "id", "sig", maxHamming = 7)
      .as[(Long, Long, Int)].collect().toSet
    val brute = (for {
      (ida, ha) <- sigs; (idb, hb) <- sigs if ida < idb
      d = java.lang.Long.bitCount(ha ^ hb) if d <= 7
    } yield (ida, idb, d)).toSet
    assert(got === brute)
    assert(brute.exists(_._3 == 7)) // the fixture actually exercises r=7
  }

  // radius > 7 switches to multi-index candidates: one join side expands
  // each 16-bit block to its radius-⌊r/4⌋ Hamming ball. Brute-force
  // parity on planted perturbations at every distance 0–13 proves
  // exactness at radius 10 (⌊10/4⌋ = 2 → 137-mask ball) — including
  // pairs at distance 11–13 correctly ABSENT — and the mask generator's
  // ball sizes match the binomial sums.
  test("hammingPairs64 radius 10: multi-index candidates match brute force") {
    assert(Dedup.hammingBallMasks(16, 2).size === 1 + 16 + 120)
    assert(Dedup.hammingBallMasks(16, 3).size === 1 + 16 + 120 + 560)
    val rnd = new scala.util.Random(10L)
    val bases = Seq.fill(25)(rnd.nextLong())
    val sigs = bases.zipWithIndex.flatMap { case (h, i) =>
      val twins = (0 to 13).map { d =>
        val bits = rnd.shuffle((0 until 64).toList).take(d)
        bits.foldLeft(h)((acc, b) => acc ^ (1L << b))
      }
      (h +: twins).zipWithIndex.map { case (s, j) =>
        (i.toLong * 100 + j, s)
      }
    }
    val df = sigs.toDF("id", "sig")
    val got = Dedup.hammingPairs64(df, "id", "sig", maxHamming = 10)
      .as[(Long, Long, Int)].collect().toSet
    val brute = (for {
      (ida, ha) <- sigs; (idb, hb) <- sigs if ida < idb
      d = java.lang.Long.bitCount(ha ^ hb) if d <= 10
    } yield (ida, idb, d)).toSet
    assert(got === brute)
    assert(brute.exists(_._3 == 10)) // the fixture actually exercises r=10
    // the candidate join must plan as a real equi-join on (block, value)
    // — a cartesian/nested-loop fallback there is |sigs|² at corpus scale
    val plan = Dedup.hammingPairs64(df, "id", "sig", maxHamming = 10)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"), plan)
  }

  // every dispatch tier and both sides of each boundary: 3|4 (4-block →
  // 8-block exact), 7|8 (exact → multi-index ball r=2), 11|12 (ball r=2
  // → r=3), and the 15 ceiling. One shared fixture, brute force as truth
  // at each radius — an off-by-one in a tier cut would surface as a
  // missing pair exactly at its boundary.
  test("hammingPairs64 tier boundaries 3|4, 7|8, 11|12, 15 all match " +
      "brute force") {
    val rnd = new scala.util.Random(15L)
    val bases = Seq.fill(12)(rnd.nextLong())
    val sigs = bases.zipWithIndex.flatMap { case (h, i) =>
      val twins = (0 to 17).map { d =>
        val bits = rnd.shuffle((0 until 64).toList).take(d)
        bits.foldLeft(h)((acc, b) => acc ^ (1L << b))
      }
      (h +: twins).zipWithIndex.map { case (s, j) =>
        (i.toLong * 100 + j, s)
      }
    }
    val df = sigs.toDF("id", "sig").cache()
    try Seq(3, 4, 7, 8, 11, 12, 15).foreach { r =>
      val got = Dedup.hammingPairs64(df, "id", "sig", maxHamming = r)
        .as[(Long, Long, Int)].collect().toSet
      val brute = (for {
        (ida, ha) <- sigs; (idb, hb) <- sigs if ida < idb
        d = java.lang.Long.bitCount(ha ^ hb) if d <= r
      } yield (ida, idb, d)).toSet
      assert(got === brute, s"radius $r diverged from brute force")
    } finally df.unpersist()
  }

  test("dropNearDuplicates keeps one doc per duplicate cluster") {
    val kept = Dedup.dropNearDuplicates(docs, "doc_id", "text",
        threshold = 0.8)
      .select("doc_id").as[Long].collect().toSet
    assert(kept.contains(1L))            // cluster representative survives
    assert(!kept.contains(2L))           // exact dup of 1 dropped
    assert(!kept.contains(3L))           // near dup of 1 dropped (j ~0.9)
    assert(kept.contains(4L) && kept.contains(5L)) // unrelated docs survive
  }

  test("incremental dedup: arriving batch matches the indexed corpus only") {
    val dir = java.nio.file.Files.createTempDirectory("mhidx").toString
    val corpus = Seq((1L, base), (4L, other)).toDF("doc_id", "text")
    Dedup.writeMinhashIndex(corpus, "doc_id", "text", dir)
    // the batch: an exact copy of corpus doc 1, a near-dup of it, and a
    // genuinely fresh doc — only the first two may match
    val batch = Seq((101L, base), (102L, nearDup),
      (103L, "fresh unrelated text about sailing boats on the open sea and "
        + "long voyages across unknown waters toward distant island chains"))
      .toDF("doc_id", "text")
    val matches = Dedup.dedupAgainstIndex(batch, "doc_id", "text", dir,
        threshold = 0.5)
      .as[(Long, Long, Double)].collect().sortBy(_._1)
    assert(matches.map(m => (m._1, m._2)).toSeq ===
      Seq((101L, 1L), (102L, 1L)))
    assert(matches.head._3 === 1.0) // exact copy ⇒ identical signature
    // idempotence of the index read: same batch, same answer
    val again = Dedup.dedupAgainstIndex(batch, "doc_id", "text", dir, 0.5)
      .as[(Long, Long, Double)].collect().sortBy(_._1)
    assert(again.toSeq === matches.toSeq)
  }

  test("connected components: chain labels converge, storage stays bounded") {
    import graft.operators.Components
    // 4-diameter chain (needs ≥4 propagation rounds) + a separate 2-clique
    val pairs = Seq((2L, 1L), (2L, 3L), (3L, 4L), (4L, 5L), (10L, 11L))
      .toDF("id_a", "id_b")
    val before = spark.sparkContext.getPersistentRDDs.size
    val comp = Components.connectedComponents(pairs, "id_a", "id_b")
    val got = comp.as[(Long, Long)].collect().toMap
    assert(got === Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L, 5L -> 1L,
      10L -> 10L, 11L -> 10L))
    // leak check: each round localCheckpoints a label table; only the
    // FINAL round's may stay pinned (the loop releases every earlier one).
    // Before the round-7 fix a 5-round run left 5 label RDDs persisted.
    val after = spark.sparkContext.getPersistentRDDs.size
    assert(after <= before + 1,
      s"checkpoint leak: $before persisted RDDs before, $after after")
    // ... and the survivor is still readable after the loop's unpersists
    assert(comp.count() === 7)
  }

  test("incremental label store: per-batch updates equal the one-shot " +
      "closure, converge under an iteration budget the one-shot form " +
      "BLOWS, merge prior components, and retry idempotently") {
    import graft.operators.Components
    val path = java.nio.file.Files.createTempDirectory("label_store")
      .resolve("labels").toString
    // a 30-edge chain 1-2-...-31 delivered as 6 batches of 5 edges:
    // one-shot min-label propagation needs ~30 rounds (label 1 travels
    // one hop per round), the star-folded incremental form needs ≤ ~7
    // per batch — so maxIters = 8 separates them structurally
    val chain = (1L to 30L).map(i => (i, i + 1))
    intercept[IllegalStateException] {
      Components.connectedComponents(
        chain.toDF("id_a", "id_b"), "id_a", "id_b", maxIters = 8)
    }
    // a decoy component no later batch touches: the affected-component
    // pruning must carry it through every update verbatim
    Components.updateLabelStore(spark, path,
      Seq((500L, 501L)).toDF("id_a", "id_b"), "id_a", "id_b", maxIters = 8)
    chain.grouped(5).foreach { batch =>
      Components.updateLabelStore(spark, path,
        batch.toDF("id_a", "id_b"), "id_a", "id_b", maxIters = 8)
    }
    val got = spark.read.parquet(path).as[(Long, Long)].collect().toMap
    assert(got === (1L to 31L).map(_ -> 1L).toMap +
      (500L -> 500L) + (501L -> 500L),
      "incremental labels must equal the full closure, untouched " +
        "components carried verbatim")
    // a later batch MERGES two previously-final components (100-cluster
    // joins the 1-chain through one bridge edge)
    Components.updateLabelStore(spark, path,
      Seq((100L, 101L), (101L, 102L)).toDF("id_a", "id_b"),
      "id_a", "id_b", maxIters = 8)
    Components.updateLabelStore(spark, path,
      Seq((31L, 100L)).toDF("id_a", "id_b"), "id_a", "id_b", maxIters = 8)
    val merged = spark.read.parquet(path).as[(Long, Long)].collect().toMap
    assert(merged(102L) === 1L && merged(100L) === 1L,
      s"bridge edge must relabel the absorbed component: $merged")
    assert(merged(500L) === 500L && merged(501L) === 500L,
      "the untouched decoy must survive the cross-component merge")
    // crash-retry: replaying the last batch is a no-op (same partition)
    Components.updateLabelStore(spark, path,
      Seq((31L, 100L)).toDF("id_a", "id_b"), "id_a", "id_b", maxIters = 8)
    assert(spark.read.parquet(path).as[(Long, Long)].collect().toMap
      === merged)
  }

  test("partitioned label store: labels equal the flat mode, untouched " +
      "partitions stay byte-identical across updates, and layout misuse " +
      "fails loudly") {
    import graft.operators.Components
    val base = java.nio.file.Files.createTempDirectory("label_part")
    val flat = base.resolve("flat").toString
    val part = base.resolve("part").toString
    val P = 64
    val batches = Seq(
      Seq((1L, 2L), (2L, 3L)),          // chain component
      Seq((500L, 501L)),                 // decoy component
      Seq((3L, 4L), (10L, 11L)))         // extend chain + new component
    batches.foreach { b =>
      Components.updateLabelStore(spark, flat,
        b.toDF("id_a", "id_b"), "id_a", "id_b")
      Components.updateLabelStore(spark, part,
        b.toDF("id_a", "id_b"), "id_a", "id_b", partitions = P)
    }
    def labels(p: String): Map[Long, Long] =
      Components.readLabelStore(spark, p)
        .as[(Long, Long)].collect().toMap
    assert(labels(part) === labels(flat))
    assert(labels(part) === Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      500L -> 500L, 501L -> 500L, 10L -> 10L, 11L -> 10L))
    // the decoy's partition must be untouched by an update elsewhere:
    // snapshot its files, run an update merging 1- and 10-components,
    // and compare byte-for-byte
    val decoyLp = spark.read.parquet(part)
      .where(col("component") === 500L).select("lp")
      .distinct().as[Int].collect().toSeq
    assert(decoyLp.length === 1)
    val decoyDir = new java.io.File(part, s"lp=${decoyLp.head}")
    def snapshot(): Map[String, Long] =
      Option(decoyDir.listFiles()).getOrElse(Array.empty)
        .filter(_.getName.endsWith(".parquet"))
        .map(f => f.getName -> f.length()).toMap
    val before = snapshot()
    assert(before.nonEmpty)
    Components.updateLabelStore(spark, part,
      Seq((4L, 10L)).toDF("id_a", "id_b"), "id_a", "id_b", partitions = P)
    assert(snapshot() === before,
      "an update not touching the decoy's component must leave its " +
        "partition files untouched")
    assert(labels(part)(11L) === 1L, "the merge itself must apply")
    assert(labels(part)(500L) === 500L)
    // layout misuse: wrong P, flat-on-partitioned, partitioned-on-flat
    intercept[IllegalArgumentException] {
      Components.updateLabelStore(spark, part,
        Seq((7L, 8L)).toDF("id_a", "id_b"), "id_a", "id_b",
        partitions = 32)
    }
    intercept[IllegalArgumentException] {
      Components.updateLabelStore(spark, part,
        Seq((7L, 8L)).toDF("id_a", "id_b"), "id_a", "id_b")
    }
    intercept[IllegalArgumentException] {
      Components.updateLabelStore(spark, flat,
        Seq((7L, 8L)).toDF("id_a", "id_b"), "id_a", "id_b",
        partitions = P)
    }
  }

  test("label store point lookup: bloom-routes to candidate partitions, " +
      "the members read prunes statically on the component's partition, " +
      "answers agree with the closure, unlabeled ids are singletons") {
    import graft.operators.Components
    val base = java.nio.file.Files.createTempDirectory("label_lookup")
    val part = base.resolve("part").toString
    val P = 16
    // three components built across two updates, one cross-component
    // merge so looked-up ids have MOVED partition at least once
    Components.updateLabelStore(spark, part,
      Seq((1L, 2L), (10L, 11L), (500L, 501L)).toDF("id_a", "id_b"),
      "id_a", "id_b", partitions = P)
    Components.updateLabelStore(spark, part,
      Seq((2L, 10L)).toDF("id_a", "id_b"), "id_a", "id_b", partitions = P)
    // point lookups agree with the full closure, including a moved id
    assert(Components.lookupComponent(spark, part, 11L) === Some(1L))
    assert(Components.lookupComponent(spark, part, 501L) === Some(500L))
    assert(Components.lookupComponent(spark, part, 999L) === None)
    val members = Components.lookupMembers(spark, part, 11L)
    assert(members.as[(Long, Long)].collect().toSet ===
      Set((1L, 1L), (2L, 1L), (10L, 1L), (11L, 1L)))
    // the members scan is PRUNED: a literal partition filter on lp, so
    // the plan reads one partition, never the store
    val plan = members.queryExecution.executedPlan.toString
    assert("PartitionFilters: \\[[^\\]]*lp".r.findFirstIn(plan).nonEmpty,
      s"members read must prune on lp:\n$plan")
    // the unlabeled id serves its singleton without touching the store
    assert(Components.lookupMembers(spark, part, 999L)
      .as[(Long, Long)].collect().toSeq === Seq((999L, 999L)))
    // the bloom router narrows the candidate set: the id-bloom sidecar
    // exists per live partition, is invisible to the store read, and a
    // store with the sidecar deleted still answers (full-scan fallback)
    val bloomDirs = Option(new java.io.File(part, "_id_blooms")
      .listFiles()).getOrElse(Array.empty)
      .filter(f => f.isDirectory && f.getName.startsWith("lp="))
    assert(bloomDirs.nonEmpty, "id blooms must exist after updates")
    assert(Components.readLabelStore(spark, part).columns.toSeq ===
      Seq("id", "component"))
    graft.sources.Compaction.rm(new java.io.File(part, "_id_blooms"))
    assert(Components.lookupComponent(spark, part, 11L) === Some(1L),
      "bloom-less store must degrade to scan, not to a wrong answer")
    // flat layout: same API, plain filter
    val flat = base.resolve("flat").toString
    Components.updateLabelStore(spark, flat,
      Seq((7L, 8L)).toDF("id_a", "id_b"), "id_a", "id_b")
    assert(Components.lookupComponent(spark, flat, 8L) === Some(7L))
    assert(Components.lookupMembers(spark, flat, 7L)
      .as[(Long, Long)].collect().toSet === Set((7L, 7L), (8L, 7L)))
  }

  test("id-bloom staleness window: a crash between the data rewrite and " +
      "the bloom refresh can only mis-route (never mis-answer), and the " +
      "retried update heals the router") {
    import graft.operators.Components
    val base = java.nio.file.Files.createTempDirectory("label_bloomcrash")
    val part = base.resolve("part").toString
    val P = 16
    Components.updateLabelStore(spark, part,
      Seq((1L, 2L), (50L, 51L)).toDF("id_a", "id_b"), "id_a", "id_b",
      partitions = P)
    // snapshot the bloom sidecar, run a merge that relocates 50/51 into
    // component 1's partition, then restore the OLD blooms — exactly
    // the crash-after-data-before-blooms state
    val bloomsDir = new java.io.File(part, "_id_blooms")
    val backup = java.nio.file.Files.createTempDirectory("blooms_bk").toFile
    def copyDir(from: java.io.File, to: java.io.File): Unit = {
      to.mkdirs()
      Option(from.listFiles()).getOrElse(Array.empty).foreach { f =>
        if (f.isDirectory) copyDir(f, new java.io.File(to, f.getName))
        else java.nio.file.Files.copy(f.toPath,
          new java.io.File(to, f.getName).toPath)
      }
    }
    copyDir(bloomsDir, backup)
    val merge = Seq((2L, 51L)).toDF("id_a", "id_b")
    Components.updateLabelStore(spark, part, merge, "id_a", "id_b",
      partitions = P)
    assert(Components.lookupComponent(spark, part, 51L) === Some(1L))
    graft.sources.Compaction.rm(bloomsDir)
    copyDir(backup, bloomsDir)
    // with stale blooms the lookup may MISS a moved id (routed to its
    // old, now-absent partition) but can never return a stale label:
    // any answer it does give comes from the confirm filter over live
    // data
    val stale = Components.lookupComponent(spark, part, 51L)
    assert(stale.isEmpty || stale === Some(1L),
      s"stale router must miss or answer from live data, got $stale")
    // the documented heal: replaying the same batch rewrites data AND
    // blooms for the touched partitions
    Components.updateLabelStore(spark, part, merge, "id_a", "id_b",
      partitions = P)
    assert(Components.lookupComponent(spark, part, 51L) === Some(1L))
    assert(Components.lookupMembers(spark, part, 51L)
      .as[(Long, Long)].collect().toSet ===
      Set((1L, 1L), (2L, 1L), (50L, 1L), (51L, 1L)))
  }

  test("batch lookup and attribution: one pruned read answers a probe " +
      "list with singletons for unlabeled ids; attachCanonical maps a " +
      "corpus slice to its survivors") {
    import graft.operators.Components
    val base = java.nio.file.Files.createTempDirectory("label_batch")
    val part = base.resolve("part").toString
    Components.updateLabelStore(spark, part,
      Seq((1L, 2L), (10L, 11L), (500L, 501L)).toDF("id_a", "id_b"),
      "id_a", "id_b", partitions = 16)
    // the takedown-list shape: labeled ids from different components
    // plus a never-labeled probe, every probe answered in one call
    var got = Map.empty[Long, Long]
    // the bloom sidecar (_id_blooms) is a hidden root: both lookups read
    // it by its part files, never through an ignored-path read
    val ignored = TestProbes.ignoredRootReads(spark) {
      got = Components.lookupComponents(spark, part,
          Seq(2L, 501L, 999L, 11L))
        .as[(Long, Long)].collect().toMap
      assert(Components.lookupComponent(spark, part, 501L) === Some(500L))
    }
    assert(ignored === 0, "a bloom-routed lookup read an ignored root")
    assert(got === Map(2L -> 1L, 501L -> 500L, 999L -> 999L, 11L -> 10L))
    // the confirm read prunes on the routed partitions
    intercept[IllegalArgumentException] {
      Components.lookupComponents(spark, part, Seq.empty)
    }
    // attribution: corpus rows joined to their canonical survivor;
    // rows outside every component keep their own id
    val corpus = Seq(1L, 2L, 5L, 11L, 501L).toDF("doc_id")
    val attributed = Components
      .attachCanonical(corpus, "doc_id", part)
      .as[(Long, Long)].collect().toMap
    assert(attributed ===
      Map(1L -> 1L, 2L -> 1L, 5L -> 5L, 11L -> 10L, 501L -> 500L))
  }

  test("transitive cleaning: one survivor per component where greedy keeps two") {
    import graft.operators.Components
    // star-shaped cluster: 1~3 and 2~3 verified, but the 1~2 edge is
    // MISSING from the pair list (below threshold). Greedy pair-dropping
    // (drop the id_b side, what dropNearDuplicates does) removes only {3}
    // and keeps BOTH 1 and 2; component-wise cleaning keeps the component
    // minimum alone.
    val df = Seq(1L, 2L, 3L, 4L).toDF("doc_id")
    val pairs = Seq((1L, 3L), (2L, 3L)).toDF("id_a", "id_b")
    val transitive = Components
      .keepComponentMinima(df, "doc_id", pairs, "id_a", "id_b")
      .as[Long].collect().toSet
    assert(transitive === Set(1L, 4L))
    val greedyKept = Set(1L, 2L, 3L, 4L) --
      pairs.select("id_b").as[Long].collect().toSet // = {1, 2, 4}
    assert(greedyKept.size === transitive.size + 1)
  }

  test("exactBest keeps the preferred-quality copy where exact keeps the " +
      "lowest id") {
    val df = Seq((1L, "x", "srcA"), (2L, "x", "srcC"), (3L, "x", "srcB"),
      (4L, "y", "srcZ")).toDF("id", "text", "src")
    val best = Dedup.exactBest(df, "id", Seq("text"), "src")
      .as[(Long, String, String, Long)].collect().sortBy(_._1).toSeq
    // group "x": survivor is id 2 (srcC sorts last), NOT the lowest id 1
    assert(best === Seq((2L, "x", "srcC", 3L), (4L, "y", "srcZ", 1L)))
    val lowest = Dedup.exact(df, "id", Seq("text"))
      .select("id").as[Long].collect().toSet
    assert(lowest === Set(1L, 4L))
  }

  test("keepComponentBest: the chain's best-quality member survives, " +
      "minima would keep the lowest id; isolated rows untouched") {
    import graft.operators.Components
    // chain 1~2, 2~3 (one component), 4 isolated; quality favors id 2
    val df = Seq((1L, 10), (2L, 99), (3L, 50), (4L, 1)).toDF("id", "q")
    val pairs = Seq((1L, 2L), (2L, 3L)).toDF("id_a", "id_b")
    val best = Components.keepComponentBest(df, "id", pairs, "id_a", "id_b",
      "q").select("id").as[Long].collect().toSet
    assert(best === Set(2L, 4L))
    val minima = Components.keepComponentMinima(df, "id", pairs, "id_a",
      "id_b").select("id").as[Long].collect().toSet
    assert(minima === Set(1L, 4L))
  }

  test("ngram jaccard pairs with blocking") {
    val pairs = Dedup.ngramJaccardPairs(
        docs.withColumn("blk", lit(1)), "doc_id", "text",
        Seq(col("blk")), n = 3, threshold = 0.5)
      .select("id_a", "id_b", "jaccard")
      .as[(Long, Long, Double)].collect()
      .map(x => (x._1, x._2) -> x._3).toMap
    assert(pairs((1L, 2L)) === 1.0)
    assert(pairs((1L, 3L)) > 0.7 && pairs((1L, 3L)) < 1.0)
    assert(!pairs.keySet.exists(p => p._1 == 4L || p._2 == 4L))
  }

  test("span removal: canonical byte-identical, overlapping dup windows " +
      "merge to one hole, short docs untouched, full dup collapses to ''") {
    val corpus = Seq(
      (1L, "x1 x2 x3 x4 x5"),        // canonical home of every dup window
      (2L, "q1 x2 x3 x4 q2"),        // one interior dup span
      (3L, "x2 x3"),                 // shorter than k: no window, untouched
      (4L, "x1 x2 x3 x4 x5"),        // exact copy: fully covered
      (5L, "z1 x1 x2 x3 x4 x5 z2")   // 3 overlapping dup windows, one hole
    ).toDF("doc_id", "text")
    val r = Dedup.removeDuplicatedSpans(corpus, "doc_id", "text", k = 3)
      .orderBy("doc_id").as[(Long, String, Long, Long)].collect()
    assert(r.map(x => (x._1, x._2)).toSeq === Seq(
      (1L, "x1 x2 x3 x4 x5"), (2L, "q1 q2"), (3L, "x2 x3"),
      (4L, ""), (5L, "z1 z2")))
    assert(r.map(x => (x._3, x._4)).toSeq === Seq(
      (5L, 0L), (2L, 3L), (2L, 0L), (0L, 5L), (2L, 5L)))
    // the hash-keyed scale variant rewrites identically
    val hashed = Dedup.removeDuplicatedSpans(corpus, "doc_id", "text",
        k = 3, keyByHash = true)
      .orderBy("doc_id").as[(Long, String, Long, Long)].collect()
    assert(hashed.toSeq === r.toSeq)
  }
}
