package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.{Packing, Sampling}
import graft.operators.CellAssigner.Voronoi
import graft.operators.VectorCodec.Exact

class SamplingPackingSpec extends AnyFunSuite with SparkFixture {
  import spark.implicits._

  test("stratifiedTake keeps exactly quota rows per stratum, deterministically") {
    val df = (for (lang <- Seq("en", "de", "vi"); i <- 1 to 30)
      yield (lang.hashCode.toLong * 100 + i, lang)).toDF("doc_id", "lang")
    val s1 = Sampling.stratifiedTake(df, Seq("lang"), "doc_id", quota = 20)
    val counts = s1.groupBy("lang").count().as[(String, Long)].collect().toMap
    assert(counts === Map("en" -> 20L, "de" -> 20L, "vi" -> 20L))
    // small stratum: quota caps, never pads
    val small = df.filter(col("lang") =!= "en" || col("doc_id") % 10 === 0)
    val c2 = Sampling.stratifiedTake(small, Seq("lang"), "doc_id", 20)
      .groupBy("lang").count().as[(String, Long)].collect().toMap
    assert(c2("en") === 3L && c2("de") === 20L)
    // deterministic across runs and physical layouts
    val a = s1.select("doc_id").as[Long].collect().sorted.toSeq
    val b = Sampling.stratifiedTake(df.repartition(7), Seq("lang"), "doc_id", 20)
      .select("doc_id").as[Long].collect().sorted.toSeq
    assert(a === b)
    // the scramble actually scrambles: the picked set is NOT the first-20
    val en = s1.filter(col("lang") === "en")
      .select("doc_id").as[Long].collect().sorted.toSeq
    val first20 = df.filter(col("lang") === "en")
      .select("doc_id").as[Long].collect().sorted.take(20).toSeq
    assert(en !== first20)
  }

  test("weightedTake honors per-stratum quotas; unmapped strata get default") {
    val df = (for (src <- Seq("web", "wiki", "code"); i <- 1 to 30)
      yield (src.hashCode.toLong * 100 + i, src)).toDF("doc_id", "source")
    val m = Sampling.weightedTake(df, "source", "doc_id",
      Map("web" -> 5, "wiki" -> 15)) // code unmapped → default 0 → dropped
    val counts = m.groupBy("source").count().as[(String, Long)].collect().toMap
    assert(counts === Map("web" -> 5L, "wiki" -> 15L))
    // deterministic under repartitioning, like the balanced form
    val a = m.select("doc_id").as[Long].collect().sorted.toSeq
    val b = Sampling.weightedTake(df.repartition(5), "source", "doc_id",
        Map("web" -> 5, "wiki" -> 15))
      .select("doc_id").as[Long].collect().sorted.toSeq
    assert(a === b)
  }

  test("weightedTake with a 10k-domain quota map routes through the " +
      "broadcast-join path and matches the literal-chain semantics") {
    // a Pile-style mixture spec: 10k domains in the map, 300 present in
    // the data — the literal when-chain would be a 10k-deep expression
    // tree (Catalyst analysis cost + codegen size limits); above the
    // threshold the quota map becomes a broadcast join instead
    val quotas = (0 until 10000).map(i => s"src$i" -> (i % 3 + 1)).toMap
    val df = (for (s <- 0 until 300; i <- 0 until 20)
      yield (s * 1000L + i, s"src$s")).toDF("doc_id", "source")
    val out = Sampling.weightedTake(df, "source", "doc_id", quotas)
    val counts = out.groupBy("source").count()
      .as[(String, Long)].collect().toMap
    (0 until 300).foreach { s =>
      assert(counts(s"src$s") === (s % 3 + 1).toLong)
    }
    // strata absent from the map get default (0 = dropped)
    val withUnmapped = df
      .union(Seq((999999L, "unmapped")).toDF("doc_id", "source"))
    assert(Sampling.weightedTake(withUnmapped, "source", "doc_id", quotas)
      .filter(col("source") === "unmapped").count() === 0L)

    // both paths agree row-for-row on the same data: force the literal
    // chain with a high threshold, the join path with a low one
    val small = (0 until 40).map(i => s"src$i" -> (i % 3 + 1)).toMap
    val viaLiteral = Sampling.weightedTake(df, "source", "doc_id", small,
        broadcastThreshold = 1000)
      .select("doc_id").as[Long].collect().sorted.toSeq
    val viaJoin = Sampling.weightedTake(df, "source", "doc_id", small,
        broadcastThreshold = 1)
      .select("doc_id").as[Long].collect().sorted.toSeq
    assert(viaLiteral === viaJoin)
  }

  test("temperatureTake: quotas follow n^alpha exactly on a hand fixture; " +
      "alpha=1 is proportional, small alpha flattens") {
    // strata of 100 and 400 docs: sqrt weights 10/20 → of budget 30 the
    // quotas are exactly 10 and 20; at alpha=1 they are 6 and 24
    val df = ((1 to 100).map(i => (i.toLong, "small")) ++
      (1 to 400).map(i => (1000L + i, "large"))).toDF("doc_id", "source")
    def counts(alpha: Double, budget: Long): Map[String, Long] =
      Sampling.temperatureTake(df, "source", "doc_id", alpha, budget)
        .groupBy("source").count().as[(String, Long)].collect().toMap
    assert(counts(0.5, 30) === Map("small" -> 10L, "large" -> 20L))
    assert(counts(1.0, 30) === Map("small" -> 6L, "large" -> 24L))
    // deterministic under repartitioning (the scramble rank, as always)
    val a = Sampling.temperatureTake(df, "source", "doc_id", 0.5, 30)
      .select("doc_id").as[Long].collect().sorted.toSeq
    val b = Sampling.temperatureTake(df.repartition(7), "source",
        "doc_id", 0.5, 30)
      .select("doc_id").as[Long].collect().sorted.toSeq
    assert(a === b)
    // a stratum too small for one slot drops (quota floors to 0)
    val tiny = df.union(Seq((9999L, "rare")).toDF("doc_id", "source"))
    assert(!Sampling.temperatureTake(tiny, "source", "doc_id", 1.0, 30)
      .select("source").as[String].collect().contains("rare"))
  }

  test("topMassPerStratum: integer-exact 80% mass cut, crossing row " +
      "dropped, dominant-single-row stratum emits nothing") {
    import graft.operators.Sampling
    val df = Seq(
      // stratum a: masses 50,30,20 (tot 100) sorted desc → cum 50,80,100;
      // 80*10 <= 100*8 keeps the first TWO, the 20-mass row crosses
      (1L, "a", 50L), (2L, "a", 30L), (3L, "a", 20L),
      // stratum b: single row carries 100% > 80% → nothing survives
      (4L, "b", 100L),
      // stratum c: equal masses 10×4 (tot 40): cum 10,20,30,40 → keep 3
      (5L, "c", 10L), (6L, "c", 10L), (7L, "c", 10L), (8L, "c", 10L)
    ).toDF("id", "s", "m")
    val kept = Sampling.topMassPerStratum(df, "s", "id", "m", "m", 8, 10)
      .select("id").as[Long].collect().toSet
    assert(kept === Set(1L, 2L, 5L, 6L, 7L))
    // p = 1 keeps everything; p = 0 keeps nothing
    assert(Sampling.topMassPerStratum(df, "s", "id", "m", "m", 1, 1)
      .count() === 8)
    assert(Sampling.topMassPerStratum(df, "s", "id", "m", "m", 0, 1)
      .count() === 0)
    intercept[IllegalArgumentException] {
      Sampling.topMassPerStratum(df, "s", "id", "m", "m", 1, 0)
    }
  }

  test("chunkByTokens: overlap windows, single chunk for short docs, " +
      "no redundant tail") {
    import graft.operators.Chunking
    def chunks(text: String, chunk: Int, overlap: Int) =
      Chunking.chunkByTokens(Seq((1L, text)).toDF("doc_id", "text"),
          "doc_id", "text", chunk, overlap)
        .orderBy("chunk_idx")
        .select("chunk_idx", "chunk_text", "n_chunk_tokens")
        .as[(Int, String, Long)].collect().toSeq
    val ten = (1 to 10).map(i => s"w$i").mkString(" ")
    // 10 words, chunk 8, overlap 2 (stride 6): [1..8], [7..10]
    assert(chunks(ten, 8, 2) === Seq(
      (0, (1 to 8).map(i => s"w$i").mkString(" "), 8L),
      (1, (7 to 10).map(i => s"w$i").mkString(" "), 4L)))
    // len == chunk: exactly one chunk, no contained tail
    assert(chunks((1 to 8).map(i => s"w$i").mkString(" "), 8, 2).size === 1)
    // short doc: one partial chunk
    assert(chunks("a b c", 8, 2) === Seq((0, "a b c", 3L)))
    // consecutive chunks share exactly `overlap` words
    val c15 = chunks((1 to 15).map(i => s"w$i").mkString(" "), 8, 2)
    assert(c15.size === 3)
    val lastOfFirst = c15(0)._2.split(" ").takeRight(2).toSeq
    val firstOfSecond = c15(1)._2.split(" ").take(2).toSeq
    assert(lastOfFirst === firstOfSecond)
  }

  test("packByBudget assigns docs to the sequence their first token falls in") {
    val df = Seq(
      (1L, 0L, 300), (2L, 0L, 300), (3L, 0L, 300), // cum 300/600/900
      (4L, 1L, 600), (5L, 1L, 10)                  // cum 600/610
    ).toDF("doc_id", "shard", "n_tokens")
    val packed = Packing.packByBudget(df, "shard", "doc_id", "n_tokens", 512)
      .select("doc_id", "seq_id").as[(Long, Long)].collect().toMap
    // shard 0: starts at 0, 300, 600 → seqs 0, 0, 1 (doc 2 straddles 512)
    assert(packed(1L) === 0L && packed(2L) === 0L && packed(3L) === 1L)
    // shard 1 packs independently: starts at 0, 600 → seqs 0, 1
    assert(packed(4L) === 0L && packed(5L) === 1L)
  }

  test("packByBudget sequences average the budget over a long stream") {
    val df = (1 to 1000).map(i => (i.toLong, i.toLong % 4, 100)).toDF(
      "doc_id", "shard", "n_tokens")
    val seqs = Packing.packByBudget(df, "shard", "doc_id", "n_tokens", 512)
      .groupBy("shard", "seq_id").agg(sum("n_tokens").as("toks"))
      .as[(Long, Long, Long)].collect()
    // 100-token docs, 512 budget → alternating 500/600-token sequences
    // except the trailing partials; all within one doc of the budget
    val full = seqs.filter(_._3 >= 500)
    assert(full.forall(s => s._3 <= 600), seqs.mkString(","))
    assert(full.nonEmpty)
  }

  test("hashSplit: deterministic assignment, near-nominal proportions, " +
      "guards on labels and collisions") {
    val df = (1L to 10000L).toDF("id")
    val splits = Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1)
    val counts = Sampling.hashSplit(df, "id", splits)
      .groupBy("split").count().as[(String, Long)].collect().toMap
    assert(counts.values.sum === 10000L)
    assert(math.abs(counts("train") - 8000L) < 200, counts.toString)
    assert(math.abs(counts("val") - 1000L) < 120, counts.toString)
    // pure function of id: rerun on a different layout, identical rows
    val a = Sampling.hashSplit(df, "id", splits)
      .as[(Long, String)].collect().toMap
    val b = Sampling.hashSplit(df.repartition(13), "id", splits)
      .as[(Long, String)].collect().toMap
    assert(a === b)
    // thresholds partition the full 2^32 domain
    assert(Sampling.splitThresholds(Seq(0.8, 0.1, 0.1)).last === 4294967296L)
    intercept[IllegalArgumentException] {
      Sampling.hashSplit(df, "id", Seq("a" -> 1.0))
    }
    intercept[IllegalArgumentException] {
      Sampling.hashSplit(df, "id", Seq("a" -> 1.0, "a" -> 1.0))
    }
    intercept[IllegalArgumentException] {
      Sampling.hashSplit(df.withColumn("split", lit("x")), "id", splits)
    }
  }

  test("clusterBalancedSample: the dense high-scoring mode cannot crowd " +
      "out the sparse cluster; quotas and per-cell ranking are exact") {
    // cluster A: 40 vectors near (1,0), scores 100+; cluster B: 10
    // vectors near (0,1), scores ≤ 20. A global top-10 is ALL A.
    def vec(cluster: Int, i: Int): Seq[Float] = {
      val eps = 0.001f * (i % 7)
      if (cluster == 0) Seq(1f, eps) else Seq(eps, 1f)
    }
    val rows =
      (0 until 40).map(i => (i.toLong, vec(0, i), 100L + i)) ++
      (0 until 10).map(i => (100L + i, vec(1, i), 10L + i))
    val df = rows.toDF("id", "embedding", "score")
    val idx = java.nio.file.Files.createTempDirectory("cbs_idx")
      .resolve("idx").toString
    graft.operators.CellIndex(idx, Voronoi(nlist = 2, kmeansIters = 2),
      Exact).write(df, "id", "embedding")
    val sel = Sampling.clusterBalancedSample(df, "id", "embedding", idx,
        quotaPerCell = 5, "score")
      .select("id", "cell", "score")
      .as[(Long, Long, Long)].collect().toSeq
    // 5 per cell, both clusters covered
    assert(sel.length === 10)
    assert(sel.groupBy(_._2).values.forall(_.size == 5))
    val bIds = sel.map(_._1).filter(_ >= 100L).toSet
    // cluster B's survivors are its top-5 by score (ids 105..109)
    assert(bIds === (105L to 109L).toSet, s"got $bIds")
    // the global cut at the same budget would have covered ONE cluster
    val globalTop = rows.sortBy(r => (-r._3, r._1)).take(10).map(_._1)
    assert(globalTop.forall(_ < 100L),
      "fixture sanity: global top-10 is all cluster A")
    // plan shape: the whole selection is ONE exchange (the cell-keyed
    // window shuffle) — centroids are literals, so there is no join and
    // no broadcast in the plan
    val sel2 = Sampling.clusterBalancedSample(df, "id", "embedding", idx,
      quotaPerCell = 5, "score")
    sel2.count()
    val plan = sel2.queryExecution.executedPlan.toString
    val exchanges = "Exchange".r.findAllIn(plan).length
    assert(exchanges <= 1, s"expected <= 1 exchange, got $exchanges:\n$plan")
    assert(!plan.contains("Join"), s"no join expected:\n$plan")
    // input collision guard: a frame already carrying 'cell' is refused
    intercept[IllegalArgumentException] {
      Sampling.clusterBalancedSample(df.withColumn("cell", lit(0L)),
        "id", "embedding", idx, 5, "score")
    }
  }

  test("prioritySample: exactly k rows, HT weights >= raw weights, " +
      "subset sums estimable, exact regime below k, and non-positive " +
      "weights excluded") {
    // 2000 rows in two segments with very different weight scales
    val df = (1L to 2000L).map { i =>
      val seg = if (i % 4 == 0) "heavy" else "light"
      val w = if (seg == "heavy") 100.0 + (i % 7) else 1.0 + (i % 3)
      (i, seg, w)
    }.toDF("id", "seg", "w")
    val k = 256
    val s = Sampling.prioritySample(df, "id", "w", k)
    assert(s.count() === k)
    // determinism: the same call selects the same ids
    val ids1 = s.select("id").as[Long].collect().sorted.toSeq
    val ids2 = Sampling.prioritySample(df, "id", "w", k)
      .select("id").as[Long].collect().sorted.toSeq
    assert(ids1 === ids2)
    // HT weight never below the raw weight (max(w, tau))
    assert(s.where(col("ht_weight") < col("w")).isEmpty)
    // subset-sum estimates: within 3.5/sqrt(k-1) of truth scaled by
    // the segment's mass share (heavy ~0.96 of mass, light the rest —
    // light gets the loose bound)
    val exact = df.groupBy("seg").agg(sum("w")).collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    val est = s.groupBy("seg").agg(sum("ht_weight")).collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    val wTotal = exact.values.sum
    exact.foreach { case (seg, ex) =>
      val bound = 3.5 / math.sqrt((k - 1).toDouble) *
        math.sqrt(wTotal / ex)
      assert(math.abs(est.getOrElse(seg, 0.0) - ex) / ex <= bound,
        s"$seg: est=${est.get(seg)} exact=$ex bound=$bound")
    }
    // n <= k: every qualifying row kept with ht == w exactly
    val tiny = Seq((1L, 5.0), (2L, 0.0), (3L, -1.0), (4L, 2.5))
      .toDF("id", "w")
    val ts = Sampling.prioritySample(tiny, "id", "w", 10)
      .select("id", "ht_weight").as[(Long, Double)].collect().toMap
    assert(ts === Map(1L -> 5.0, 4L -> 2.5),
      "below k: exact weights, non-positive weights excluded")
    // per-stratum: k rows per segment, each with its own threshold;
    // per-segment HT sums track each segment's OWN mass at the
    // single-sample bound; an under-k segment is exact
    val kps = 128
    val ps = Sampling.prioritySamplePerStratum(
      df.unionAll(Seq((9001L, "rare", 7.0), (9002L, "rare", 3.0))
        .toDF("id", "seg", "w")), Seq("seg"), "id", "w", kps)
    val bySeg = ps.groupBy("seg").agg(count(lit(1)).as("n"),
        sum("ht_weight").as("est")).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    assert(bySeg("heavy")._1 === kps && bySeg("light")._1 === kps)
    assert(bySeg("rare") === ((2L, 10.0)), "under-k segment is exact")
    val exactSeg = df.groupBy("seg").agg(sum("w")).collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    val psBound = 3.5 / math.sqrt((kps - 1).toDouble)
    Seq("heavy", "light").foreach { seg =>
      assert(math.abs(bySeg(seg)._2 - exactSeg(seg)) / exactSeg(seg)
        <= psBound, s"$seg: ${bySeg(seg)._2} vs ${exactSeg(seg)}")
    }
  }

  test("poissonBootstrap: CI brackets the true mean, interval ordered, " +
      "deterministic under re-partitioning, draw mass ≈ n per replicate") {
    import graft.operators.Sampling
    val n = 4000
    val df = (1 to n).map(i => (i.toLong, 100.0 + (i % 97).toDouble))
      .toDF("id", "v")
    val exact = df.agg(avg("v")).as[Double].head()
    val r = Sampling.poissonBootstrap(df, "id", "v", replicates = 64)
      .as[(Int, Long, Double, Double, Double, Double)].head()
    val (reps, rows, point, lo, med, hi) = r
    assert(reps === 64 && rows === n.toLong)
    assert(math.abs(point - exact) < 1e-6)
    assert(lo < med && med < hi, r)
    // the bootstrap SE of a mean of sd≈28 over 4000 rows is ≈0.44, so a
    // 95% interval sits near 4·SE ≈ 1.7 wide — the interval must
    // bracket the truth AND be at that scale: an UNDERDISPERSED
    // interval (the low-discrepancy-hash failure mode this operator's
    // finalizer rounds exist to prevent — a bare multiplicative
    // scramble measured ~0.28 here) fails the lower bound
    assert(lo < exact && exact < hi, s"CI [$lo, $hi] misses $exact")
    assert(hi - lo > 0.9 && hi - lo < 3.5, s"width ${hi - lo}")
    // deterministic: the interval cannot move under a different
    // physical layout (the hash is content-derived, not partition-
    // seeded) — the property a rand()-seeded bootstrap lacks
    val r2 = Sampling.poissonBootstrap(df.repartition(13), "id", "v",
      replicates = 64)
      .as[(Int, Long, Double, Double, Double, Double)].head()
    assert(r2 === r)
    // contract edges: empty input → zero rows (matching the SQL twin's
    // empty GROUP BY), ids outside [0, 2^31) and reserved column names
    // rejected loudly
    assert(Sampling.poissonBootstrap(
      df.where(lit(false)), "id", "v", 64).isEmpty)
    val eNeg = intercept[IllegalArgumentException] {
      Sampling.poissonBootstrap(
        df.withColumn("id", col("id") - 10L), "id", "v", 64)
    }
    assert(eNeg.getMessage.contains("2^31"))
    val eRes = intercept[IllegalArgumentException] {
      Sampling.poissonBootstrap(df.withColumnRenamed("v", "__v"),
        "id", "__v", 64)
    }
    assert(eRes.getMessage.contains("reserved"))

    // the grouped twin: each stratum's CI brackets its own mean, from
    // the same single-scan mechanics
    val gdf = df.withColumn("g", (col("id") % 2).cast("string"))
    val gex = gdf.groupBy("g").agg(avg("v")).as[(String, Double)]
      .collect().toMap
    Sampling.poissonBootstrapByGroup(gdf, Seq("g"), "id", "v", 64)
      .select("g", "ci_lo", "ci_hi").as[(String, Double, Double)]
      .collect().foreach { case (g, glo, ghi) =>
        assert(glo < gex(g) && gex(g) < ghi,
          s"group $g CI [$glo, $ghi] misses ${gex(g)}")
      }
    // the A/B twin: a planted +5 treatment effect is detected (CI
    // brackets +5, excludes 0); a null effect's CI contains 0
    val ab = (1 to n).map { i =>
      val c = if (i % 2 == 0) "t" else "c"
      val lift = if (c == "t") 5.0 else 0.0
      (i.toLong, c, 100.0 + (i % 97).toDouble + lift)
    }.toDF("id", "c", "v")
    val dr = Sampling.poissonBootstrapDiff(ab, "c", "t", "c", "id", "v",
      replicates = 64)
      .select("point_diff", "ci_lo", "ci_hi")
      .as[(Double, Double, Double)].head()
    // the cohorts interleave by parity, so their (i % 97) means differ
    // slightly from each other — compute the exact gap
    val exactDiff = ab.where(col("c") === "t").agg(avg("v"))
      .as[Double].head() -
      ab.where(col("c") === "c").agg(avg("v")).as[Double].head()
    assert(dr._2 < exactDiff && exactDiff < dr._3,
      s"diff CI [${dr._2}, ${dr._3}] misses $exactDiff")
    assert(dr._2 > 0, s"a +5 effect must exclude 0: [${dr._2}, ${dr._3}]")
    assert(math.abs(dr._1 - exactDiff) < 1e-6)
    val nullEff = Sampling.poissonBootstrapDiff(
      ab.withColumn("v", col("v") - when(col("c") === "t", 5.0)
        .otherwise(0.0)), "c", "t", "c", "id", "v", replicates = 64)
      .select("ci_lo", "ci_hi").as[(Double, Double)].head()
    assert(nullEff._1 < 0.5 && nullEff._2 > -0.5,
      s"null-effect CI should straddle ~0: $nullEff")
    // a cohort entirely ABSENT from the input: counts come back 0 (the
    // twin's COUNT(CASE) semantics — sum(when(..,1)) would emit NULL
    // and hash-diverge from the oracle) with null diff/CI, one row
    val absent = Sampling.poissonBootstrapDiff(
        ab.where(col("c") === "t"), "c", "t", "c", "id", "v", 64)
      .select("n_a", "n_b", "point_diff", "ci_median")
      .as[(Long, Long, Option[Double], Option[Double])].collect()
    assert(absent.length === 1)
    assert(absent.head._1 === (n / 2).toLong && absent.head._2 === 0L)
    assert(absent.head._3.isEmpty && absent.head._4.isEmpty)

    // Poisson(1) draw mass: each replicate redraws ~n rows total
    // the mix replicated by hand — this IS the cross-engine contract
    // (the DuckDB twin runs the same four steps), pinned here
    val h1 = pmod(col("__id") * lit(2654435761L) +
      col("__r") * lit(40503L), lit(4294967296L))
    val h2 = h1.bitwiseXOR(shiftright(h1, 16))
    val h3 = pmod(h2 * lit(1540483477L), lit(4294967296L))
    val base = df.select(col("id").cast("long").as("__id"),
      col("v").cast("decimal(18,2)").as("__v"))
      .withColumn("__r", explode(sequence(lit(0), lit(63))))
      .withColumn("__u", h3.bitwiseXOR(shiftright(h3, 13))
        .cast("double") / lit(4294967296.0))
    val ks = base.withColumn("__k",
        Sampling.poisson1Cdf.zipWithIndex.foldRight(
          lit(Sampling.poisson1Cdf.size): org.apache.spark.sql.Column) {
          case ((c, i), rest) => when(col("__u") < lit(c), lit(i))
            .otherwise(rest)
        })
      .groupBy("__r").agg(sum("__k").as("mass"))
      .agg(avg("mass")).as[Double].head()
    assert(math.abs(ks - n) < 0.05 * n, s"avg draw mass $ks vs n=$n")
  }

  test("poissonBootstrapQuantile: point is the exact type-1 quantile, " +
      "CI ordered and brackets it at sampling-noise scale, quantiles " +
      "monotone in p, deterministic under re-partitioning") {
    import graft.operators.Sampling
    val n = 4000
    val df = (1 to n).map(i => (i.toLong, 100.0 + (i % 97).toDouble))
      .toDF("id", "v")
    // type-1 median by hand: the ceil(n/2)-th value in sorted order
    val sorted = df.select("v").as[Double].collect().sorted
    val exactMed = sorted(n / 2 - 1 + (n % 2)) // 2000th (1-indexed)
    val r = Sampling.poissonBootstrapQuantile(df, "id", "v", 1, 2,
        replicates = 64)
      .as[(Int, Long, Double, Double, Double, Double)].head()
    val (reps, rows, point, lo, med, hi) = r
    assert(reps === 64 && rows === n.toLong)
    assert(point === exactMed, s"$point vs $exactMed")
    assert(lo <= med && med <= hi, r)
    // the replicate medians of this near-uniform integer-valued data
    // move a few units (SE ≈ 1/(2·f(m)·√n) ≈ 0.8): the interval must
    // bracket the truth and sit at that scale, not collapse to a point
    // (the underdispersion failure mode) nor blow out
    assert(lo <= exactMed && exactMed <= hi, s"CI [$lo, $hi] misses")
    assert(hi - lo > 0.4 && hi - lo < 8.0, s"width ${hi - lo}")
    // monotone in p, and the tails land where the data says they must
    val p25 = Sampling.poissonBootstrapQuantile(df, "id", "v", 1, 4,
      replicates = 64).select("point_q").as[Double].head()
    val p75 = Sampling.poissonBootstrapQuantile(df, "id", "v", 3, 4,
      replicates = 64).select("point_q").as[Double].head()
    assert(p25 === sorted(n / 4 - 1) && p75 === sorted(3 * n / 4 - 1))
    assert(p25 < point && point < p75, s"$p25 / $point / $p75")
    // deterministic under physical layout (content-derived hash)
    val r2 = Sampling.poissonBootstrapQuantile(df.repartition(13),
        "id", "v", 1, 2, replicates = 64)
      .as[(Int, Long, Double, Double, Double, Double)].head()
    assert(r2 === r)
    // contract edges
    assert(Sampling.poissonBootstrapQuantile(
      df.where(lit(false)), "id", "v", 1, 2, 64).isEmpty)
    val eQ = intercept[IllegalArgumentException] {
      Sampling.poissonBootstrapQuantile(df, "id", "v", 0, 2, 64)
    }
    assert(eQ.getMessage.contains("qNum"))
    val eNeg = intercept[IllegalArgumentException] {
      Sampling.poissonBootstrapQuantile(
        df.withColumn("id", col("id") - 10L), "id", "v", 1, 2, 64)
    }
    assert(eNeg.getMessage.contains("2^31"))
    // the grouped twin: each stratum's point is its own exact type-1
    // median and its CI brackets it, from the same single-scan shape
    val gdf = df.withColumn("g", (col("id") % 2).cast("string"))
    val gex = gdf.select("g", "v").as[(String, Double)].collect()
      .groupBy(_._1).map { case (g, vs) =>
        val sv = vs.map(_._2).sorted
        g -> sv(sv.length / 2 - 1 + (sv.length % 2))
      }
    val grouped = Sampling.poissonBootstrapQuantileByGroup(gdf,
        Seq("g"), "id", "v", 1, 2, 64)
      .select("g", "point_q", "ci_lo", "ci_hi")
      .as[(String, Double, Double, Double)].collect()
    assert(grouped.length === 2)
    grouped.foreach { case (g, pq, glo, ghi) =>
      assert(pq === gex(g), s"group $g point $pq vs ${gex(g)}")
      assert(glo <= gex(g) && gex(g) <= ghi,
        s"group $g CI [$glo, $ghi] misses ${gex(g)}")
    }
    // the A/B quantile twin: a planted +5 treatment shift moves the
    // median-difference CI clear of 0
    val ab = (1 to n).map { i =>
      val c = if (i % 2 == 0) "t" else "c"
      val lift = if (c == "t") 5.0 else 0.0
      (i.toLong, c, 100.0 + (i % 97).toDouble + lift)
    }.toDF("id", "c", "v")
    val qd = Sampling.poissonBootstrapQuantileDiff(ab, "c", "t", "c",
        "id", "v", 1, 2, replicates = 64)
      .as[(Int, Long, Long, Double, Double, Double, Double)].head()
    assert(qd._2 === (n / 2).toLong && qd._3 === (n / 2).toLong)
    assert(qd._4 > 2.0 && qd._4 < 8.0, s"point median shift: $qd")
    assert(qd._5 <= qd._6 && qd._6 <= qd._7)
    assert(qd._5 > 0.0, s"a +5 median shift must exclude 0: $qd")
    // a cohort entirely absent: counts 0 (COUNT(CASE) semantics), null
    // diff, one row; empty input: zero rows
    val qabs = Sampling.poissonBootstrapQuantileDiff(
        ab.where(col("c") === "t"), "c", "t", "c", "id", "v", 1, 2, 64)
      .select("n_a", "n_b", "point_diff")
      .as[(Long, Long, Option[Double])].head()
    assert(qabs._1 === (n / 2).toLong && qabs._2 === 0L &&
      qabs._3.isEmpty)
    assert(Sampling.poissonBootstrapQuantileDiff(
      ab.where(lit(false)), "c", "t", "c", "id", "v", 1, 2, 64).isEmpty)
  }

  test("poissonBootstrapRatio: exact ratio on a constant-ratio fixture " +
      "(degenerate CI), noisy fixture brackets the true ratio of sums, " +
      "deterministic, empty input -> zero rows") {
    import graft.operators.Sampling
    val n = 3000
    // num = 3·den exactly: every replicate's Σk·num/Σk·den is exactly 3,
    // whatever the draws — the CI must collapse onto the point
    val const = (1 to n).map(i => (i.toLong, 3.0 * (1 + i % 7),
      (1 + i % 7).toDouble)).toDF("id", "num", "den")
    val rc = Sampling.poissonBootstrapRatio(const, "id", "num", "den",
        replicates = 64)
      .select("point_ratio", "ci_lo", "ci_median", "ci_hi")
      .as[(Double, Double, Double, Double)].head()
    assert(rc === ((3.0, 3.0, 3.0, 3.0)), rc)
    // noisy ratio: CI brackets the exact Σnum/Σden, ordered, at
    // sampling-noise width
    val noisy = (1 to n).map { i =>
      val den = (1 + i % 7).toDouble
      (i.toLong, 3.0 * den + (i % 11 - 5).toDouble, den)
    }.toDF("id", "num", "den")
    val exact = noisy.agg(sum("num")).as[Double].head() /
      noisy.agg(sum("den")).as[Double].head()
    val rn = Sampling.poissonBootstrapRatio(noisy, "id", "num", "den",
        replicates = 64)
      .as[(Int, Long, Double, Double, Double, Double)].head()
    assert(rn._2 === n.toLong)
    assert(math.abs(rn._3 - exact) < 1e-6)
    assert(rn._4 <= rn._5 && rn._5 <= rn._6)
    assert(rn._4 < exact && exact < rn._6,
      s"CI [${rn._4}, ${rn._6}] misses $exact")
    val rn2 = Sampling.poissonBootstrapRatio(noisy.repartition(7),
        "id", "num", "den", replicates = 64)
      .as[(Int, Long, Double, Double, Double, Double)].head()
    assert(rn2 === rn)
    assert(Sampling.poissonBootstrapRatio(
      noisy.where(lit(false)), "id", "num", "den", 64).isEmpty)
  }
}
