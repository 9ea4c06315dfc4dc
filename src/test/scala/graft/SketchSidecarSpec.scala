package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.sources.SketchSidecar
import graft.sources.SketchSidecar.Scope

/** The heavy-hitters face of the sketch sidecar: per-batch CMS + exact
  * top-k candidates, merged serve, and the four guarantees (completeness,
  * no under-count, bounded over-count, soundness). The HLL/quantile face
  * is covered in CorpusPipelineSpec (corpus-loop integration) and by the
  * q_sketch_sidecar_gap twin.
  */
class SketchSidecarSpec extends AnyFunSuite with SparkFixture {
  import spark.implicits._

  private def freshCfg(topK: Int = 32): SketchSidecar.Cfg =
    SketchSidecar.Cfg(
      Files.createTempDirectory("sketch_hh").resolve("sc").toString,
      distinctExpr = "id", valueExpr = "id",
      heavyKeyExpr = Some("key"), topK = topK)

  test("heavy hitters: planted shares surface at their thresholds; " +
      "estimates never under-count and over-count within eps*N") {
    val cfg = freshCfg()
    // 3 batches, 400 rows total: "hot" 55%, "warm" 25%, 80 distinct rares
    var id = 0L
    def rows(spec: Seq[(String, Int)]): Seq[(Long, String)] =
      spec.flatMap { case (k, c) => (1 to c).map { _ => id += 1; (id, k) } }
    val batches = Seq(
      rows(Seq("hot" -> 80, "warm" -> 30) ++
        (1 to 20).map(i => s"r$i" -> 1)),
      rows(Seq("hot" -> 70, "warm" -> 40) ++
        (21 to 50).map(i => s"r$i" -> 1)),
      rows(Seq("hot" -> 70, "warm" -> 30) ++
        (51 to 80).map(i => s"r$i" -> 1)))
    batches.foreach(b =>
      SketchSidecar.appendBatch(b.toDF("id", "key"), cfg))
    val all = batches.flatten
    val n = all.length.toDouble
    def servedKeys(phi: Double): Seq[String] =
      SketchSidecar.servedHeavyHitters(spark, cfg.sidecarPath, phi)
        .select("key").as[String].collect().toSeq
    assert(servedKeys(0.5) === Seq("hot"))
    assert(servedKeys(0.2) === Seq("hot", "warm"))
    assert(servedKeys(0.04).toSet === Set("hot", "warm"),
      "rares (each 0.25%) must stay below a 4% bar")
    // bound checks over EVERY candidate
    val est = SketchSidecar
      .servedHeavyHitters(spark, cfg.sidecarPath, 1e-12)
      .select("key", "est").as[(String, Long)].collect().toMap
    val exact = all.groupBy(_._2).view.mapValues(_.size.toLong).toMap
    est.foreach { case (k, e) =>
      assert(e >= exact(k), s"CMS under-counted $k: $e < ${exact(k)}")
      assert(e <= exact(k) + cfg.cmsEps * n,
        s"CMS over-count beyond eps*N for $k")
    }
  }

  test("heavy hitters: a key spread thin across every batch still enters " +
      "the candidate set when topK >= 1/phi (completeness is structural, " +
      "not luck)") {
    // topK = 4, phi = 0.25: "spread" holds share exactly 0.25 of every
    // batch but is top-4 nowhere by COUNT alone unless the completeness
    // argument holds — each batch gives 3 keys a higher count, so spread
    // is rank 4 everywhere: the last guaranteed candidate slot
    val cfg = freshCfg(topK = 4)
    var id = 0L
    def rows(spec: Seq[(String, Int)]): Seq[(Long, String)] =
      spec.flatMap { case (k, c) => (1 to c).map { _ => id += 1; (id, k) } }
    // per batch: a=30, b=28, c=26, spread=30, fillers=6 → n_b=120;
    // spread share = 0.25 per batch and overall
    val mk = (i: Int) => rows(Seq(s"a$i" -> 30, s"b$i" -> 28, s"c$i" -> 26,
      "spread" -> 30) ++ (1 to 6).map(j => s"f$i$j" -> 1))
    (1 to 3).foreach(i =>
      SketchSidecar.appendBatch(mk(i).toDF("id", "key"), cfg))
    val served = SketchSidecar
      .servedHeavyHitters(spark, cfg.sidecarPath, phi = 0.25)
      .select("key").as[String].collect().toSeq
    assert(served === Seq("spread"),
      s"only 'spread' holds 25% of the whole corpus: $served")
  }

  test("compactRows: many batch rows merge to one; HLL and CMS serve " +
      "IDENTICALLY, quantiles stay within one extra 1/K of rank, appends " +
      "keep landing afterwards") {
    val cfg = freshCfg()
    val rnd = new scala.util.Random(11)
    var id = 0L
    def batch(hotShare: Int): Seq[(Long, String, Long)] =
      (1 to 100).map { _ =>
        id += 1
        val key = if (rnd.nextInt(100) < hotShare) "hot"
          else s"k${rnd.nextInt(40)}"
        (id, key, rnd.nextInt(1000).toLong)
      }
    val hhCfg = cfg.copy(distinctExpr = "id", valueExpr = "v")
    val batches = (1 to 6).map(_ => batch(40))
    batches.foreach(b =>
      SketchSidecar.appendBatch(b.toDF("id", "key", "v"), hhCfg))
    def dist() = SketchSidecar.servedDistinct(spark, cfg.sidecarPath)
      .collect().head.getLong(1)
    def hh() = SketchSidecar
      .servedHeavyHitters(spark, cfg.sidecarPath, 0.2)
      .select("key", "est").as[(String, Long)].collect().toSeq
    def p50() = SketchSidecar
      .servedQuantiles(spark, cfg.sidecarPath, Seq(0.5))
      .collect().head.getDouble(1)
    val (dBefore, hhBefore, p50Before) = (dist(), hh(), p50())
    assert(spark.read.parquet(cfg.sidecarPath).count() === 6)
    SketchSidecar.compactRows(spark, hhCfg)
    assert(spark.read.parquet(cfg.sidecarPath).count() === 1,
      "six rows must merge to one")
    // associative register/cell merges: estimates are exactly equal
    assert(dist() === dBefore)
    assert(hh() === hhBefore)
    // re-bucketing adds at most 1/K of rank: verify realized rank of the
    // new p50 against the raw values
    val values = batches.flatten.map(_._3.toDouble).sorted
    val n = values.length
    val v = p50()
    val lt = values.count(_ < v); val le = values.count(_ <= v)
    val err = math.max(0.0,
      math.max((lt + 1).toDouble / n - 0.5, 0.5 - le.toDouble / n)) -
      1.0 / n
    val bound = 3.0 / hhCfg.numBuckets + 1.0 / hhCfg.accuracy + 1e-9
    assert(err <= bound, s"p50 $v (was $p50Before) rank excess $err")
    // the loop continues: a fresh append lands NEXT to the merged row
    // and both contribute to the serve
    SketchSidecar.appendBatch(
      (1 to 50).map(i => (10000L + i, "newkey", 5000L))
        .toDF("id", "key", "v"), hhCfg)
    assert(spark.read.parquet(cfg.sidecarPath).count() === 2)
    assert(dist() > dBefore, "new ids must register")
    val hhAfter = SketchSidecar
      .servedHeavyHitters(spark, cfg.sidecarPath, 0.05)
      .select("key").as[String].collect().toSet
    assert(hhAfter.contains("newkey") && hhAfter.contains("hot"))
  }

  test("compactRows survives a sidecar whose rows all carry null " +
      "quantile summaries (all-null valueExpr batches)") {
    val cfg = SketchSidecar.Cfg(
      Files.createTempDirectory("sketch_nullqs").resolve("sc").toString,
      distinctExpr = "id", valueExpr = "v")
    val nullV = Seq((1L, Option.empty[Double]), (2L, Option.empty[Double]))
      .toDF("id", "v")
    SketchSidecar.appendBatch(nullV, cfg)
    SketchSidecar.appendBatch(nullV, cfg)
    SketchSidecar.compactRows(spark, cfg) // must not NPE
    val row = spark.read.parquet(cfg.sidecarPath)
    assert(row.count() === 1)
    assert(row.select("qs").collect().head.isNullAt(0))
    // distinct serving still works off the merged row
    assert(SketchSidecar.servedDistinct(spark, cfg.sidecarPath)
      .collect().head.getLong(1) === 2L)
  }

  test("heavy-hitter columns are absent when heavyKeyExpr is unset, and " +
      "serving from such a sidecar fails loudly") {
    val cfg = SketchSidecar.Cfg(
      Files.createTempDirectory("sketch_nohh").resolve("sc").toString,
      distinctExpr = "id", valueExpr = "id")
    SketchSidecar.appendBatch(
      (1L to 10L).map(i => (i, s"k$i")).toDF("id", "key"), cfg)
    val cols = spark.read.parquet(cfg.sidecarPath).columns.toSet
    assert(!cols.contains("cms") && !cols.contains("topk"))
    intercept[org.apache.spark.sql.AnalysisException] {
      SketchSidecar.servedHeavyHitters(spark, cfg.sidecarPath, 0.1)
        .collect()
    }
  }

  test("grouped sidecar: per-group distinct and quantiles track each " +
      "group's own distribution; the row-merge collapses each group (never " +
      "the groups) to one row and keeps serving") {
    val cfg = SketchSidecar.Cfg(
      Files.createTempDirectory("sketch_grp").resolve("sc").toString,
      distinctExpr = "id", valueExpr = "v", groupKeyExpr = Some("g"),
      numBuckets = 64)
    // group "lo" ~ values 0..99, group "hi" ~ values 1000..1999; three
    // batches, disjoint ids
    def batch(b: Int) =
      ((0 until 100).map(i => (b * 1000L + i, "lo", (i % 100).toLong)) ++
       (0 until 50).map(i => (b * 1000L + 500 + i, "hi",
         1000L + (i * 20) % 1000)))
        .toDF("id", "g", "v")
    (0 until 3).foreach(b => SketchSidecar.appendBatch(batch(b), cfg))
    def dist() = SketchSidecar
      .servedDistinct(spark, cfg.sidecarPath, Scope.PerGroup)
      .select("grp", "distinct_estimate").as[(String, Long)]
      .collect().toMap
    def p50() = SketchSidecar
      .servedQuantiles(spark, cfg.sidecarPath, Seq(0.5), Scope.PerGroup)
      .select("grp", "value").as[(String, Double)].collect().toMap
    val (d0, q0) = (dist(), p50())
    assert(d0("lo") === 300L && d0("hi") === 150L,
      s"sparse-regime HLL is exact at this cardinality: $d0")
    // each group's median sits in its own value range — a cross-group
    // leak would pull "lo" toward 1000+
    assert(q0("lo") >= 0.0 && q0("lo") <= 100.0, s"lo p50 ${q0("lo")}")
    assert(q0("hi") >= 1000.0 && q0("hi") <= 2000.0, s"hi p50 ${q0("hi")}")
    // the row-merge of a grouped sidecar collapses each group to one
    // row (never the groups into one) and serves identically for HLL,
    // within one re-bucketing of rank for quantiles
    SketchSidecar.compactRows(spark, cfg)
    val rows = spark.read.parquet(cfg.sidecarPath)
    assert(rows.count() === 2, "one merged row per group")
    assert(rows.select("grp").as[String].collect().toSet ===
      Set("lo", "hi"))
    assert(dist() === d0)
    val q1 = p50()
    assert(math.abs(q1("lo") - q0("lo")) <= 100.0 * 2.0 / 64 + 1e-6)
    // appends keep landing after the merge and register per group
    SketchSidecar.appendBatch(
      (0 until 25).map(i => (90000L + i, "hi", 1500L))
        .toDF("id", "g", "v"), cfg)
    assert(dist()("hi") === 175L && dist()("lo") === 300L)
    // any-window union across selected groups: the union of lo+hi is
    // the whole corpus; a requested group with no rows reports reduced
    // coverage instead of silently reading as zero-distinct
    val win = SketchSidecar.servedDistinct(spark, cfg.sidecarPath,
        Scope.Window(Seq("lo", "hi", "absent")))
      .collect().head
    assert(win.getAs[Long]("groups_covered") === 2L,
      "only 2 of 3 requested groups exist")
    assert(win.getAs[Long]("distinct_estimate") === 475L,
      "union = 300 lo + 175 hi distinct ids")
  }

  test("one merge per face: Window(all groups) serves Whole, PerGroup's " +
      "row for g serves Window(g), and one compactRows merges a grouped " +
      "and an ungrouped sidecar of the same batches to the same answers") {
    def mkCfg(name: String, grouped: Boolean) = SketchSidecar.Cfg(
      Files.createTempDirectory(s"sketch_scope_$name").resolve("sc")
        .toString,
      distinctExpr = "id", valueExpr = "v", numBuckets = 32,
      heavyKeyExpr = Some("key"), kmvKeyExpr = Some("id"), kmvK = 64,
      groupKeyExpr = if (grouped) Some("g") else None)
    val grouped = mkCfg("grouped", grouped = true)
    val flat = mkCfg("flat", grouped = false)
    val groups = Seq("x", "y", "z")
    // 3 batches x 3 groups; 10 keys (fewer than topK, so every slice's
    // Misra-Gries summary is exact and both layouts hold the same
    // candidates), integer values (exact double sums), 150 distinct ids
    // (HLL's exact coupon regime, where its union is layout-free)
    val batches = (0 until 3).map { b =>
      (0 until 50).map { i =>
        val id = b * 50L + i
        (id, groups((i + b) % 3), s"k${(i * i + b) % 10}",
          (id * 37) % 101 + (if (i % 3 == 0) 500L else 0L))
      }
    }
    batches.foreach { rows =>
      val df = rows.toDF("id", "g", "key", "v")
      SketchSidecar.appendBatch(df, grouped)
      SketchSidecar.appendBatch(df, flat)
    }
    val p = grouped.sidecarPath
    val faces: Seq[(String, Scope => org.apache.spark.sql.DataFrame)] = Seq(
      "distinct" -> (sc => SketchSidecar.servedDistinct(spark, p, sc)),
      "quantiles" -> (sc =>
        SketchSidecar.servedQuantiles(spark, p, Seq(0.1, 0.5, 0.9), sc)),
      "threshold" -> (sc => SketchSidecar.servedThreshold(spark, p, 0.5, sc)),
      "moments" -> (sc => SketchSidecar.servedMoments(spark, p, sc)),
      "heavy hitters" -> (sc =>
        SketchSidecar.servedHeavyHitters(spark, p, 1e-12, sc)),
      "key skew" -> (sc => SketchSidecar.servedKeySkew(spark, p, sc)),
      "kmv distinct" -> (sc => SketchSidecar.servedKmvDistinct(spark, p, sc)),
      "overlap" -> (sc => SketchSidecar.servedOverlap(spark, p, p, sc)))
    // the face columns, rows in a stable order
    def faceRows(df: org.apache.spark.sql.DataFrame): Seq[Seq[Any]] =
      df.drop("grp", "groups_covered", "a_groups_covered",
          "b_groups_covered")
        .collect().map(_.toSeq).toSeq.sortBy(_.mkString("|"))
    faces.foreach { case (face, serve) =>
      val whole = faceRows(serve(Scope.Whole))
      assert(whole.nonEmpty, s"$face serves nothing")
      assert(faceRows(serve(Scope.Window(groups))) === whole,
        s"$face: Window(all groups) must serve Whole")
      val perGroup = serve(Scope.PerGroup)
      groups.foreach { g =>
        assert(faceRows(perGroup.where(col("grp") === g)) ===
          faceRows(serve(Scope.Window(Seq(g)))),
          s"$face: PerGroup's $g row must serve Window($g)")
      }
    }
    // the one row-merge: per group on the grouped sidecar, to one row on
    // the ungrouped copy — the exact faces serve bit-identically on both
    def exactFaces(c: SketchSidecar.Cfg) = (
      SketchSidecar.servedDistinct(spark, c.sidecarPath)
        .select("distinct_estimate").as[Long].collect().head,
      SketchSidecar.servedHeavyHitters(spark, c.sidecarPath, 1e-12)
        .select("key", "est", "total").as[(String, Long, Long)]
        .collect().toSeq,
      SketchSidecar.servedKmvDistinct(spark, c.sidecarPath)
        .select("distinct_estimate").as[Double].collect().head,
      SketchSidecar.servedMoments(spark, c.sidecarPath)
        .select("vn", "vsum", "vsum2", "vmin", "vmax")
        .as[(Long, Double, Double, Double, Double)].collect().head)
    val before = exactFaces(grouped)
    assert(exactFaces(flat) === before)
    Seq(grouped, flat).foreach(SketchSidecar.compactRows(spark, _))
    assert(spark.read.parquet(grouped.sidecarPath).count() === 3,
      "one merged row per group")
    assert(spark.read.parquet(flat.sidecarPath).count() === 1)
    assert(exactFaces(grouped) === before)
    assert(exactFaces(flat) === before)
    // quantiles: one re-bucketing generation adds at most 1/K of rank
    val values = batches.flatten.map(_._4.toDouble).sorted
    val n = values.length
    val bound = 3.0 / grouped.numBuckets + 1.0 / grouped.accuracy + 1e-9
    Seq(grouped, flat).foreach { c =>
      SketchSidecar.servedQuantiles(spark, c.sidecarPath, Seq(0.1, 0.5, 0.9))
        .as[(Double, Double)].collect().foreach { case (q, v) =>
          val lt = values.count(_ < v); val le = values.count(_ <= v)
          val err = math.max(0.0, math.max((lt + 1).toDouble / n - q,
            q - le.toDouble / n)) - 1.0 / n
          assert(err <= bound, s"p$q = $v rank excess $err")
        }
    }
  }

  test("single-scan contract: every configured face — base, CMS+MG " +
      "candidates, KMV, grouped or not — aggregates in ONE pass over " +
      "the batch (exactly one leaf in the optimized plan)") {
    val allFaces = SketchSidecar.Cfg(
      Files.createTempDirectory("sketch_1scan").resolve("sc").toString,
      distinctExpr = "id", valueExpr = "v",
      heavyKeyExpr = Some("key"), kmvKeyExpr = Some("key"))
    val batch = (1L to 100L).map(i => (i, s"k${i % 7}", i * 2L))
      .toDF("id", "key", "v")
    Seq(allFaces, allFaces.copy(groupKeyExpr = Some("key"))).foreach { c =>
      val leaves = SketchSidecar.batchSummary(batch, c)
        .queryExecution.optimizedPlan.collectLeaves()
      assert(leaves.length === 1,
        s"multi-face append must scan the batch exactly once, got " +
          s"${leaves.length} leaves:\n${leaves.mkString("\n")}")
    }
  }

  test("fused grouped sidecar: one (batch, group) row carries every " +
      "face; corpus-level heavy hitters and KMV distinct merge straight " +
      "across the group rows; grouped row-merge preserves every serve") {
    val cfg = SketchSidecar.Cfg(
      Files.createTempDirectory("sketch_fused").resolve("sc").toString,
      distinctExpr = "id", valueExpr = "v",
      groupKeyExpr = Some("g"), heavyKeyExpr = Some("key"),
      kmvKeyExpr = Some("id"), kmvK = 64)
    // 3 batches × 2 groups; key "hot" holds 60% of group a (30% of the
    // corpus), ids disjoint across batches
    def batch(b: Int) =
      ((0 until 50).map { i =>
        (b * 1000L + i, "a", if (i < 30) "hot" else s"r$b$i", i.toLong)
      } ++ (0 until 50).map { i =>
        (b * 1000L + 500 + i, "b", s"c${i % 10}", 100L + i)
      }).toDF("id", "g", "key", "v")
    (0 until 3).foreach(b => SketchSidecar.appendBatch(batch(b), cfg))
    assert(spark.read.parquet(cfg.sidecarPath).count() === 6,
      "one row per (batch, group)")
    def distByGrp() = SketchSidecar
      .servedDistinct(spark, cfg.sidecarPath, Scope.PerGroup)
      .select("grp", "distinct_estimate").as[(String, Long)]
      .collect().toMap
    def hot() = SketchSidecar
      .servedHeavyHitters(spark, cfg.sidecarPath, phi = 0.25)
      .select("key").as[String].collect().toSeq
    def kmvDist() = SketchSidecar
      .servedKmvDistinct(spark, cfg.sidecarPath)
      .collect().head.getDouble(1)
    assert(distByGrp() === Map("a" -> 150L, "b" -> 150L))
    assert(hot() === Seq("hot"),
      "hot is 30% of the corpus — the only key above a 25% bar")
    val kd = kmvDist()
    assert(math.abs(kd - 300.0) / 300.0 <= 3.5 / math.sqrt(62.0),
      s"corpus KMV distinct $kd")
    // per-group serves from the same fused rows
    def hotByGrp() = SketchSidecar
      .servedHeavyHitters(spark, cfg.sidecarPath, phi = 0.5, Scope.PerGroup)
      .select("grp", "key").as[(String, String)].collect().toSeq
    assert(hotByGrp() === Seq(("a", "hot")),
      "hot is 60% of group a; no group-b key reaches 50%")
    def kmvByGrp() = SketchSidecar
      .servedKmvDistinct(spark, cfg.sidecarPath, Scope.PerGroup)
      .select("grp", "distinct_estimate").as[(String, Double)]
      .collect().toMap
    val kByGrp = kmvByGrp()
    val rse = 3.5 / math.sqrt(62.0)
    assert(kByGrp.keySet === Set("a", "b") &&
      kByGrp.values.forall(v => math.abs(v - 150.0) / 150.0 <= rse),
      s"per-group KMV distinct: $kByGrp")
    // grouped row-merge: every face survives per group
    SketchSidecar.compactRows(spark, cfg)
    assert(spark.read.parquet(cfg.sidecarPath).count() === 2)
    assert(distByGrp() === Map("a" -> 150L, "b" -> 150L))
    assert(hot() === Seq("hot"))
    assert(kmvDist() === kd,
      "bottom-k union is associative — the merged rows serve identically")
    assert(hotByGrp() === Seq(("a", "hot")))
    assert(kmvByGrp() === kByGrp,
      "per-group bottom-k serves identically off the merged rows")
  }

  test("per-group adaptive thresholds: each group's p-quantile lands in " +
      "its own value range; a missing sidecar serves an empty frame") {
    val cfg = SketchSidecar.Cfg(
      Files.createTempDirectory("sketch_thr").resolve("sc").toString,
      distinctExpr = "id", valueExpr = "v", groupKeyExpr = Some("g"),
      numBuckets = 64)
    assert(SketchSidecar
      .servedThreshold(spark, cfg.sidecarPath, 0.5, Scope.PerGroup)
      .isEmpty, "no sidecar yet -> empty frame, the bootstrap stance")
    // lo ~ 0..99, hi ~ 1000..1999 — a global bar would mis-gate one side
    def batch(b: Int) =
      ((0 until 100).map(i => (b * 1000L + i, "lo", (i % 100).toLong)) ++
       (0 until 100).map(i => (b * 1000L + 500 + i, "hi",
         1000L + (i * 10) % 1000)))
        .toDF("id", "g", "v")
    (0 until 2).foreach(b => SketchSidecar.appendBatch(batch(b), cfg))
    val thr = SketchSidecar
      .servedThreshold(spark, cfg.sidecarPath, 0.5, Scope.PerGroup)
      .as[(String, Double)].collect().toMap
    assert(thr.keySet === Set("lo", "hi"))
    assert(thr("lo") >= 0.0 && thr("lo") <= 100.0, s"lo ${thr("lo")}")
    assert(thr("hi") >= 1000.0 && thr("hi") <= 2000.0, s"hi ${thr("hi")}")
    // the documented gate composition: per-group bar, fixed-floor
    // fallback for a group with no history
    val probe = Seq((1L, "lo", 60L), (2L, "lo", 10L), (3L, "hi", 1600L),
        (4L, "hi", 1100L), (5L, "new", 7L))
      .toDF("id", "g", "v")
    val kept = probe
      .join(broadcast(SketchSidecar.servedThreshold(
        spark, cfg.sidecarPath, 0.5, Scope.PerGroup)
        .withColumnRenamed("grp", "g")), Seq("g"), "left")
      .where(col("v") >= coalesce(col("threshold"), lit(5.0)))
      .select("id").as[Long].collect().toSet
    assert(kept === Set(1L, 3L, 5L),
      "per-group medians gate each group on its own scale; the " +
        "history-less group falls back to the fixed floor")
  }

  // ---- KMV bottom-k: the set-operation face of the sidecar ----

  test("kmv helpers: unsigned order, dedup, cap, and merge " +
      "associativity/idempotence (negative longs sort HIGH)") {
    val k = 4
    // -1L is the LARGEST unsigned value: it must be evicted first
    var buf = Array.emptyLongArray
    Seq(5L, -1L, 3L, 3L, 7L, 1L).foreach(h =>
      buf = SketchSidecar.kmvInsert(buf, h, k))
    assert(buf.toSeq === Seq(1L, 3L, 5L, 7L),
      s"expected the 4 smallest unsigned values, got ${buf.toSeq}")
    // insert below the max evicts the max
    buf = SketchSidecar.kmvInsert(buf, 2L, k)
    assert(buf.toSeq === Seq(1L, 2L, 3L, 5L))
    // merge: associative, commutative, idempotent
    val a = Array(1L, 3L, 9L)
    val b = Array(2L, 3L, -5L) // -5 unsigned-huge
    val ab = SketchSidecar.kmvMergeArrays(a, b, k)
    assert(ab.toSeq === Seq(1L, 2L, 3L, 9L))
    assert(SketchSidecar.kmvMergeArrays(b, a, k).toSeq === ab.toSeq)
    assert(SketchSidecar.kmvMergeArrays(ab, ab, k).toSeq === ab.toSeq)
    val c = Array(4L, 5L)
    val left = SketchSidecar.kmvMergeArrays(
      SketchSidecar.kmvMergeArrays(a, b, k), c, k)
    val right = SketchSidecar.kmvMergeArrays(
      a, SketchSidecar.kmvMergeArrays(b, c, k), k)
    assert(left.toSeq === right.toSeq)
    // estimate: exact below k, (k-1)/theta at k
    assert(SketchSidecar.kmvEstimate(Array(1L, 2L), k) === 2.0)
    val full = Array(1L, 2L, 3L, Long.MaxValue) // theta ~ 0.5
    val est = SketchSidecar.kmvEstimate(full, k)
    assert(math.abs(est - 6.0) < 0.01, s"(k-1)/0.5 = 6, got $est")
    // the driver-merge contract is explicit: kmvK beyond the documented
    // cap (k longs per side on the driver at serve time) fails at Cfg
    // construction, not silently at scale
    intercept[IllegalArgumentException] {
      SketchSidecar.Cfg("/tmp/x", "id", "v",
        kmvKeyExpr = Some("id"), kmvK = 65537)
    }
  }

  test("kmv exact regime: sketches below k answer overlap EXACTLY") {
    def mk(name: String, ids: Seq[Long], batches: Int) = {
      val cfg = SketchSidecar.Cfg(
        Files.createTempDirectory(s"kmv_$name").resolve("sc").toString,
        distinctExpr = "id", valueExpr = "id",
        kmvKeyExpr = Some("id"), kmvK = 1024)
      ids.grouped(math.max(1, ids.length / batches)).foreach(g =>
        SketchSidecar.appendBatch(g.map(Tuple1(_)).toDF("id"), cfg))
      cfg
    }
    // |A|=300, |B|=300, overlap 100 → union 500, J = 0.2
    val cfgA = mk("a", 1L to 300L, 3)
    val cfgB = mk("b", 201L to 500L, 2)
    val row = SketchSidecar
      .servedOverlap(spark, cfgA.sidecarPath, cfgB.sidecarPath)
      .collect().head
    assert(row.getDouble(0) === 300.0) // a_est
    assert(row.getDouble(1) === 300.0) // b_est
    assert(row.getDouble(2) === 500.0) // union_est
    assert(row.getDouble(3) === 0.2)   // jaccard
    assert(row.getDouble(4) === 100.0) // inter_est
    assert(row.getDouble(5) === 200.0) // a_only_est
    assert(row.getDouble(6) === 200.0) // b_only_est
    // distinct serve agrees
    assert(SketchSidecar.servedKmvDistinct(spark, cfgA.sidecarPath)
      .collect().head.getDouble(1) === 300.0)
  }

  test("kmv by group: per-group overlap is exact below k, a group " +
      "missing from one side prices as zero overlap, ungrouped/kmv-less " +
      "sidecars fail loudly") {
    def mk(name: String, rows: Seq[(Long, String)]) = {
      val cfg = SketchSidecar.Cfg(
        Files.createTempDirectory(s"gkmv_$name").resolve("sc").toString,
        distinctExpr = "id", valueExpr = "id",
        kmvKeyExpr = Some("id"), kmvK = 1024,
        groupKeyExpr = Some("g"))
      rows.grouped(math.max(1, rows.length / 2)).foreach(b =>
        SketchSidecar.appendBatch(b.toDF("id", "g"), cfg))
      cfg
    }
    // group x: A 1..300, B 201..500 (inter 100, union 500, J 0.2);
    // group y: A only 1000..1099; group z: B only 2000..2049
    val cfgA = mk("a", (1L to 300L).map((_, "x")) ++
      (1000L to 1099L).map((_, "y")))
    val cfgB = mk("b", (201L to 500L).map((_, "x")) ++
      (2000L to 2049L).map((_, "z")))
    val rows = SketchSidecar
      .servedOverlap(spark, cfgA.sidecarPath, cfgB.sidecarPath,
        Scope.PerGroup)
      .collect().map(r => r.getString(0) -> r.toSeq.tail).toMap
    assert(rows.keySet === Set("x", "y", "z"))
    assert(rows("x") === Seq(300.0, 300.0, 500.0, 0.2, 100.0, 200.0, 200.0))
    assert(rows("y") === Seq(100.0, 0.0, 100.0, 0.0, 0.0, 100.0, 0.0))
    assert(rows("z") === Seq(0.0, 50.0, 50.0, 0.0, 0.0, 0.0, 50.0))
    // a NULL group key is a real group (null source values happen in
    // real crawls) — it must serve, not NPE the driver-side sort
    val withNull = mk("n", (900L to 905L).map((_, "x")) ++
      Seq((910L, null.asInstanceOf[String]), (911L, null.asInstanceOf[String])))
    val nullRows = SketchSidecar
      .servedOverlap(spark, withNull.sidecarPath, cfgB.sidecarPath,
        Scope.PerGroup)
      .where(col("grp").isNull).collect()
    assert(nullRows.length === 1 && nullRows.head.getDouble(1) === 2.0,
      "the null group's own sketch must serve")
    assert(SketchSidecar
      .servedKmvDistinct(spark, withNull.sidecarPath, Scope.PerGroup)
      .where(col("grp").isNull).select("distinct_estimate")
      .collect().head.getDouble(0) === 2.0)
    // an ungrouped KMV sidecar cannot serve the grouped question
    val flat = SketchSidecar.Cfg(
      Files.createTempDirectory("gkmv_flat").resolve("sc").toString,
      distinctExpr = "id", valueExpr = "id", kmvKeyExpr = Some("id"))
    SketchSidecar.appendBatch((1L to 10L).map(Tuple1(_)).toDF("id"), flat)
    intercept[IllegalArgumentException] {
      SketchSidecar.servedOverlap(spark, flat.sidecarPath,
        cfgB.sidecarPath, Scope.PerGroup)
    }
    // a grouped sidecar without the KMV face cannot either
    val noKmv = SketchSidecar.Cfg(
      Files.createTempDirectory("gkmv_none").resolve("sc").toString,
      distinctExpr = "id", valueExpr = "id", groupKeyExpr = Some("g"))
    SketchSidecar.appendBatch(
      (1L to 10L).map((_, "x")).toDF("id", "g"), noKmv)
    intercept[IllegalArgumentException] {
      SketchSidecar.servedOverlap(spark, noKmv.sidecarPath,
        cfgB.sidecarPath, Scope.PerGroup)
    }
  }

  test("kmv full regime: 20k-element sets with planted overlap stay " +
      "within the 3.5-sigma bounds at k=512") {
    val k = 512
    def mk(name: String, ids: Seq[Long]) = {
      val cfg = SketchSidecar.Cfg(
        Files.createTempDirectory(s"kmvf_$name").resolve("sc").toString,
        distinctExpr = "id", valueExpr = "id",
        kmvKeyExpr = Some("id"), kmvK = k)
      ids.grouped(7000).foreach(g =>
        SketchSidecar.appendBatch(g.map(Tuple1(_)).toDF("id"), cfg))
      cfg
    }
    // A = 1..20000, B = 15001..35000: union 35000, inter 5000, J = 1/7
    val cfgA = mk("a", 1L to 20000L)
    val cfgB = mk("b", 15001L to 35000L)
    val row = SketchSidecar
      .servedOverlap(spark, cfgA.sidecarPath, cfgB.sidecarPath)
      .collect().head
    val relBound = 3.5 / math.sqrt((k - 2).toDouble)
    val jBound = 3.5 * 0.5 / math.sqrt(k.toDouble)
    assert(math.abs(row.getDouble(0) - 20000) / 20000.0 <= relBound)
    assert(math.abs(row.getDouble(1) - 20000) / 20000.0 <= relBound)
    assert(math.abs(row.getDouble(2) - 35000) / 35000.0 <= relBound)
    assert(math.abs(row.getDouble(3) - 1.0 / 7) <= jBound,
      s"jaccard ${row.getDouble(3)} vs ${1.0 / 7}")
    assert(math.abs(row.getDouble(4) - 5000) / 35000.0 <=
      jBound + relBound)
  }

  test("kmv: compactRows merges rows to one with BIT-IDENTICAL serves, " +
      "mixed-k sidecars and kmv-less sidecars fail loudly") {
    val cfg = SketchSidecar.Cfg(
      Files.createTempDirectory("kmv_compact").resolve("sc").toString,
      distinctExpr = "id", valueExpr = "id",
      kmvKeyExpr = Some("id"), kmvK = 64)
    (0 until 4).foreach(b => SketchSidecar.appendBatch(
      (1L to 1000L).filter(_ % 4 == b).map(Tuple1(_)).toDF("id"), cfg))
    val other = cfg.copy(sidecarPath =
      Files.createTempDirectory("kmv_other").resolve("sc").toString)
    SketchSidecar.appendBatch(
      (500L to 1500L).map(Tuple1(_)).toDF("id"), other)
    def overlap() = SketchSidecar
      .servedOverlap(spark, cfg.sidecarPath, other.sidecarPath)
      .collect().head.toSeq
    val before = overlap()
    SketchSidecar.compactRows(spark, cfg)
    assert(spark.read.parquet(cfg.sidecarPath).count() === 1)
    assert(overlap() === before,
      "bottom-k union is associative: the merged row must serve " +
        "bit-identically")
    // appends keep landing and registering after the row-merge
    SketchSidecar.appendBatch(
      (2000L to 2200L).map(Tuple1(_)).toDF("id"), cfg)
    assert(SketchSidecar.servedKmvDistinct(spark, cfg.sidecarPath)
      .collect().head.getDouble(1) > before.head.asInstanceOf[Double])
    // mixed kmvK: not union-comparable, must throw
    val mixed = cfg.copy(kmvK = 128)
    SketchSidecar.appendBatch(
      (1L to 10L).map(Tuple1(_)).toDF("id"), mixed)
    intercept[IllegalArgumentException] {
      SketchSidecar.servedKmvDistinct(spark, cfg.sidecarPath).collect()
    }
    // a sidecar without kmv serves distinct/quantiles but not overlap
    val noKmv = SketchSidecar.Cfg(
      Files.createTempDirectory("kmv_none").resolve("sc").toString,
      distinctExpr = "id", valueExpr = "id")
    SketchSidecar.appendBatch(
      (1L to 10L).map(Tuple1(_)).toDF("id"), noKmv)
    intercept[IllegalArgumentException] {
      SketchSidecar.servedKmvDistinct(spark, noKmv.sidecarPath).collect()
    }
  }

  test("windowed serves: heavy hitters and KMV distinct across a group " +
      "subset answer from the covered rows only — a key heavy in the " +
      "window but diluted overall surfaces, and absent groups are " +
      "reported, not invented") {
    val cfg = SketchSidecar.Cfg(
      Files.createTempDirectory("sketch_win").resolve("sc").toString,
      distinctExpr = "id", valueExpr = "id",
      groupKeyExpr = Some("day"), heavyKeyExpr = Some("key"),
      kmvKeyExpr = Some("id"), kmvK = 64)
    // 2 batches x 4 days; key "burst" holds 50% of days d1-d2 but 20%
    // overall (diluted by d3-d4 where it never appears)
    var id = 0L
    def rows(day: String, spec: Seq[(String, Int)]): Seq[(Long, String,
        String)] =
      spec.flatMap { case (k, c) =>
        (1 to c).map { _ => id += 1; (id, day, k) } }
    (0 until 2).foreach { _ =>
      val b = rows("d1", Seq("burst" -> 15, "a" -> 10, "b" -> 5)) ++
        rows("d2", Seq("burst" -> 15, "a" -> 8, "b" -> 7)) ++
        rows("d3", Seq("a" -> 20, "b" -> 25)) ++
        rows("d4", Seq("a" -> 30, "b" -> 15))
      SketchSidecar.appendBatch(b.toDF("id", "day", "key"), cfg)
    }
    val winServe = SketchSidecar.servedHeavyHitters(
      spark, cfg.sidecarPath, phi = 0.4, Scope.Window(Seq("d1", "d2", "d9")))
    val windowKeys = winServe.select("key").as[String].collect().toSeq
    assert(windowKeys === Seq("burst"),
      s"only 'burst' holds 40% of the d1-d2 window: $windowKeys")
    assert(winServe.select("groups_covered").as[Long].collect().head
      === 2L, "d9 never had rows: covered = 2, reported not invented")
    val globalKeys = SketchSidecar.servedHeavyHitters(
        spark, cfg.sidecarPath, phi = 0.4)
      .select("key").as[String].collect().toSeq
    assert(!globalKeys.contains("burst"),
      "burst is diluted to 20% corpus-wide and must NOT serve at 40%")
    // windowed KMV: d1-d2 hold exactly the ids inserted there (2 x 60
    // rows < k = 64 per slice... union 120 > k, estimator regime); vs
    // the exact window count the rse bound must hold
    val kmvWin = SketchSidecar.servedKmvDistinct(
        spark, cfg.sidecarPath, Scope.Window(Seq("d1", "d2", "d9")))
      .collect().head
    assert(kmvWin.getAs[Long]("groups_covered") === 2,
      "d9 never had rows: covered = 2")
    val exactWin = 120.0
    assert(math.abs(kmvWin.getAs[Double]("distinct_estimate") - exactWin) /
      exactWin <=
      3.5 / math.sqrt(62.0))
    // ungrouped sidecar: windowed serves must refuse loudly
    val flat = SketchSidecar.Cfg(
      Files.createTempDirectory("sketch_win_flat").resolve("sc").toString,
      distinctExpr = "id", valueExpr = "id",
      heavyKeyExpr = Some("key"), kmvKeyExpr = Some("id"), kmvK = 64)
    SketchSidecar.appendBatch(
      Seq((1L, "x")).toDF("id", "key"), flat)
    intercept[IllegalArgumentException] {
      SketchSidecar.servedHeavyHitters(
        spark, flat.sidecarPath, 0.1, Scope.Window(Seq("d1"))).collect()
    }
    intercept[IllegalArgumentException] {
      SketchSidecar.servedKmvDistinct(
        spark, flat.sidecarPath, Scope.Window(Seq("d1")))
    }
  }

  test("join-size estimate: the CMS inner product of two sidecars " +
      "sandwiches the exact join cardinality (never under, over by at " +
      "most 2*Na*Nb/width), the parse satisfies the row-sum invariant, " +
      "and differently-seeded sketches refuse loudly") {
    def mkCfg(seed: Int = 42) = SketchSidecar.Cfg(
      Files.createTempDirectory("cms_join").resolve("sc").toString,
      distinctExpr = "id", valueExpr = "id",
      heavyKeyExpr = Some("key"), cmsSeed = seed)
    val cfgA = mkCfg()
    val cfgB = mkCfg()
    // A: key k_i with multiplicity (i % 7) + 1 over 200 keys; B: only
    // even keys, multiplicity (i % 5) + 1 — planted exact join size
    def side(keys: Range, mult: Int => Int): Seq[(Long, String)] = {
      var id = 0L
      keys.flatMap { i => (1 to mult(i)).map { _ =>
        id += 1; (id, s"k$i") } }
    }
    val aRows = side(0 until 200, i => (i % 7) + 1)
    val bRows = side(0 until 200 by 2, i => (i % 5) + 1)
    // 2 batches each, split by hash of the synthetic id
    Seq((aRows, cfgA), (bRows, cfgB)).foreach { case (rows, cfg) =>
      (0 until 2).foreach { b =>
        SketchSidecar.appendBatch(
          rows.filter(_._1 % 2 == b).toDF("id", "key"), cfg)
      }
    }
    val exact = (0 until 200 by 2)
      .map(i => ((i % 7) + 1).toLong * ((i % 5) + 1)).sum
    val r = SketchSidecar
      .servedJoinSize(spark, cfgA.sidecarPath, cfgB.sidecarPath)
      .collect().head
    val (aN, bN, est, bound) =
      (r.getLong(0), r.getLong(1), r.getDouble(2), r.getDouble(3))
    assert(aN === aRows.length.toLong && bN === bRows.length.toLong)
    assert(est >= exact.toDouble,
      s"inner product must never under-estimate: $est < $exact")
    assert(est - exact <= bound,
      s"excess ${est - exact} beyond the 2*Na*Nb/width bound $bound")
    // a different seed hashes differently — not comparable
    val cfgC = mkCfg(seed = 7)
    (0 until 2).foreach { b =>
      SketchSidecar.appendBatch(
        bRows.filter(_._1 % 2 == b).toDF("id", "key"), cfgC)
    }
    intercept[IllegalArgumentException] {
      SketchSidecar.servedJoinSize(spark, cfgA.sidecarPath,
        cfgC.sidecarPath).collect()
    }
    // upstream-format canary: round-trip a freshly built CountMinSketch
    // through parseCms so a Spark dependency bump that changes the
    // private version-1 binary layout breaks HERE at build time, not in
    // a production servedJoinSize/servedKeySkew call. Pins the parsed
    // dims against the class's own accessors (a block-order misparse
    // cannot fake those AND the row-sum invariant below), the version
    // gate, and the per-row sum invariant the parser's layout
    // disambiguation relies on.
    val sk = org.apache.spark.util.sketch.CountMinSketch
      .create(0.01, 0.9, 13)
    (1 to 50).foreach(i => sk.add(s"x${i % 9}"))
    val parsed = SketchSidecar.parseCms(sk.toByteArray)
    assert(parsed.depth === sk.depth().toInt)
    assert(parsed.width === sk.width().toInt)
    assert(parsed.total === sk.totalCount())
    assert(parsed.total === 50L)
    assert(parsed.hashA.length === parsed.depth)
    (0 until parsed.depth).foreach { dd =>
      val rowSum = (0 until parsed.width)
        .map(w => parsed.table(dd * parsed.width + w)).sum
      assert(rowSum === 50L)
    }
    // and the F2 self-product SketchSidecar derives from the table is
    // sane: ≥ the true second moment (i%9 over 1..50 → residues 1..5
    // appear 6 times, residues 0 and 6..8 appear 5 times)
    val trueF2 = 5 * 36L + 4 * 25L
    val f2Est = (0 until parsed.depth).map { dd =>
      (0 until parsed.width)
        .map { w => val v = parsed.table(dd * parsed.width + w); v * v }
        .sum
    }.min
    assert(f2Est >= trueF2)
  }

  test("batch anomaly screen: a shifted batch flags, an in-distribution " +
      "batch passes, and a missing sidecar bootstraps to not-anomalous") {
    val cfg = SketchSidecar.Cfg(
      Files.createTempDirectory("mom_anom").resolve("sc").toString,
      distinctExpr = "id", valueExpr = "v")
    def anom(rows: Seq[(Long, Long)],
             c: SketchSidecar.Cfg): org.apache.spark.sql.Row =
      SketchSidecar.batchAnomaly(rows.toDF("id", "v"), c, zMax = 4.0)
        .collect().head
    // bootstrap: no sidecar yet
    val boot = anom(Seq((1L, 100L)), cfg)
    assert(!boot.getBoolean(boot.fieldIndex("anomalous")))
    assert(boot.isNullAt(boot.fieldIndex("welch_z")))
    // corpus: 3 batches of values ~N(100, small spread)
    var id = 0L
    (1 to 3).foreach { b =>
      SketchSidecar.appendBatch((1 to 200).map { i =>
        id += 1; (id, 90L + ((b * 7 + i * 13) % 21)) }.toDF("id", "v"),
        cfg)
    }
    // in-distribution batch (same construction): passes
    val ok = anom((1 to 100).map { i =>
      id += 1; (id, 90L + ((i * 13) % 21)) }, cfg)
    assert(!ok.getBoolean(ok.fieldIndex("anomalous")),
      s"in-distribution batch flagged: z=${ok.get(ok.fieldIndex("welch_z"))}")
    // shifted batch (mean 300 vs ~100): flags
    val bad = anom((1 to 100).map { i => id += 1; (id, 290L + (i % 21)) },
      cfg)
    assert(bad.getBoolean(bad.fieldIndex("anomalous")))
    assert(math.abs(bad.getDouble(bad.fieldIndex("welch_z"))) > 4.0)
  }

  test("overlap between two windows of one grouped KMV sidecar: exact " +
      "in the below-k regime, one-empty-window degrades to zero overlap, " +
      "both-empty refuses") {
    val cfg = SketchSidecar.Cfg(
      Files.createTempDirectory("kmv_winov").resolve("sc").toString,
      distinctExpr = "id", valueExpr = "id",
      groupKeyExpr = Some("day"), kmvKeyExpr = Some("id"), kmvK = 256)
    // d1: ids 1-100, d2: ids 51-150 — inter 50, union 150, all < k
    val rows = (1L to 100L).map(i => (i, "d1")) ++
      (51L to 150L).map(i => (i, "d2"))
    (0 until 2).foreach(b => SketchSidecar.appendBatch(
      rows.filter(_._1 % 2 == b).toDF("id", "day"), cfg))
    val r = SketchSidecar.servedOverlapBetweenWindows(
      spark, cfg.sidecarPath, Seq("d1"), Seq("d2", "d9")).collect().head
    assert(r.getLong(0) === 1L && r.getLong(1) === 1L,
      "d9 never had rows: b covered = 1")
    assert(r.getDouble(r.fieldIndex("a_est")) === 100.0)
    assert(r.getDouble(r.fieldIndex("b_est")) === 100.0)
    assert(r.getDouble(r.fieldIndex("union_est")) === 150.0)
    assert(r.getDouble(r.fieldIndex("inter_est")) === 50.0)
    assert(r.getDouble(r.fieldIndex("a_only_est")) === 50.0)
    assert(r.getDouble(r.fieldIndex("b_only_est")) === 50.0)
    assert(math.abs(r.getDouble(r.fieldIndex("jaccard")) - 50.0 / 150.0)
      < 1e-12)
    // one side entirely absent: empty exact sketch, zero overlap
    val e = SketchSidecar.servedOverlapBetweenWindows(
      spark, cfg.sidecarPath, Seq("d9"), Seq("d2")).collect().head
    assert(e.getLong(0) === 0L)
    assert(e.getDouble(e.fieldIndex("a_est")) === 0.0)
    assert(e.getDouble(e.fieldIndex("inter_est")) === 0.0)
    assert(e.getDouble(e.fieldIndex("b_est")) === 100.0)
    // both sides absent: nothing to estimate with — loud refusal
    intercept[IllegalArgumentException] {
      SketchSidecar.servedOverlapBetweenWindows(
        spark, cfg.sidecarPath, Seq("d8"), Seq("d9"))
    }
  }

  test("key-skew from the CMS sidecar: F2 sandwiches the exact second " +
      "moment, the top-share bracket contains the true share, and a " +
      "skewed column reports far fewer effective keys than distinct") {
    val cfg = freshCfg()
    // planted skew: "dom" holds 50%, 100 rares split the rest evenly
    var id = 0L
    def rows(spec: Seq[(String, Int)]): Seq[(Long, String)] =
      spec.flatMap { case (k, c) => (1 to c).map { _ => id += 1; (id, k) } }
    (0 until 2).foreach { _ =>
      SketchSidecar.appendBatch(
        rows(Seq("dom" -> 100) ++ (1 to 100).map(i => s"r$i" -> 1))
          .toDF("id", "key"), cfg)
    }
    val exact = Map("dom" -> 200L) ++ (1 to 100).map(i => s"r$i" -> 2L)
    val exactF2 = exact.values.map(c => c * c).sum
    val n = exact.values.sum.toDouble
    val r = SketchSidecar.servedKeySkew(spark, cfg.sidecarPath)
      .collect().head
    val f2 = r.getDouble(r.fieldIndex("f2_est"))
    assert(f2 >= exactF2.toDouble,
      s"F2 must never under-estimate: $f2 < $exactF2")
    assert(f2 - exactF2 <= r.getDouble(r.fieldIndex("f2_bound")))
    val topShare = 200.0 / n
    assert(r.getDouble(r.fieldIndex("top_share_lb")) <= topShare + 1e-9)
    assert(r.getDouble(r.fieldIndex("top_share_ub")) >= topShare - 1e-9)
    // 101 distinct keys, but the square mass is dominated by "dom":
    // effective uniform keys = n^2/F2 = 160000/40400 ~ 4 — the salting
    // signal (scan-free) a 101-distinct count would hide
    val eff = r.getDouble(r.fieldIndex("uniform_equiv_keys"))
    assert(eff < 10.0, s"skewed column must report few effective keys: $eff")
    assert(math.abs(r.getDouble(r.fieldIndex("l2_l1_ratio")) -
      math.sqrt(f2) / n) < 1e-12)
    // a sidecar whose CMS saw no keys refuses loudly
    val empty = freshCfg()
    SketchSidecar.appendBatch(
      Seq((1L, null: String)).toDF("id", "key"), empty)
    intercept[IllegalArgumentException] {
      SketchSidecar.servedKeySkew(spark, empty.sidecarPath)
    }
    // grouped: the skewed group reports far fewer effective keys than
    // the uniform one on the same serve; an all-null-key group is
    // omitted, not served as NaN
    val gcfg = SketchSidecar.Cfg(
      Files.createTempDirectory("sketch_gskew").resolve("sc").toString,
      distinctExpr = "id", valueExpr = "id",
      groupKeyExpr = Some("g"), heavyKeyExpr = Some("key"))
    var gid = 0L
    def grows(g: String, spec: Seq[(String, Int)]) =
      spec.flatMap { case (k, c) => (1 to c).map { _ =>
        gid += 1; (gid, g, k) } }
    (0 until 2).foreach { _ =>
      SketchSidecar.appendBatch(
        (grows("skewed", Seq("dom" -> 100) ++
            (1 to 100).map(i => s"r$i" -> 1)) ++
          grows("uniform", (1 to 100).map(i => s"u$i" -> 2)) ++
          (1 to 5).map { _ => gid += 1; (gid, "nullkey",
            null.asInstanceOf[String]) })
          .toDF("id", "g", "key"), gcfg)
    }
    val byGrp = SketchSidecar.servedKeySkew(spark, gcfg.sidecarPath,
        Scope.PerGroup)
      .collect().map(x => x.getString(0) -> x).toMap
    assert(byGrp.keySet === Set("skewed", "uniform"),
      "the all-null-key group must be omitted")
    val skewEff = byGrp("skewed")
      .getDouble(byGrp("skewed").fieldIndex("uniform_equiv_keys"))
    val unifEff = byGrp("uniform")
      .getDouble(byGrp("uniform").fieldIndex("uniform_equiv_keys"))
    assert(skewEff < 10.0 && unifEff > 50.0,
      s"skewed=$skewEff uniform=$unifEff")
    // per-group sandwich for the skewed group
    val sf2 = byGrp("skewed").getDouble(byGrp("skewed").fieldIndex("f2_est"))
    val sExact = (200L * 200L + 100L * 2L * 2L).toDouble
    assert(sf2 >= sExact &&
      sf2 - sExact <= byGrp("skewed")
        .getDouble(byGrp("skewed").fieldIndex("f2_bound")))
  }

  test("moments face: served mean/variance/extrema EQUAL a direct scan " +
      "(per group, across selected groups, and cross-group), survive " +
      "row-merge bit-for-bit, and null values don't poison the mean") {
    val cfg = SketchSidecar.Cfg(
      Files.createTempDirectory("sketch_mom").resolve("sc").toString,
      distinctExpr = "id", valueExpr = "v", groupKeyExpr = Some("g"))
    // 3 batches × 2 groups, integer values (exact double sums), group b
    // carries some null values in batch 2
    def batch(b: Int) = (0 until 40).map { i =>
      val g = if (i % 2 == 0) "a" else "b"
      val v: java.lang.Long =
        if (g == "b" && b == 2 && i < 10) null
        else java.lang.Long.valueOf((b * 100 + i * 3).toLong)
      (b * 1000L + i, g, v)
    }.toDF("id", "g", "v")
    val all = (1 to 3).map(batch).reduce(_ unionAll _)
    (1 to 3).foreach(b => SketchSidecar.appendBatch(batch(b), cfg))
    def direct(df: org.apache.spark.sql.DataFrame): (Long, Double, Double,
        Double, Double) = {
      val r = df.agg(count(col("v")).as("vn"),
        sum(col("v").cast("double")).as("vsum"),
        min(col("v").cast("double")).as("vmin"),
        max(col("v").cast("double")).as("vmax"),
        sum(col("v").cast("double") * col("v")).as("vsum2"))
        .collect().head
      (r.getLong(0), r.getDouble(1), r.getDouble(2), r.getDouble(3),
        r.getDouble(4))
    }
    def servedTuple(df: org.apache.spark.sql.DataFrame): (Long, Double,
        Double, Double, Double, Double) = {
      val r = df.select("vn", "vsum", "vmin", "vmax", "mean", "variance")
        .collect().head
      (r.getLong(0), r.getDouble(1), r.getDouble(2), r.getDouble(3),
        r.getDouble(4), r.getDouble(5))
    }
    def check(served: org.apache.spark.sql.DataFrame,
              src: org.apache.spark.sql.DataFrame): Unit = {
      val (vn, vsum, vmin, vmax, vsum2) = direct(src)
      val s = servedTuple(served)
      assert(s === ((vn, vsum, vmin, vmax, vsum / vn,
        vsum2 / vn - (vsum / vn) * (vsum / vn))),
        "served moments must equal the direct scan exactly")
    }
    check(SketchSidecar.servedMoments(spark, cfg.sidecarPath), all)
    Seq("a", "b").foreach { g =>
      check(SketchSidecar.servedMoments(spark, cfg.sidecarPath,
          Scope.PerGroup)
          .where(col("grp") === g),
        all.where(col("g") === g))
    }
    val winMoments = SketchSidecar.servedMoments(
      spark, cfg.sidecarPath, Scope.Window(Seq("b", "zzz")))
    check(winMoments, all.where(col("g") === "b"))
    assert(winMoments.select("groups_covered").collect().head.getLong(0)
      === 1L, "'zzz' never had rows: covered = 1, reported not invented")
    // Welch drift between the two groups equals the hand formula over
    // the direct stats
    val (na, sa, _, _, sa2) = direct(all.where(col("g") === "a"))
    val (nb, sb, _, _, sb2) = direct(all.where(col("g") === "b"))
    val (ma, mb) = (sa / na, sb / nb)
    val (va, vb) = (sa2 / na - ma * ma, sb2 / nb - mb * mb)
    val zExp = (ma - mb) / math.sqrt(va / na + vb / nb)
    val dr = SketchSidecar.servedMomentsDrift(spark, cfg.sidecarPath,
      Seq("a"), Seq("b", "zzz")).collect().head
    assert(dr.getLong(dr.fieldIndex("b_groups_covered")) === 1L)
    assert(math.abs(dr.getDouble(dr.fieldIndex("welch_z")) - zExp)
      < 1e-12, s"welch_z ${dr.getDouble(dr.fieldIndex("welch_z"))} " +
        s"vs $zExp")
    // row-merge: the merged row's moments are bit-identical
    val before = servedTuple(
      SketchSidecar.servedMoments(spark, cfg.sidecarPath))
    SketchSidecar.compactRows(spark, cfg)
    assert(spark.read.parquet(cfg.sidecarPath).count() === 2)
    assert(servedTuple(SketchSidecar.servedMoments(spark, cfg.sidecarPath))
      === before, "row-merge must preserve moments bit-for-bit")
    // ungrouped row-merge preserves them too
    val flat = cfg.copy(
      sidecarPath = Files.createTempDirectory("sketch_mom_flat")
        .resolve("sc").toString,
      groupKeyExpr = None)
    (1 to 3).foreach(b => SketchSidecar.appendBatch(batch(b), flat))
    val flatBefore = servedTuple(
      SketchSidecar.servedMoments(spark, flat.sidecarPath))
    SketchSidecar.compactRows(spark, flat)
    assert(servedTuple(
      SketchSidecar.servedMoments(spark, flat.sidecarPath)) === flatBefore)
    // an all-null-value corpus serves null moments, not a crash
    val allNull = cfg.copy(
      sidecarPath = Files.createTempDirectory("sketch_mom_null")
        .resolve("sc").toString,
      groupKeyExpr = None)
    SketchSidecar.appendBatch(
      Seq((1L, null: java.lang.Long), (2L, null: java.lang.Long))
        .toDF("id", "v"), allNull)
    val nr = SketchSidecar.servedMoments(spark, allNull.sidecarPath)
      .collect().head
    assert(nr.getLong(nr.fieldIndex("vn")) === 0L)
    assert(nr.isNullAt(nr.fieldIndex("mean")))
    // a pre-moments sidecar fails loudly
    val legacy = Files.createTempDirectory("sketch_mom_legacy")
      .resolve("sc").toString
    spark.read.parquet(flat.sidecarPath)
      .drop("vn", "vsum", "vsum2", "vmin", "vmax")
      .write.parquet(legacy)
    intercept[IllegalArgumentException] {
      SketchSidecar.servedMoments(spark, legacy).collect()
    }
    // a MIXED sidecar (legacy rows + one current append) must refuse
    // too — regardless of which file's footer wins the schema sample,
    // serving around the null-moment rows would present the upgraded
    // batches' sums as the corpus answer
    SketchSidecar.appendBatch(batch(4), cfg.copy(sidecarPath = legacy,
      groupKeyExpr = None))
    intercept[IllegalArgumentException] {
      SketchSidecar.servedMoments(spark, legacy).collect()
    }
    // and row-merge on the mixed sidecar degrades honestly: the merged
    // row drops the moments face instead of stamping partial sums onto
    // the full history's n
    SketchSidecar.compactRows(spark, cfg.copy(sidecarPath = legacy,
      groupKeyExpr = None))
    intercept[IllegalArgumentException] {
      SketchSidecar.servedMoments(spark, legacy).collect()
    }
  }

  test("file compaction keeps a newer face: six fresh two-generation " +
      "sidecars (three files without the KMV face, then one with it) " +
      "compacted by the corpus loop (compactEvery = 1) and by maintain " +
      "keep the kmv column and serve its exact distinct count") {
    val rnd = new scala.util.Random(11)
    val words = (1 to 60).map(i => s"w$i")
    def docs(lo: Long, n: Int): org.apache.spark.sql.DataFrame =
      (lo until lo + n).map(i =>
        (i, Seq.fill(12)(words(rnd.nextInt(words.size))).mkString(" ")))
        .toDF("doc_id", "text")
    def check(cfg: SketchSidecar.Cfg, via: String): Unit = {
      val dir = new java.io.File(cfg.sidecarPath)
      assert(dir.listFiles().count(_.getName.endsWith(".parquet")) === 1,
        s"$via did not compact")
      assert(spark.read.option("mergeSchema", "true")
        .parquet(cfg.sidecarPath).columns.contains("kmv"),
        s"$via dropped the kmv column")
      assert(SketchSidecar.servedKmvDistinct(spark, cfg.sidecarPath)
        .select("distinct_estimate").as[Double].head() === 10.0, via)
    }
    for (i <- 1 to 6) {
      val root = Files.createTempDirectory(s"sketch_gen$i")
      def gens(name: String): (SketchSidecar.Cfg, SketchSidecar.Cfg) = {
        val old = SketchSidecar.Cfg(root.resolve(name).toString,
          distinctExpr = "doc_id", valueExpr = "length(text)")
        (1 to 3).foreach(b => SketchSidecar.appendBatch(docs(b * 100L, 10), old))
        (old, old.copy(kmvKeyExpr = Some("doc_id"), compactEvery = 1))
      }
      val (_, loop) = gens("loop_sc")
      graft.ingest.CorpusPipeline.dedupAndAppend(docs(1000L, 10),
        root.resolve("corpus").toString, root.resolve("mh").toString,
        "doc_id", "text", 0.8, sketch = Some(loop))
      check(loop, s"the corpus loop (sidecar $i)")
      val (_, maint) = gens("maint_sc")
      SketchSidecar.appendBatch(docs(2000L, 10), maint)
      graft.operators.Retraction.maintain(spark,
        graft.operators.Retraction.Artifacts(root.resolve("corpus").toString),
        sketch = Some(maint))
      check(maint, s"maintain (sidecar $i)")
    }
  }
}
