package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.Skew
import graft.sources.Bucketing

/** Scale-technique operators: salted skew join correctness, bucketed join
  * shuffle elimination (asserted on the physical plan).
  */
class ScaleOpsSpec extends AnyFunSuite with SparkFixture {
  import spark.implicits._

  test("salted join returns exactly the plain join result under heavy skew") {
    // 10k rows, 90% on one hot key
    val big = (1 to 10000)
      .map(i => (if (i % 10 == 0) i.toLong % 100 else 7L, i))
      .toDF("k", "v")
    val small = (0L to 99L).map(k => (k, s"dim_$k")).toDF("k", "name")

    val plain = big.join(small, "k")
      .select("k", "v", "name").as[(Long, Int, String)]
      .collect().sorted.toSeq
    val salted = Skew.saltedJoin(big, small, "k", salts = 8)
      .select("k", "v", "name").as[(Long, Int, String)]
      .collect().sorted.toSeq
    assert(salted === plain)

    // the content-derived salt actually spreads the hot key across
    // sub-partitions (hashing ALL columns, not just the key)
    val spread = big.withColumn("__salt", Skew.contentSalt(big, 8))
      .filter(col("k") === 7L).select("__salt").distinct().count()
    assert(spread > 1)

    // and it is DETERMINISTIC: the same row gets the same salt regardless
    // of physical partitioning (rand()-based salting re-deals on a stage
    // retry or AQE re-partition — content hashing cannot)
    val assign = big.withColumn("__salt", Skew.contentSalt(big, 8))
      .as[(Long, Int, Int)].collect().toSet
    val reassign = big.repartition(13)
      .withColumn("__salt", Skew.contentSalt(big, 8))
      .as[(Long, Int, Int)].collect().toSet
    assert(assign === reassign)
  }

  test("z-order: Morton code fixture + clustered files have tight bounding boxes") {
    import graft.sources.ZOrder
    // bits=2, a=1 (01b), b=2 (10b): a.0→pos0=1, b.0→pos1=0, a.1→pos2=0,
    // b.1→pos3=1 ⇒ z = 1 + 8 = 9
    val fix = Seq((1L, 2L)).toDF("a", "b")
      .select(ZOrder.zValue(Seq(col("a"), col("b")), 2).as("z"))
      .as[Long].head()
    assert(fix === 9L)

    // clustering: uniform 2-D grid written z-clustered into 8 files —
    // every file's (a, b) bounding box must cover far less than the full
    // domain (what row-group min-max skipping feeds on); a 1-D sort by
    // `a` would leave each file's `b` range at the full domain
    val dir = java.nio.file.Files.createTempDirectory("zorder").toString
    val grid = (for (a <- 0 until 64; b <- 0 until 64)
      yield (a.toLong, b.toLong)).toDF("a", "b")
    ZOrder.clusteredWrite(grid, dir, Seq("a", "b"), bits = 6, partitions = 8)
    val files = new java.io.File(dir).listFiles()
      .filter(_.getName.endsWith(".parquet")).map(_.toString)
    assert(files.length >= 4)
    val boxes = files.map { f =>
      val r = spark.read.parquet(f)
        .agg(min("a"), max("a"), min("b"), max("b")).collect().head
      (r.getLong(1) - r.getLong(0) + 1) * (r.getLong(3) - r.getLong(2) + 1)
    }
    val domain = 64L * 64L
    // average bounding-box area ≤ 40% of the domain (z-order quartering
    // gives ~2 boxes of 1/8 + overlap slack; a 1-D `a`-sort gives ~100%
    // per file because every file spans all of b)
    assert(boxes.sum.toDouble / boxes.length <= 0.4 * domain,
      boxes.mkString(","))

    // the layout depends only on the data written: the same write made
    // after unrelated jobs (which move Spark's RDD ids, the seed of a
    // sampled range partitioner) gives the same per-file z-ranges
    def zRanges(d: String): Seq[(Long, Long)] =
      new java.io.File(d).listFiles().filter(_.getName.endsWith(".parquet"))
        .map { f =>
          val r = spark.read.parquet(f.toString)
            .select(ZOrder.zValue(Seq(col("a"), col("b")), 6).as("z"))
            .agg(min("z"), max("z")).collect().head
          (r.getLong(0), r.getLong(1))
        }.toSeq.sorted
    spark.range(5000).repartitionByRange(7, col("id") % 13).count()
    spark.range(100).repartition(3).collect()
    val dir2 = java.nio.file.Files.createTempDirectory("zorder").toString
    ZOrder.clusteredWrite(grid, dir2, Seq("a", "b"), bits = 6, partitions = 8)
    assert(zRanges(dir2) === zRanges(dir))
  }

  test("z-order maintenance: unclustered appends decay the layout, " +
      "recluster restores it, content identical through the swap") {
    import graft.sources.ZOrder
    val dir = java.nio.file.Files.createTempDirectory("zorder_maint")
      .resolve("t").toString
    val grid = (for (a <- 0 until 64; b <- 0 until 64)
      yield (a.toLong, b.toLong)).toDF("a", "b")
    ZOrder.clusteredWrite(grid.where(col("b") % 2 === 0), dir,
      Seq("a", "b"), bits = 6, partitions = 8)
    def stats() = ZOrder.clusterStats(spark, dir, Seq("a", "b"))
      .select("avg_box_frac", "max_box_frac")
      .as[(Double, Double)].head()
    val healthy = stats()
    assert(healthy._1 < 0.4, s"fresh layout not clustered: $healthy")
    // the append path a steady-state ingest takes: correct content,
    // no clustering — round-robin repartition makes each new file span
    // the whole domain (coalesce would keep the source's a-ordering)
    grid.where(col("b") % 2 =!= 0).repartition(2)
      .write.mode("append").parquet(dir)
    val decayed = stats()
    assert(decayed._1 > healthy._1, s"$decayed vs $healthy")
    assert(decayed._2 > 0.9, s"appended file should span the domain: $decayed")
    val checksum = spark.read.parquet(dir)
      .agg(count(lit(1)), sum(col("a") * 64 + col("b"))).collect().head
    ZOrder.recluster(spark, dir, Seq("a", "b"), bits = 6, partitions = 8)
    val restored = stats()
    assert(restored._1 < 0.4, s"recluster did not restore layout: $restored")
    assert(spark.read.parquet(dir)
      .agg(count(lit(1)), sum(col("a") * 64 + col("b"))).collect()
      .head === checksum)
    // the staged swap leaves no siblings behind
    val parent = new java.io.File(dir).getParentFile
    assert(Option(parent.listFiles()).getOrElse(Array.empty)
      .forall(!_.getName.contains("__zorder")))
  }

  test("partial z-order recluster: only decayed files rewritten, tight " +
      "files hardlink-carried under their own names, content identical, " +
      "no-op on a healthy table") {
    import graft.sources.ZOrder
    val dir = java.nio.file.Files.createTempDirectory("zorder_inc")
      .resolve("t").toString
    val grid = (for (a <- 0 until 64; b <- 0 until 64)
      yield (a.toLong, b.toLong)).toDF("a", "b")
    ZOrder.clusteredWrite(grid.where(col("b") % 2 === 0), dir,
      Seq("a", "b"), bits = 6, partitions = 8)
    val tightNames = new java.io.File(dir).listFiles()
      .filter(_.getName.endsWith(".parquet")).map(_.getName).toSet
    grid.where(col("b") % 2 =!= 0).repartition(2)
      .write.mode("append").parquet(dir)
    val checksum = spark.read.parquet(dir)
      .agg(count(lit(1)), sum(col("a") * 64 + col("b"))).collect().head
    // fan-out 8 > 2^dims — see the convergence note: at 4 pieces a
    // sampled range boundary can straddle a z-quadrant and leave one
    // rewritten box right at frac ≈ 0.5, re-triggering the next pass
    val r = ZOrder.reclusterDecayed(spark, dir, Seq("a", "b"), bits = 6,
      decayFrac = 0.5, rewritePartitions = Some(8))
    assert(r.files === tightNames.size + 2L)
    assert(r.rewritten === 2L, r)
    assert(r.kept === tightNames.size.toLong, r)
    assert(r.rewrittenBytes > 0L)
    // carried-over files survive under their own names (the hardlink
    // rode the swap; the retired old root's rm cannot strand them)
    val after = new java.io.File(dir).listFiles()
      .filter(_.getName.endsWith(".parquet")).map(_.getName).toSet
    assert(tightNames.subsetOf(after), s"$tightNames vs $after")
    // layout restored, content identical through the swap
    val restored = ZOrder.clusterStats(spark, dir, Seq("a", "b"))
      .select("avg_box_frac").as[Double].head()
    assert(restored < 0.4, s"restored=$restored")
    assert(spark.read.parquet(dir)
      .agg(count(lit(1)), sum(col("a") * 64 + col("b"))).collect()
      .head === checksum)
    // healthy table → pure metadata no-op
    val r2 = ZOrder.reclusterDecayed(spark, dir, Seq("a", "b"), bits = 6,
      decayFrac = 0.5)
    assert(r2.rewritten === 0L && r2.kept === r2.files)
    // a file whose cluster column is entirely NULL has a NULL box frac:
    // it cannot be proven tight, so it joins the rewrite set (instead
    // of NPE-ing the pass or being carried unexamined forever)
    (1 to 10).map(i => (None: Option[Long], (i % 64).toLong))
      .toDF("a", "b").coalesce(1).write.mode("append").parquet(dir)
    val n3 = spark.read.parquet(dir).count()
    val r3 = ZOrder.reclusterDecayed(spark, dir, Seq("a", "b"), bits = 6,
      decayFrac = 0.5, rewritePartitions = Some(8))
    assert(r3.rewritten === 1L, r3)
    assert(spark.read.parquet(dir).count() === n3)
    assert(spark.read.parquet(dir).where(col("a").isNull).count() === 10L)
    // staging swapped away cleanly
    val parent = new java.io.File(dir).getParentFile
    assert(Option(parent.listFiles()).getOrElse(Array.empty)
      .forall(!_.getName.contains("__zorderinc")))
    // a NESTED (partitioned) root is refused loudly: the flat-name
    // hardlink carry-over and the basePath-less rewrite would silently
    // drop key=val partition values after the swap — partition roots
    // recluster per leaf
    val pdir = java.nio.file.Files.createTempDirectory("zorder_part")
      .resolve("t").toString
    (1 to 40).map(i => ((i % 8).toLong, (i % 64).toLong, i % 2))
      .toDF("a", "b", "p").write.partitionBy("p").parquet(pdir)
    val eNested = intercept[IllegalArgumentException] {
      ZOrder.reclusterDecayed(spark, pdir, Seq("a", "b"), bits = 6,
        decayFrac = 0.01)
    }
    assert(eNested.getMessage.contains("FLAT"))
    // the untouched nested table still reads back whole
    assert(spark.read.parquet(pdir).count() === 40L)
  }

  test("runtime bloom filter prunes the fact side of a selective dim join") {
    val keys = Seq("spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.optimizer.runtime.bloomFilter.enabled",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
      "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold")
    val saved = keys.map(k => k -> spark.conf.getOption(k)).toMap
    try {
      // force a shuffle join (broadcast joins reuse the build side as a
      // DPP-style filter instead) and drop the 10 GB scan-size floor so
      // the fixture-scale fact side qualifies
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      spark.conf.set("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
      spark.conf.set(
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold", "0")
      spark.conf.set(
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold", "100MB")
      val sf = "/root/testdata/sf0.001"
      val li = Tables.load(spark, sf, "lineitem").select("l_partkey", "l_quantity")
      val pt = Tables.load(spark, sf, "part")
        .filter(col("p_brand") === "Brand#13").select("p_partkey")
      val j = li.join(pt, li("l_partkey") === pt("p_partkey"))
      val optimized = j.queryExecution.optimizedPlan.toString.toLowerCase
      // the selective dim side must inject a bloom filter into the fact scan
      assert(optimized.contains("bloomfilter") || optimized.contains("bloom_filter"),
        j.queryExecution.optimizedPlan.toString)
      val n = j.count()
      // value-preserving: same count with the filter disabled
      spark.conf.set("spark.sql.optimizer.runtime.bloomFilter.enabled", "false")
      assert(li.join(pt, li("l_partkey") === pt("p_partkey")).count() === n)
      assert(n > 0)
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("date-partitioned write prunes partitions at read (PartitionFilters)") {
    val dir = java.nio.file.Files.createTempDirectory("pruned").toString
    val df = (1 to 1000).map { i =>
      (i, f"2024-01-${i % 28 + 1}%02d", i * 1.5)
    }.toDF("id", "day", "v")
    df.write.mode("overwrite").partitionBy("day").parquet(dir)

    val read = spark.read.parquet(dir).filter(col("day") === "2024-01-05")
    read.count()
    val plan = read.queryExecution.executedPlan.toString
    // the day predicate must prune directories, not scan-and-filter
    assert(plan.contains("PartitionFilters") &&
      plan.contains("2024-01-05"), s"expected partition pruning:\n$plan")
    assert(read.count() === (1 to 1000).count(i => i % 28 + 1 == 5))
  }

  test("q6 shape: all three predicates reach the parquet scan and the " +
      "read schema prunes to the referenced columns") {
    val dir = java.nio.file.Files.createTempDirectory("q6push").toString
    (1 to 500).map { i =>
      (java.sql.Timestamp.valueOf(f"1996-${i % 12 + 1}%02d-01 00:00:00"),
        (i % 10) / 100.0, (i % 50).toDouble, i * 10.0, s"comment_$i")
    }.toDF("l_shipdate", "l_discount", "l_quantity", "l_extendedprice",
      "l_comment")
      .write.mode("overwrite").parquet(dir)
    val q = spark.read.parquet(dir)
      .filter(col("l_shipdate") >= lit("1996-01-01 00:00:00").cast("timestamp")
        && col("l_discount").between(0.05, 0.07) && col("l_quantity") < 24)
      .agg(sum((col("l_extendedprice") * col("l_discount"))
        .cast("decimal(18,4)")).as("revenue"))
    q.collect()
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters: [IsNotNull"),
      s"expected pushed filters:\n$plan")
    // the range predicates follow the IsNotNulls (display truncates the
    // full list, so match the operator name rather than a specific column)
    assert(plan.contains("GreaterThanOrEqual("), plan)
    // column pruning: the untouched string column never leaves the file
    val readSchema = "ReadSchema: [^\\n]*".r.findFirstIn(plan).get
    assert(!readSchema.contains("l_comment"), readSchema)
    assert(readSchema.contains("l_extendedprice"), readSchema)
  }

  test("compaction merges small files without changing the data") {
    import graft.sources.Compaction
    val dir = java.nio.file.Files.createTempDirectory("compact")
      .resolve("t").toString
    val df = (1 to 10000).map(i => (i.toLong, s"row_$i")).toDF("id", "v")
    df.repartition(64).write.mode("overwrite").parquet(dir)
    val checksum = spark.read.parquet(dir)
      .agg(sum("id"), count(lit(1))).collect().head
    val (before, after) = Compaction.compact(spark, dir, targetBytes = 256 * 1024)
    assert(before === 64)
    assert(after < before, s"$before -> $after")
    val post = spark.read.parquet(dir).agg(sum("id"), count(lit(1))).collect().head
    assert(post === checksum)
  }

  test("compaction leaves a table at or below its target file count " +
      "as it is: the second compact launches no job and keeps every " +
      "file; compactPartitioned rewrites only the leaves appends grew") {
    import graft.sources.Compaction
    // (length, mtime) of every part file a scan of `root` reads; the
    // `_SUCCESS` markers are rewritten by any commit under the root
    def listing(root: String): Map[String, (Long, Long)] =
      Compaction.partFiles(new java.io.File(root))
        .map(f => f.getPath -> (f.length(), f.lastModified())).toMap
    val dir = java.nio.file.Files.createTempDirectory("compact_twice")
      .resolve("t").toString
    (1 to 2000).map(i => (i.toLong, s"row_$i")).toDF("id", "v")
      .repartition(8).write.parquet(dir)
    assert(Compaction.compact(spark, dir) === ((8, 1)))
    val once = listing(dir)
    var second = (0, 0)
    val jobs = TestProbes.jobsRunning(spark) {
      second = Compaction.compact(spark, dir)
    }
    assert(second === ((1, 1)))
    assert(jobs === 0, s"a compaction with nothing to merge ran $jobs jobs")
    assert(listing(dir) === once)
    assert(new java.io.File(dir).getParentFile.listFiles()
      .forall(!_.getName.startsWith(".")), "a staging dir was left")
    // partitioned: one leaf grows by an append, only it is rewritten
    val part = java.nio.file.Files.createTempDirectory("compact_leaves")
      .resolve("p").toString
    val rows = (1 to 600).map(i => (i.toLong, i % 3)).toDF("id", "cell")
    rows.repartition(4).write.partitionBy("cell").parquet(part)
    Compaction.compactPartitioned(spark, part)
    val compacted = listing(part)
    assert(compacted.size === 3)
    rows.where(col("cell") === 1).coalesce(1).write.mode("append")
      .partitionBy("cell").parquet(part)
    assert(Compaction.compactPartitioned(spark, part) === ((4, 3)))
    val after = listing(part)
    compacted.foreach { case (p, meta) =>
      if (!p.contains("cell=1")) assert(after.get(p) === Some(meta), p)
      else assert(!after.contains(p), s"grown leaf not rewritten: $p")
    }
    assert(spark.read.parquet(part).count() === 800L)
  }

  test("vacuum GCs old staged-rewrite orphans; never triage, never a " +
      "sole-copy retired dir, never anything fresh or live") {
    import graft.sources.Compaction
    val root = java.nio.file.Files.createTempDirectory("vacuum").toString
    def mk(rel: String, withFile: Boolean = true): java.io.File = {
      val d = new java.io.File(root, rel)
      d.mkdirs()
      if (withFile) {
        val f = new java.io.File(d, "part-0.parquet")
        java.nio.file.Files.write(f.toPath, Array[Byte](1, 2, 3))
      }
      d
    }
    def age(f: java.io.File): Unit = {
      val old = System.currentTimeMillis() - 48L * 3600 * 1000
      def go(x: java.io.File): Unit = {
        x.setLastModified(old)
        Option(x.listFiles()).getOrElse(Array.empty).foreach(go)
      }
      go(f)
    }
    mk("data")                                   // live table
    age(mk("data/cell=3"))                       // live partition leaf
    age(mk(".data__compacting"))                 // crashed pre-swap staging
    age(mk("data/.cell=3__retract"))             // crashed leaf staging
    age(mk(".queue__triage"))                    // claimed live queue
    val fresh = mk(".data__retract")             // rewrite possibly in flight
    age(mk(".data__retired"))                    // live sibling exists → junk
    age(mk(".gone__retired"))                    // NO live sibling → sole copy
    val r = Compaction.vacuum(root, minAgeMs = 24L * 3600 * 1000)
    assert(r.removed.map(new java.io.File(_).getName).sorted ===
      Seq(".cell=3__retract", ".data__compacting", ".data__retired"))
    assert(r.bytes > 0)
    assert(r.held.map(new java.io.File(_).getName) === Seq(".gone__retired"))
    assert(new java.io.File(root, ".queue__triage").exists())
    assert(fresh.exists())
    assert(new java.io.File(root, ".gone__retired").exists())
    assert(new java.io.File(root, "data/cell=3/part-0.parquet").exists())
    // idempotent: a second sweep finds nothing new to remove
    val r2 = Compaction.vacuum(root, minAgeMs = 24L * 3600 * 1000)
    assert(r2.removed.isEmpty && r2.bytes === 0L)
    assert(r2.held.map(new java.io.File(_).getName) === Seq(".gone__retired"))
  }

  test("vacuum sees the root's OWN parent-sibling orphans: whole-root " +
      "rewrite staging swept, sole-copy retired root held, other " +
      "tables' staging untouched") {
    import graft.sources.Compaction
    val base = java.nio.file.Files.createTempDirectory("vacuum_sib")
    def mk(rel: String): java.io.File = {
      val d = new java.io.File(base.toFile, rel)
      d.mkdirs()
      java.nio.file.Files.write(
        new java.io.File(d, "part-0.parquet").toPath, Array[Byte](1, 2))
      val old = System.currentTimeMillis() - 48L * 3600 * 1000
      d.listFiles().foreach(_.setLastModified(old))
      d.setLastModified(old)
      d
    }
    mk("corpus")                       // the live root being vacuumed
    val own = mk(".corpus__compacting") // ITS whole-root rewrite orphan
    val ownJunkRetired = mk(".corpus__retired") // live sibling → junk
    val other = mk(".index__compacting") // ANOTHER table's staging
    val r = Compaction.vacuum(new java.io.File(base.toFile, "corpus")
      .toString, minAgeMs = 24L * 3600 * 1000)
    assert(r.removed.map(new java.io.File(_).getName).sorted ===
      Seq(".corpus__compacting", ".corpus__retired"))
    assert(!own.exists() && !ownJunkRetired.exists())
    assert(other.exists(), "a sibling TABLE's staging belongs to its " +
      "own vacuum call")
    // root GONE with .root__retired present — the mid-swap sole-copy
    // crash state — must be surfaced held even though the walk has no
    // root to start from
    val soleRetired = mk(".gonetable__retired")
    val r2 = Compaction.vacuum(new java.io.File(base.toFile, "gonetable")
      .toString, minAgeMs = 24L * 3600 * 1000)
    assert(r2.removed.isEmpty)
    assert(r2.held.map(new java.io.File(_).getName) ===
      Seq(".gonetable__retired"))
    assert(soleRetired.exists())
  }

  test("maintain sweeps staged-rewrite orphans under its artifact roots") {
    // the case vacuum exists for: a PARTITIONED table's maintenance
    // rewrites swap individual leaves, so a crashed leaf-rewrite's
    // staging dir in the table root survives every later compaction
    // (the leaf lister skips dot-dirs by design) — only the sweep
    // removes it. (A FLAT table's compact is a whole-root swap that
    // incidentally carries in-root orphans away with the retired copy.)
    import graft.operators.Retraction
    val base = java.nio.file.Files.createTempDirectory("maintain_vac")
    val corpus = base.resolve("corpus").toString
    (1L to 20L).map(i => (i, i % 3, s"doc $i text"))
      .toDF("doc_id", "day", "text")
      .write.partitionBy("day").mode("overwrite").parquet(corpus)
    val arts = Retraction.Artifacts(corpusPath = corpus,
      corpusPartitionCol = Some("day"))
    def plantOrphan(name: String): java.io.File = {
      val o = new java.io.File(base.toFile, s"corpus/$name")
      o.mkdirs()
      java.nio.file.Files.write(
        new java.io.File(o, "part-0.parquet").toPath, Array[Byte](9))
      val old = System.currentTimeMillis() - 48L * 3600 * 1000
      o.listFiles().foreach(_.setLastModified(old))
      o.setLastModified(old)
      o
    }
    val orphan = plantOrphan(".day=0__retract")
    val before = spark.read.parquet(corpus).count()
    Retraction.maintain(spark, arts)
    assert(!orphan.exists(), "maintain did not vacuum the orphan")
    assert(spark.read.parquet(corpus).count() === before)
    // and a negative age disables the sweep
    val orphan2 = plantOrphan(".day=1__retract")
    Retraction.maintain(spark, arts, vacuumMinAgeMs = -1L)
    assert(orphan2.exists(), "vacuumMinAgeMs < 0 must skip the sweep")
  }

  test("swapInto concurrency contract: a concurrent reader sees exactly " +
      "the old snapshot, exactly the new one, or a clean failure — never " +
      "a mixed or partial listing") {
    // The entire maintenance story (compaction, recluster, triage) hangs
    // on the single-parent-rename discipline: every rewrite lands in a
    // dot-prefixed staging sibling and is installed by replace's two
    // renames. This spec is the CONTRACT test — a reader racing the swap
    // must never observe a half-old/half-new directory. Each generation
    // writes a disjoint, self-describing value set across several files
    // (one file alone can't impersonate a full snapshot), a hammering
    // reader classifies every read, and the main thread swaps through 12
    // generations underneath it.
    import graft.sources.Compaction
    val root = java.nio.file.Files.createTempDirectory("swap_contract")
    val path = root.resolve("t").toString
    val nRows = 400
    def genData(g: Long) =
      (0 until nRows).map(i => g * 100000L + i).toDF("v").repartition(4)
    def genSet(g: Long): Set[Long] =
      (0 until nRows).map(i => g * 100000L + i).toSet
    genData(0L).write.mode("overwrite").parquet(path)
    val maxGen = 12
    // the race is adaptive: under scheduler contention a read can take
    // longer than a whole write+swap generation, so a FIXED generation
    // count can end with every read having straddled a swap (cleanly
    // failed — allowed — but the success path never exercised); keep
    // swapping, with a small breather, until the reader lands at least
    // one clean read or the extended budget runs out
    val hardCap = 96
    val validSets = (0L to hardCap.toLong).map(genSet).toSet
    val bad = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val reads = new java.util.concurrent.atomic.AtomicLong(0L)
    val failures = new java.util.concurrent.atomic.AtomicLong(0L)
    @volatile var stop = false
    val reader = new Thread(() => {
      while (!stop) {
        try {
          val seen = spark.read.parquet(path)
            .agg(collect_set(col("v"))).collect()
            .head.getSeq[Long](0).toSet
          reads.incrementAndGet()
          if (!validSets.contains(seen))
            bad.add(s"mixed snapshot: ${seen.size} rows, " +
              s"gens=${seen.map(_ / 100000L).toSeq.sorted.mkString(",")}")
        } catch {
          // a reader that listed files the instant before the rename
          // fails CLEANLY (FileNotFound under the retired path) — the
          // contract allows that; silent mixing it does not
          case _: Throwable => failures.incrementAndGet()
        }
      }
    })
    reader.start()
    var lastGen = 0L
    try {
      var g = 0
      while (g < maxGen || (reads.get() == 0 && g < hardCap)) {
        g += 1
        lastGen = g.toLong
        Compaction.replace(path, "rewrite") { staging =>
          genData(g.toLong).write.parquet(staging.toString)
          true
        }
        if (g >= maxGen) Thread.sleep(50) // give the reader a window
      }
    } finally { stop = true; reader.join(30000) }
    assert(bad.isEmpty, s"contract violated: ${bad.peek()}")
    assert(reads.get() > 0, "reader never completed a single read " +
      s"(failures=${failures.get()}) — the race never exercised the swap")
    // the final state is exactly the last generation, with no staging or
    // retired siblings left behind
    val finalSeen = spark.read.parquet(path)
      .agg(collect_set(col("v"))).collect().head.getSeq[Long](0).toSet
    assert(finalSeen === genSet(lastGen))
    val leftovers = Option(root.toFile.listFiles()).getOrElse(Array.empty)
      .filter(_.getName != "t")
    assert(leftovers.isEmpty, leftovers.mkString(", "))
  }

  // A table `t` under a fresh root, its sorted rows, and the root's
  // listing (name, size per file) — the crash-window cases below compare
  // both before and after.
  private def crashRoot(tag: String): (java.io.File, String) = {
    val root = java.nio.file.Files.createTempDirectory(tag).toFile
    val path = new java.io.File(root, "t").toString
    (0 until 100).toDF("v").repartition(3).write.parquet(path)
    (root, path)
  }
  private def rowsOf(path: String): Seq[Int] =
    spark.read.parquet(path).as[Int].collect().toSeq.sorted
  private def listing(dir: java.io.File): Seq[(String, Long)] =
    Option(dir.listFiles()).getOrElse(Array.empty).toSeq
      .flatMap(f => if (f.isDirectory) listing(f).map { case (n, l) =>
        (f.getName + "/" + n, l) } else Seq((f.getName, f.length())))
      .sorted
  private def bump(path: String): Boolean =
    graft.sources.Compaction.replace(path, "rewrite") { staging =>
      spark.read.parquet(path).select((col("v") + 1000).as("v"))
        .write.parquet(staging.toString)
      true
    }

  test("replace crash window: a stage that throws leaves the table's " +
      "files and rows identical; the rerun commits and leaves no " +
      "staging sibling; an empty result removes the table") {
    import graft.sources.Compaction
    val (root, path) = crashRoot("replace_throw")
    val files = listing(new java.io.File(path))
    val rows = rowsOf(path)
    intercept[IllegalStateException] {
      Compaction.replace(path, "rewrite") { staging =>
        spark.read.parquet(path).write.parquet(staging.toString)
        throw new IllegalStateException("crash after the staged write")
      }
    }
    assert(listing(new java.io.File(path)) === files)
    assert(rowsOf(path) === rows)
    assert(new java.io.File(root, ".t__rewrite").exists(),
      "a crashed stage leaves its staging for the next commit")
    assert(bump(path))
    assert(rowsOf(path) === rows.map(_ + 1000))
    assert(root.list().toSeq === Seq("t"))
    assert(!Compaction.replace(path, "rewrite")(_ => false))
    assert(root.list().isEmpty, "an empty result removes the table whole")
  }

  test("replace crash window: a sole-copy .t__retired (crash between " +
      "the retire and install renames) is restored, and the rerun " +
      "converges to the rows of a clean run") {
    val (root, path) = crashRoot("replace_retired")
    val (_, cleanPath) = crashRoot("replace_clean")
    bump(cleanPath)
    // the on-disk state of that crash: the live dir is gone, the old
    // data survives only as `.t__retired`, the staging was never moved
    assert(new java.io.File(path)
      .renameTo(new java.io.File(root, ".t__retired")))
    (0 until 5).toDF("v").write.parquet(
      new java.io.File(root, ".t__rewrite").toString)
    assert(bump(path))
    assert(rowsOf(path) === rowsOf(cleanPath))
    assert(root.list().toSeq === Seq("t"))
    // the takedown rewrite sees the restored rows too, never an absent
    // table it would skip
    assert(new java.io.File(path)
      .renameTo(new java.io.File(root, ".t__retired")))
    graft.sources.Compaction.retractRows(spark, path,
      Seq(1000).toDF("k"), (t, k) => t("v") === k("k"))
    assert(rowsOf(path) === rowsOf(cleanPath).filterNot(_ == 1000))
    assert(root.list().toSeq === Seq("t"))
  }

  test("writeFile never exposes a truncated file to a concurrent reader") {
    val root = java.nio.file.Files.createTempDirectory("write_file").toFile
    val f = new java.io.File(root, "wm.json")
    def text(g: Int): String = s"$g:" + ("x" * 200000) + s":$g"
    graft.sources.Compaction.writeFile(f.toString, text(0))
    val bad = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val reads = new java.util.concurrent.atomic.AtomicLong(0L)
    @volatile var stop = false
    val reader = new Thread(() => {
      while (!stop) {
        val s = java.nio.file.Files.readString(f.toPath)
        reads.incrementAndGet()
        val g = scala.util.Try(s.takeWhile(_ != ':').toInt).getOrElse(-1)
        if (s != text(g)) bad.add(s"torn read of ${s.length} chars")
      }
    })
    reader.start()
    try (1 to 60).foreach(g =>
      graft.sources.Compaction.writeFile(f.toString, text(g)))
    finally { stop = true; reader.join(30000) }
    assert(bad.isEmpty, String.valueOf(bad.peek()))
    assert(reads.get() > 0)
    assert(java.nio.file.Files.readString(f.toPath) === text(60))
    assert(root.list().toSeq === Seq("wm.json"))
  }

  test("source guard: every commit in src/main goes through Compaction " +
      "(no stagingDir/swapInto/renameTo/ATOMIC_MOVE elsewhere)") {
    def scalaFiles(d: java.io.File): Seq[java.io.File] =
      Option(d.listFiles()).getOrElse(Array.empty).toSeq.flatMap { f =>
        if (f.isDirectory) scalaFiles(f)
        else if (f.getName.endsWith(".scala")) Seq(f) else Nil
      }
    val mainDir = new java.io.File("src/main/scala")
    assert(mainDir.isDirectory, s"run from the repo root, not ${
      new java.io.File(".").getAbsolutePath}")
    val patterns = Seq("stagingDir(", "swapInto(", "renameTo(", "ATOMIC_MOVE")
    val hits = for {
      f <- scalaFiles(mainDir) if f.getName != "Compaction.scala"
      (line, i) <- java.nio.file.Files.readAllLines(f.toPath)
        .toArray(Array.empty[String]).toSeq.zipWithIndex
      if patterns.exists(line.contains)
    } yield (f.getName, i + 1, line.trim)
    // the streaming triage CLAIMS the quarantine queue by renaming it
    // (the claimed dir is the sole copy, recovered on the next run) —
    // a claim, not a commit
    val claims = hits.filter { case (f, _, l) =>
      f == "CorpusStream.scala" &&
        (l.contains("""stagingDir(qDir, "triage")""") ||
          l.contains("qDir.renameTo(claimed)"))
    }
    assert(claims.size === 4, claims)
    assert(hits.diff(claims).isEmpty,
      s"hand-rolled commit outside Compaction: ${hits.diff(claims)}")
  }

  test("source guard: the graph operators keep no hand-rolled round loop " +
      "and no store protocol of their own (Fixpoint, EdgeStore)") {
    val ops = new java.io.File("src/main/scala/graft/operators")
    assert(ops.isDirectory, s"run from the repo root, not ${
      new java.io.File(".").getAbsolutePath}")
    def lines(f: java.io.File): Seq[(String, Int, String)] =
      java.nio.file.Files.readAllLines(f.toPath)
        .toArray(Array.empty[String]).toSeq.zipWithIndex
        .map { case (l, i) => (f.getName, i + 1, l.trim) }
    val loops = Seq("Graph.scala", "Components.scala")
      .flatMap(n => lines(new java.io.File(ops, n)))
      .filter(_._3.contains("while ("))
    assert(loops.isEmpty, s"round loop outside Fixpoint: $loops")
    def scalaFiles(d: java.io.File): Seq[java.io.File] =
      Option(d.listFiles()).getOrElse(Array.empty).toSeq.flatMap { f =>
        if (f.isDirectory) scalaFiles(f)
        else if (f.getName.endsWith(".scala")) Seq(f) else Nil
      }
    val sigs = scalaFiles(new java.io.File("src/main/scala"))
      .filter(_.getName != "EdgeStore.scala").flatMap(lines)
      .filter(_._3.contains("_edges_sig"))
    assert(sigs.isEmpty, s"edge-signature protocol outside EdgeStore: $sigs")
  }

  test("source guard: every cell-partitioned ANN table in src/main is " +
      "written by CodecIndex") {
    def scalaFiles(d: java.io.File): Seq[java.io.File] =
      Option(d.listFiles()).getOrElse(Array.empty).toSeq.flatMap { f =>
        if (f.isDirectory) scalaFiles(f)
        else if (f.getName.endsWith(".scala")) Seq(f) else Nil
      }
    val mainDir = new java.io.File("src/main/scala")
    assert(mainDir.isDirectory, s"run from the repo root, not ${
      new java.io.File(".").getAbsolutePath}")
    val patterns = Seq("""partitionBy("cell"""",
      """partitionBy("table", "bucket"""")
    val hits = for {
      f <- scalaFiles(mainDir) if f.getName != "CodecIndex.scala"
      (line, i) <- java.nio.file.Files.readAllLines(f.toPath)
        .toArray(Array.empty[String]).toSeq.zipWithIndex
      // a window spec is not a table layout
      if patterns.exists(line.contains) && !line.contains("Window.partitionBy")
    } yield (f.getName, i + 1, line.trim)
    // the recluster's one staged rewrite of a plain IVF root (data and
    // centroids swap in together)
    val exceptions = hits.filter { case (f, _, l) =>
      f == "Similarity.scala" &&
        l.contains(""".write.partitionBy("cell")""")
    }
    assert(exceptions.size === 1, exceptions)
    assert(hits.diff(exceptions).isEmpty,
      "cell-partitioned index write outside CodecIndex: " +
        hits.diff(exceptions))
  }

  test("source guard: every small-sidecar read in operators/, sources/ " +
      "and ingest/ goes through the SidecarCache memo") {
    def scalaFiles(d: java.io.File): Seq[java.io.File] =
      Option(d.listFiles()).getOrElse(Array.empty).toSeq.flatMap { f =>
        if (f.isDirectory) scalaFiles(f)
        else if (f.getName.endsWith(".scala")) Seq(f) else Nil
      }
    val dirs = Seq("operators", "sources", "ingest")
      .map(d => new java.io.File(s"src/main/scala/graft/$d"))
    assert(dirs.forall(_.isDirectory), s"run from the repo root, not ${
      new java.io.File(".").getAbsolutePath}")
    val sidecarRead =
      """read(\.\w+\([^)]*\))*\.parquet\(s"\$\{?[\w.]+\}?/(meta|centroids|codebooks|params|trained_meta)"\)""".r
    val reads = for {
      f <- dirs.flatMap(scalaFiles)
      lines = java.nio.file.Files.readAllLines(f.toPath)
        .toArray(Array.empty[String]).toSeq
      (line, i) <- lines.zipWithIndex
      if sidecarRead.findFirstIn(line).nonEmpty
    } yield (f.getName, i + 1, line.trim,
      // the read is the body of a memo opened at most two lines above
      lines.slice(math.max(0, i - 2), i + 1)
        .exists(_.contains("SidecarCache.memo(")))
    assert(reads.size === 7, s"the scan lost the sidecar reads: $reads")
    assert(reads.forall(_._4),
      s"sidecar read outside SidecarCache.memo: ${reads.filterNot(_._4)}")
  }

  test("bucketed equi-join plans without a shuffle exchange") {
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val facts = (1 to 5000).map(i => (i.toLong % 97, i)).toDF("k", "v")
      val dims = (0L to 96L).map(k => (k, s"d$k")).toDF("k", "name")
      Bucketing.writeBucketed(facts, "graft_bkt_facts", "k", 8)
      Bucketing.writeBucketed(dims, "graft_bkt_dims", "k", 8)

      val joined = Bucketing.bucketedJoin(spark, "graft_bkt_facts",
        "graft_bkt_dims", "k")
      assert(joined.count() === 5000)
      val plan = joined.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"),
        s"bucketed join should be shuffle-free, got:\n$plan")

      // control: the same join on plain (unbucketed) frames DOES shuffle
      val unbucketed = facts.join(dims, "k")
      unbucketed.count()
      assert(unbucketed.queryExecution.executedPlan.toString
        .contains("Exchange"))
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")
      spark.sql("DROP TABLE IF EXISTS graft_bkt_facts")
      spark.sql("DROP TABLE IF EXISTS graft_bkt_dims")
    }
  }

  test("keepLatest: version wins, update wins ties, nulls never displace") {
    import graft.operators.Merge
    val base = Seq((1L, Option(1L), "b1"), (2L, Option(5L), "b2"),
      (3L, Option.empty[Long], "b3"), (5L, Option(9L), "b5"))
      .toDF("k", "v", "payload")
    val updates = Seq((1L, Option(2L), "u1"), (2L, Option(5L), "u2"),
      (3L, Option.empty[Long], "u3"),
      (4L, Option(7L), "u4a"), (4L, Option(7L), "u4b"), // intra-batch dup
      (5L, Option.empty[Long], "u5")) // versionless vs versioned base
      .toDF("k", "v", "payload")
    val out = Merge.keepLatest(base, updates, Seq("k"), "v")
      .as[(Long, Option[Long], String)].collect().sortBy(_._1)
    assert(out.map(_._1).toSeq === Seq(1L, 2L, 3L, 4L, 5L))
    assert(out(0)._3 === "u1") // higher version beats base
    assert(out(1)._3 === "u2") // equal version: update preferred
    assert(out(2)._3 === "u3") // both null: update preferred (src desc)
    assert(Set("u4a", "u4b").contains(out(3)._3)) // content hash picks one
    assert(out(4)._3 === "b5") // desc_nulls_last: null NEVER beats v=9
  }

  test("keepLatest is invariant under input row order and partitioning") {
    import graft.operators.Merge
    // adversarial fixture: every key carries an intra-batch (key, version)
    // tie, so the content-hash tie-break decides each survivor — exactly
    // the path that rand()/partition-order schemes get wrong
    val base = (1L to 50L).map(k => (k, 1L, s"b$k")).toDF("k", "v", "p")
    val dups = (1L to 50L).flatMap(k =>
      Seq((k, 2L, s"x$k"), (k, 2L, s"y$k"), (k, 2L, s"z$k")))
    val u1 = dups.toDF("k", "v", "p")
    val u2 = scala.util.Random.shuffle(dups).toDF("k", "v", "p")
      .repartition(7)
    val r1 = Merge.keepLatest(base, u1, Seq("k"), "v")
      .as[(Long, Long, String)].collect().sortBy(_._1).toSeq
    val r2 = Merge.keepLatest(base.repartition(3), u2, Seq("k"), "v")
      .as[(Long, Long, String)].collect().sortBy(_._1).toSeq
    assert(r1 === r2)
  }

  test("tfIdfTopK: exact smoothed scores, colliding input names harmless") {
    import graft.operators.Keywords
    // input ALREADY carries token/tf/df/n_docs columns — must not
    // mis-resolve (the round-6 verdict's collision risk)
    val docs = Seq((1L, "apple banana apple"), (2L, "banana cherry"))
      .toDF("id", "text")
      .withColumn("token", lit("decoy")).withColumn("tf", lit(99))
      .withColumn("df", lit(98)).withColumn("n_docs", lit(97))
    val out = Keywords.tfIdfTopK(docs, "id", "text", k = 2)
      .as[(Long, String, Double)].collect().toSet
    // N=2, smoothed: apple df=1 → ln(3/2); banana df=2 → ln(3/3)=0;
    // cherry df=1 → ln(3/2); doc1 apple tf=2
    val l = math.log(1.5)
    def r6(x: Double) = BigDecimal(x)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(out === Set((1L, "apple", r6(2 * l)), (1L, "banana", 0.0),
      (2L, "banana", 0.0), (2L, "cherry", r6(l))))
    // reserved-output collision fails loudly, not silently
    intercept[IllegalArgumentException] {
      Keywords.tfIdfTopK(docs.withColumnRenamed("id", "token"),
        "token", "text")
    }
  }

  test("bm25TopK: exact hand-computed scores, zero-token docs count in " +
      "avgdl, non-matching docs absent") {
    import graft.operators.Keywords
    val docs = Seq((1L, "apple banana apple"), (2L, "banana cherry"),
      (3L, "kiwi"), (4L, "")).toDF("id", "text")
    val out = Keywords.bm25TopK(docs, "id", "text",
        query = Seq("apple", "cherry"), k = 3)
      .as[(Long, Double)].collect().toSeq
    // N=4, avgdl=(3+2+1+0)/4=1.5 (the empty doc counts); apple/cherry both
    // df=1 → idf=ln(1+3.5/1.5); mirror the operator's double association
    val idf = math.log(1.0 + (4 - 1 + 0.5) / (1 + 0.5))
    val k1p1 = 1.2 + 1.0
    def r6(x: Double) = BigDecimal(x)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val d1 = idf * (2 * k1p1) / (2 + 1.2 * (0.25 + 0.75 * 3 / 1.5))
    val d2 = idf * (1 * k1p1) / (1 + 1.2 * (0.25 + 0.75 * 2 / 1.5))
    // doc1 outranks doc2 (higher tf, same idf); docs 3/4 match nothing
    assert(out === Seq((1L, r6(d1)), (2L, r6(d2))))
    assert(r6(d1) > r6(d2))
    intercept[IllegalArgumentException] {
      Keywords.bm25TopK(docs.withColumnRenamed("id", "bm25"), "bm25",
        "text", Seq("apple"), 1)
    }
  }

  test("bm25BatchTopK: per-query results identical to the bm25TopK loop; " +
      "no-match queries emit nothing") {
    import graft.operators.Keywords
    val docs = Seq((1L, "apple banana apple"), (2L, "banana cherry"),
      (3L, "kiwi apple"), (4L, "cherry cherry banana"), (5L, ""))
      .toDF("id", "text")
    val termSets = Seq(10L -> Seq("apple", "cherry"), 20L -> Seq("banana"),
      30L -> Seq("zzz"))
    val qdf = termSets.toDF("qid", "terms")
    val batch = Keywords.bm25BatchTopK(docs, "id", "text", qdf, "qid",
        "terms", k = 3)
      .as[(Long, Long, Double)].collect().toSeq
    val loop = termSets.flatMap { case (qid, terms) =>
      Keywords.bm25TopK(docs, "id", "text", terms, k = 3)
        .as[(Long, Double)].collect().map { case (id, s) => (qid, id, s) }
    }
    assert(batch.sortBy(r => (r._1, r._2)) === loop.sortBy(r => (r._1, r._2)))
    assert(!batch.exists(_._1 == 30L)) // no term matched anywhere
  }

  test("rrfFuse: agreement beats any single rank; absent docs contribute " +
      "nothing; decimal sum is exact") {
    import graft.operators.Rank
    val sysA = Seq((10L, 1), (20L, 2), (30L, 3)).toDF("id", "rank")
    val sysB = Seq((20L, 1), (30L, 2), (40L, 3)).toDF("id", "rank")
    val out = Rank.rrfFuse(Seq(sysA, sysB), "id", k = 10)
      .as[(Long, Double, Long)].collect().toSeq
    def c(r: Int) = BigDecimal(1.0 / (60 + r))
      .setScale(9, BigDecimal.RoundingMode.HALF_UP)
    // doc 20 (ranks 2+1) outranks doc 10 (rank 1 alone): agreement wins
    assert(out.map(_._1) === Seq(20L, 30L, 10L, 40L))
    assert(out.head._2 === (c(2) + c(1)).toDouble)
    assert(out.map(_._3) === Seq(2L, 2L, 1L, 1L))
    // single system: RRF preserves the input order
    val solo = Rank.rrfFuse(Seq(sysA), "id", k = 2)
      .as[(Long, Double, Long)].collect().map(_._1).toSeq
    assert(solo === Seq(10L, 20L))
    intercept[IllegalArgumentException] { Rank.rrfFuse(Seq.empty, "id", 5) }
  }

  test("corpus filter funnel: sequential drop accounting, null fails gates, " +
      "kept set = final stage") {
    import graft.operators.CorpusFilter
    val docs = Seq(
      (1L, "the cat and the dog", 10),   // passes len+en
      (2L, "xx", 1),                     // fails len
      (3L, null.asInstanceOf[String], 5), // null → fails the text gate
      (4L, "der hund und die katze", 8)  // passes len, fails en
    ).toDF("id", "text", "n")
    val gates = Seq(
      "len" -> (col("n") >= 5),
      "en" -> col("text").contains("the"))
    val f = CorpusFilter.funnel(docs, gates)
      .orderBy("stage").as[(Int, String, Long)].collect().toSeq
    assert(f === Seq((0, "total", 4L), (1, "len", 3L), (2, "en", 1L)))
    // surviving is monotone non-increasing by construction
    assert(f.map(_._3) === f.map(_._3).sorted.reverse)
    val kept = CorpusFilter.keep(docs, gates).select("id").as[Long].collect()
    assert(kept.toSeq === Seq(1L))
  }

  test("keepLatestPartitioned rewrites only touched partitions; " +
      "untouched partition files stay byte-identical") {
    import graft.operators.Merge
    val dir = java.nio.file.Files.createTempDirectory("pmerge")
      .resolve("table").toString
    val base = Seq(
      (1L, "p0", 1L, "a"), (2L, "p0", 1L, "b"),
      (3L, "p1", 1L, "c"), (4L, "p2", 1L, "d")
    ).toDF("k", "p", "v", "payload")
    base.write.partitionBy("p").parquet(dir)

    // byte-level snapshot of a partition directory: name → (size, md5)
    def snapshot(part: String): Map[String, (Long, String)] = {
      val d = new java.io.File(dir, part)
      d.listFiles().filter(_.getName.endsWith(".parquet")).map { f =>
        val bytes = java.nio.file.Files.readAllBytes(f.toPath)
        val md5 = java.security.MessageDigest.getInstance("MD5")
          .digest(bytes).map("%02x".format(_)).mkString
        f.getName -> (f.length(), md5)
      }.toMap
    }
    val before0 = snapshot("p=p0")
    val before1 = snapshot("p=p1")
    assert(before0.nonEmpty && before1.nonEmpty)

    // the batch touches ONLY p2: one key update (higher version) + one new
    val updates = Seq((4L, "p2", 2L, "D2"), (5L, "p2", 1L, "e"))
      .toDF("k", "p", "v", "payload")
    Merge.keepLatestPartitioned(spark, dir, updates, Seq("k"), "v", "p")

    // untouched partitions: same files, same bytes (never rewritten)
    assert(snapshot("p=p0") === before0)
    assert(snapshot("p=p1") === before1)

    // merged content equals the full-table keepLatest semantics
    val out = spark.read.parquet(dir)
      .select("k", "p", "v", "payload").as[(Long, String, Long, String)]
      .collect().toSet
    val expected = Merge.keepLatest(base, updates, Seq("k"), "v")
      .select("k", "p", "v", "payload").as[(Long, String, Long, String)]
      .collect().toSet
    assert(out === expected)
    assert(out === Set((1L, "p0", 1L, "a"), (2L, "p0", 1L, "b"),
      (3L, "p1", 1L, "c"), (4L, "p2", 2L, "D2"), (5L, "p2", 1L, "e")))

    // replaying the same batch is a no-op on content (idempotent
    // re-delivery — the keepLatest update-wins-ties contract carries over)
    Merge.keepLatestPartitioned(spark, dir, updates, Seq("k"), "v", "p")
    val replay = spark.read.parquet(dir)
      .select("k", "p", "v", "payload").as[(Long, String, Long, String)]
      .collect().toSet
    assert(replay === expected)
    assert(snapshot("p=p0") === before0) // still untouched after replay
  }

  test("keepLatestPartitioned merges the NULL partition null-safely: " +
      "base keys in __HIVE_DEFAULT_PARTITION__ survive an update there") {
    import graft.operators.Merge
    val dir = java.nio.file.Files.createTempDirectory("pmerge_null")
      .resolve("table").toString
    val base = Seq((1L, Option.empty[String], 1L, "a"),
        (2L, Option("p0"), 1L, "b"))
      .toDF("k", "p", "v", "payload")
    base.write.partitionBy("p").parquet(dir)
    // the batch touches ONLY the null partition: a new key arrives there
    val updates = Seq((3L, Option.empty[String], 1L, "c"))
      .toDF("k", "p", "v", "payload")
    Merge.keepLatestPartitioned(spark, dir, updates, Seq("k"), "v", "p")
    val out = spark.read.parquet(dir)
      .select("k", "p", "v", "payload")
      .as[(Long, Option[String], Long, String)].collect().toSet
    // base key 1 (null partition) must NOT be dropped by the rewrite
    assert(out === Set((1L, None, 1L, "a"), (2L, Some("p0"), 1L, "b"),
      (3L, None, 1L, "c")))
  }

  test("keepLatestPartitioned validateKeyStability catches a moved key " +
      "loudly; a stable batch still merges") {
    import graft.operators.Merge
    val dir = java.nio.file.Files.createTempDirectory("pmerge_moved")
      .resolve("table").toString
    val base = Seq(
      (1L, "p0", 1L, "a"), (2L, "p1", 1L, "b"),
      (3L, Option.empty[String].orNull, 1L, "n"))
      .toDF("k", "p", "v", "payload")
    base.write.partitionBy("p").parquet(dir)

    // key 1 lives in p0 but the batch delivers it under p1 — a contract
    // violation that would silently leave (1, p0, v1) alive
    val moved = Seq((1L, "p1", 2L, "A2")).toDF("k", "p", "v", "payload")
    val ex = intercept[IllegalStateException] {
      Merge.keepLatestPartitioned(spark, dir, moved, Seq("k"), "v", "p",
        validateKeyStability = true)
    }
    assert(ex.getMessage.contains("outside the touched set"))
    // the throw happened BEFORE any write: base content is untouched
    assert(spark.read.parquet(dir).count() === 3)

    // a key moved out of the NULL partition must be caught too (the check's
    // complement predicate has to be null-safe to see that base row)
    val movedFromNull = Seq((3L, "p0", 2L, "N2")).toDF("k", "p", "v", "payload")
    intercept[IllegalStateException] {
      Merge.keepLatestPartitioned(spark, dir, movedFromNull, Seq("k"), "v", "p",
        validateKeyStability = true)
    }

    // a partition-stable batch passes validation and merges normally
    val stable = Seq((1L, "p0", 2L, "A2"), (4L, "p2", 1L, "d"))
      .toDF("k", "p", "v", "payload")
    Merge.keepLatestPartitioned(spark, dir, stable, Seq("k"), "v", "p",
      validateKeyStability = true)
    val out = spark.read.parquet(dir)
      .select("k", "p", "v", "payload")
      .as[(Long, Option[String], Long, String)].collect().toSet
    assert(out === Set((1L, Some("p0"), 2L, "A2"), (2L, Some("p1"), 1L, "b"),
      (3L, None, 1L, "n"), (4L, Some("p2"), 1L, "d")))
  }
}
