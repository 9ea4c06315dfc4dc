package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.{TextAnalysis, Vectors}
import graft.operators.{CellIndex, Components, Contamination, Dedup,
  FlatIndex, Keywords, Merge, Multimodal, Pq, Similarity, VectorCodec}
import graft.operators.CellAssigner.{Hyperplane, Voronoi}
import graft.operators.VectorCodec.Exact
import graft.sources.SketchSidecar.Scope

/** LLM-training-data-pipeline extension operators over the `documents` /
  * `embeddings` tables (builder brief + SURVEY.md §7.1.6): dedup, similarity
  * search, text analysis, multimodal plumbing. SQL-expressible ops carry a
  * DuckDB oracle; hash-based ops (MinHash/SimHash/LSH — engine-specific
  * hashing) are rows-only here and verified by ScalaTest instead.
  */
object ExtQueries {

  private def docs(s: SparkSession, d: String): DataFrame =
    Tables.load(s, d, "documents")

  /** The mm_ahash_* media fixture: even docs get a seed-keyed noise WAV,
    * odd docs the ×2 time stretch of their even neighbor's — planted
    * stretch pairs (2k, 2k+1) at audioHash Hamming 0.
    */
  private def ahashMedia(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    docs(s, d).select(col("doc_id")).as[Long]
      .mapPartitions(_.map { id =>
        val bytes =
          if (id % 2 == 0) Multimodal.syntheticNoiseWav(id, 130, 8000, 1)
          else Multimodal.stretchWav(
            Multimodal.syntheticNoiseWav(id - 1, 130, 8000, 1), 2)
        Multimodal.MediaRecord(id, bytes)
      }).toDF()
  }

  /** The mm_dhash_* media fixture: even docs get a seed-keyed noise PNG,
    * odd docs the ×2 upscale of their even neighbor's — planted resize
    * pairs (2k, 2k+1) at dHash Hamming 0.
    */
  private def dhashMedia(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    docs(s, d).select(col("doc_id")).as[Long]
      .mapPartitions(_.map { id =>
        val bytes =
          if (id % 2 == 0) Multimodal.syntheticNoisePng(id, 18, 16)
          else Multimodal.upscaleNearest(
            Multimodal.syntheticNoisePng(id - 1, 18, 16), 2)
        Multimodal.MediaRecord(id, bytes)
      }).toDF()
  }
  /** The mm_video_neardup corpus: one synthetic animated GIF per doc
    * (every `every`-th doc only, for the quadratic gap twin's subset) —
    * even docs get 6 frames, their odd neighbors the 4-frame PREFIX
    * re-cut of the same seed, so (2k, 2k+1) are planted near-dups.
    */
  private def videoMedia(s: SparkSession, d: String,
                         every: Int): DataFrame = {
    import s.implicits._
    docs(s, d).select(col("doc_id"))
      .where(pmod(col("doc_id"), lit(every)) === 0).as[Long]
      .mapPartitions(_.map { id =>
        Multimodal.MediaRecord(id,
          Multimodal.syntheticGif(id / 2, if (id % 2 == 0) 6 else 4, 9, 8))
      }).toDF()
  }

  private def embs(s: SparkSession, d: String): DataFrame =
    Tables.load(s, d, "embeddings")

  /** The mm_dhash_dedup_indexed fixture: the hash-once media index for
    * the [[dhashMedia]] corpus, built once per sf dir ([[buildOnce]]) —
    * the first caller pays the one decode pass, every later query and
    * bench pass serves from persisted 8-byte fingerprints. The fixture is
    * deterministic (seed-keyed synthetic media), so reuse across runs
    * is sound.
    */
  private def mediaHashIndexFor(s: SparkSession, d: String): String = {
    val path = new java.io.File(
      sys.props("java.io.tmpdir"),
      "graft_media_hash_index_" + d.replaceAll("[^A-Za-z0-9]", "_"))
    buildOnce(path) {
      Multimodal.writeMediaHashIndex(readDhashMedia(s, d), path.toString)
    }
    path.toString
  }

  /** The [[dhashMedia]] corpus STAGED as parquet bytes, built once per
    * sf dir ([[buildOnce]]): the PNG synthesis (ImageIO encode per doc, plus a
    * decode+re-encode for every upscaled odd doc) is FIXTURE BUILD, not
    * the verb mm_dhash_dedup prices — a deployment decodes stored
    * bytes, it does not synthesize them — so the timed body reads the
    * staged bytes and pays decode + dHash + the blocked Hamming join
    * alone. Deterministic (seed-keyed synthetic media), so reuse across
    * passes is sound; Verify self-stages on first touch.
    */
  private def dhashMediaPathFor(s: SparkSession, d: String): String = {
    val path = new java.io.File(
      sys.props("java.io.tmpdir"),
      "graft_dhash_media_" + d.replaceAll("[^A-Za-z0-9]", "_"))
    buildOnce(path) {
      dhashMedia(s, d).write.parquet(path.toString)
    }
    path.toString
  }

  private def readDhashMedia(s: SparkSession, d: String): DataFrame =
    s.read.parquet(dhashMediaPathFor(s, d))

  /** The mm_ahash_dedup_indexed fixture: the hash-once AUDIO fingerprint
    * index for the [[ahashMedia]] corpus — the waveform twin of
    * [[mediaHashIndexFor]], built once per sf dir the same way
    * (deterministic seed-keyed synthetic WAVs).
    */
  private def audioHashIndexFor(s: SparkSession, d: String): String = {
    val path = new java.io.File(
      sys.props("java.io.tmpdir"),
      "graft_audio_hash_index_" + d.replaceAll("[^A-Za-z0-9]", "_"))
    buildOnce(path) {
      Multimodal.writeAudioHashIndex(ahashMedia(s, d), path.toString)
    }
    path.toString
  }

  /** The q_bloom_gate fixture: an exact-key membership index over the
    * TEXT of docs with `doc_id % 5 ≠ 0`, ingested as two batches. The
    * filter is deliberately TIGHT (64k bits vs thousands of keys) so
    * bloom false positives actually occur and the confirm join earns
    * its keep — the gate result stays exact regardless, which is why
    * this row can carry a full DuckDB oracle.
    */
  private def bloomIndexFor(s: SparkSession, d: String)
      : graft.sources.BloomKeyIndex.Cfg = {
    val path = new java.io.File(
      sys.props("java.io.tmpdir"),
      "graft_bloom_index_" + d.replaceAll("[^A-Za-z0-9]", "_"))
    graft.sources.Compaction.rm(path)
    val cfg = graft.sources.BloomKeyIndex.Cfg(path.toString,
      keyExpr = "text", expectedItems = 65536L, numBits = 65536L)
    Seq(Seq(1, 2), Seq(3, 4)).foreach { mods =>
      graft.sources.BloomKeyIndex.appendBatch(
        docs(s, d).filter(pmod(col("doc_id"), lit(5)).isin(mods: _*)),
        cfg)
    }
    cfg
  }

  /** Build-once gate for the deterministic fixtures: `build` runs only
    * when the `_FIXTURE_DONE` marker is absent — the marker is written
    * AFTER the build, so a crashed partial build rebuilds from scratch —
    * and later calls serve from the existing fixture. This is what makes
    * the bench rows SERVE-ONLY: pass 1 pays the one-off build (batch
    * ingest, media synthesis, the hash-once decode), passes 2+ time the
    * serve alone, so the min-of-passes number is the steady-state cost.
    * Sound to reuse across runs: every fixture is a deterministic
    * function of the parquet inputs (pmod splits, fixed config, seeded
    * sketches and synthetic media).
    */
  // one lock per fixture root: concurrent callers (overlapped driver
  // threads, a parallelized spec) must not race the rm/build/marker
  // sequence — double-checked under the lock, so losers see the marker
  // and return without rebuilding
  private val fixtureLocks =
    new java.util.concurrent.ConcurrentHashMap[String, Object]()

  private def buildOnce(dir: java.io.File)(build: => Unit): Unit = {
    val lock = fixtureLocks.computeIfAbsent(dir.getAbsolutePath,
      _ => new Object)
    lock.synchronized {
      val marker = new java.io.File(dir, "_FIXTURE_DONE")
      if (marker.exists()) return
      graft.sources.Compaction.rm(dir)
      build
      java.nio.file.Files.writeString(marker.toPath, "done")
    }
  }

  /** The q_heavy_hitters fixture: the events table replayed as 5 ingest
    * batches (pmod on user_id), each appending a sidecar row with CMS +
    * Misra-Gries candidates over `event_type`. Built once per sf dir
    * ([[buildOnce]]); the serve merges the 5 rows.
    */
  private def hhSidecarFor(s: SparkSession, d: String)
      : graft.sources.SketchSidecar.Cfg = {
    val path = new java.io.File(
      sys.props("java.io.tmpdir"),
      "graft_hh_sidecar_" + d.replaceAll("[^A-Za-z0-9]", "_"))
    val cfg = graft.sources.SketchSidecar.Cfg(
      new java.io.File(path, "sc").toString,
      distinctExpr = "user_id", valueExpr = "value",
      heavyKeyExpr = Some("event_type"))
    buildOnce(path) {
      (0 until 5).foreach { b =>
        graft.sources.SketchSidecar.appendBatch(
          graft.Tables.events(s, d)
            .filter(pmod(col("user_id"), lit(5)) === b), cfg)
      }
    }
    cfg
  }

  /** The q_sketch_sidecar fixture: the documents table replayed as 5
    * ingest batches (pmod on doc_id), each appending one mergeable
    * sketch row — distinct over `doc_id`, quantiles over `n_chars` —
    * exactly the per-batch write the corpus loop does. Built once per
    * sf dir ([[buildOnce]]); the serve merges the 5 rows.
    */
  private def sketchSidecarFor(s: SparkSession, d: String)
      : graft.sources.SketchSidecar.Cfg = {
    val path = new java.io.File(
      sys.props("java.io.tmpdir"),
      "graft_sketch_sidecar_" + d.replaceAll("[^A-Za-z0-9]", "_"))
    val cfg = graft.sources.SketchSidecar.Cfg(
      new java.io.File(path, "sc").toString,
      distinctExpr = "doc_id", valueExpr = "n_chars")
    buildOnce(path) {
      (0 until 5).foreach { b =>
        graft.sources.SketchSidecar.appendBatch(
          docs(s, d).filter(pmod(col("doc_id"), lit(5)) === b), cfg)
      }
    }
    cfg
  }

  /** The q_kmv_overlap fixture: two corpus snapshots of the orders
    * table — A = orderkeys with `o_orderkey % 10 < 6`, B = `% 10 >= 4`
    * (true Jaccard ≈ 2/10 on the sequential key space) — each ingested
    * as 2 sidecar batches carrying a KMV bottom-k sketch. The overlap
    * question (how much of B is already in A) is then served from the
    * two O(k) sidecars alone, the 100 TB dataset-versioning /
    * contamination-pricing path.
    */
  private def kmvSidecarsFor(s: SparkSession, d: String)
      : (graft.sources.SketchSidecar.Cfg, graft.sources.SketchSidecar.Cfg) = {
    val base = new java.io.File(
      sys.props("java.io.tmpdir"),
      "graft_kmv_sidecar_" + d.replaceAll("[^A-Za-z0-9]", "_"))
    val orders = Tables.load(s, d, "orders")
    def cfgFor(sub: String) = graft.sources.SketchSidecar.Cfg(
      new java.io.File(base, sub).toString,
      distinctExpr = "o_orderkey", valueExpr = "o_totalprice",
      kmvKeyExpr = Some("o_orderkey"), kmvK = 1024)
    val (cfgA, cfgB) = (cfgFor("a"), cfgFor("b"))
    // marker-gated like every other sidecar fixture, so the bench rows
    // price the O(k) sidecar SERVE the operator claims — not a 4-append
    // rebuild on every call (pass 1 pays ingest once per sf dir)
    buildOnce(base) {
      (0 until 2).foreach { b =>
        graft.sources.SketchSidecar.appendBatch(
          orders.filter(pmod(col("o_orderkey"), lit(10)) < 6 &&
            pmod(col("o_orderkey"), lit(2)) === b), cfgA)
        graft.sources.SketchSidecar.appendBatch(
          orders.filter(pmod(col("o_orderkey"), lit(10)) >= 4 &&
            pmod(col("o_orderkey"), lit(2)) === b), cfgB)
      }
    }
    (cfgA, cfgB)
  }

  /** The q_kmv_by_group fixture: the same two corpus snapshots as
    * [[kmvSidecarsFor]] ingested into GROUPED sidecars — one KMV row
    * per (batch, o_orderpriority) — so the overlap question is answered
    * PER PRIORITY GROUP: the per-domain contamination-pricing dashboard
    * ("how much of group G's candidate crawl is already in the training
    * set") from two O(#groups·k) sidecars. Also the fused-face fixture:
    * grouped and KMV on one sidecar, one aggregation pass per batch.
    */
  private def groupedKmvSidecarsFor(s: SparkSession, d: String)
      : (graft.sources.SketchSidecar.Cfg, graft.sources.SketchSidecar.Cfg) = {
    val base = new java.io.File(
      sys.props("java.io.tmpdir"),
      "graft_gkmv_sidecar_" + d.replaceAll("[^A-Za-z0-9]", "_"))
    val orders = Tables.load(s, d, "orders")
    def cfgFor(sub: String) = graft.sources.SketchSidecar.Cfg(
      new java.io.File(base, sub).toString,
      distinctExpr = "o_orderkey", valueExpr = "o_totalprice",
      kmvKeyExpr = Some("o_orderkey"), kmvK = 1024,
      groupKeyExpr = Some("o_orderpriority"))
    val (cfgA, cfgB) = (cfgFor("a"), cfgFor("b"))
    // marker-gated (see [[kmvSidecarsFor]]) — the serve rows time the
    // O(#groups·k) sidecar merge, never the fixture ingest
    buildOnce(base) {
      (0 until 2).foreach { b =>
        graft.sources.SketchSidecar.appendBatch(
          orders.filter(pmod(col("o_orderkey"), lit(10)) < 6 &&
            pmod(col("o_orderkey"), lit(2)) === b), cfgA)
        graft.sources.SketchSidecar.appendBatch(
          orders.filter(pmod(col("o_orderkey"), lit(10)) >= 4 &&
            pmod(col("o_orderkey"), lit(2)) === b), cfgB)
      }
    }
    (cfgA, cfgB)
  }

  /** The q_sketch_by_group / q_heavy_hitters_by_group fixture: the
    * documents table replayed as 5 ingest batches into a GROUPED
    * sidecar that ALSO carries the heavy-hitter face — one row per
    * (batch, source) holding distinct-over-`doc_id` HLL registers,
    * `n_chars` quantile summaries, AND a CMS + Misra-Gries candidates
    * over `lang`, all from the round-15 single-scan append — so one
    * sidecar serves both the per-domain distribution dashboard and
    * "which languages dominate each source". Batches split on a HASH of
    * the id (not `doc_id % 5`, which the synthetic `source` column is
    * correlated with) so every group spans several batches and the
    * per-group row MERGE is what the queries actually exercise. Built
    * once per sf dir ([[buildOnce]]).
    */
  private def groupedSketchSidecarFor(s: SparkSession, d: String)
      : graft.sources.SketchSidecar.Cfg = {
    val path = new java.io.File(
      sys.props("java.io.tmpdir"),
      "graft_grp_sketch_" + d.replaceAll("[^A-Za-z0-9]", "_"))
    val cfg = graft.sources.SketchSidecar.Cfg(
      new java.io.File(path, "sc").toString,
      distinctExpr = "doc_id", valueExpr = "n_chars",
      groupKeyExpr = Some("source"), heavyKeyExpr = Some("lang"))
    buildOnce(path) {
      (0 until 5).foreach { b =>
        graft.sources.SketchSidecar.appendBatch(
          docs(s, d).filter(pmod(xxhash64(col("doc_id")), lit(5)) === b),
          cfg)
      }
    }
    cfg
  }

  /** The q_range_bucketed fixture: the documents projection laid out in
    * `rb=` range partitions whose bounds are the 8-way equi-depth
    * boundaries SERVED from the sketch sidecar ([[sketchSidecarFor]] —
    * the same monitoring state the corpus loop already maintains), so
    * the layout costs one data pass and zero sampling. Built once per
    * sf dir; returns (table path, bounds).
    */
  private def rangeBucketedFor(s: SparkSession, d: String)
      : (String, Seq[Double]) = {
    val cfg = sketchSidecarFor(s, d)
    val bounds = graft.sources.SketchSidecar
      .servedRangeBounds(s, cfg.sidecarPath, 8)
    val base = new java.io.File(
      sys.props("java.io.tmpdir"),
      "graft_range_bucketed_" + d.replaceAll("[^A-Za-z0-9]", "_"))
    val tab = new java.io.File(base, "t").toString
    buildOnce(base) {
      graft.sources.Bucketing.writeRangeBucketed(
        docs(s, d).select(col("doc_id"), col("n_chars")),
        tab, "n_chars", bounds)
    }
    (tab, bounds)
  }

  /** The dedup_provenance_lookup / dedup_attribution fixture: the same
    * ngram-Jaccard pair set as dedup_components, folded into a
    * PARTITIONED label store as 3 incremental batches (the
    * dedup_components_incremental discipline) — built once per sf dir
    * ([[buildOnce]]; the pair generation and every update are
    * deterministic). Returns the store path.
    */
  private def provStoreFor(s: SparkSession, d: String): String = {
    val base = new java.io.File(
      sys.props("java.io.tmpdir"),
      "graft_prov_store_" + d.replaceAll("[^A-Za-z0-9]", "_"))
    val store = new java.io.File(base, "store").toString
    buildOnce(base) {
      val pairs = graft.operators.Dedup.ngramJaccardPairs(docs(s, d),
          "doc_id", "text",
          Seq(col("lang"), floor(col("n_chars") / 64)), n = 3,
          threshold = 0.5)
        .localCheckpoint(true)
      try {
        (0 until 3).foreach { b =>
          Components.updateLabelStore(s, store,
            pairs.where(pmod(col("id_b"), lit(3)) === b), "id_a", "id_b",
            partitions = 16)
        }
      } finally org.apache.spark.sql.GraftBridge.unpersistCheckpoint(pairs)
    }
    store
  }

  /** The q_sketch_window fixture: the events table replayed as 5 ingest
    * batches into a DAY-grouped sidecar — one row per (batch, day),
    * distinct over `user_id` — so "distinct users over an arbitrary
    * date range" is served by register union of the covered days' rows
    * ([[graft.sources.SketchSidecar.servedDistinct]] over a window), the
    * classic production HLL pattern. Batches split on event_id so every
    * day spans several batches. Built once per sf dir.
    */
  private def daySketchSidecarFor(s: SparkSession, d: String)
      : graft.sources.SketchSidecar.Cfg = {
    val path = new java.io.File(
      sys.props("java.io.tmpdir"),
      "graft_day_sketch_" + d.replaceAll("[^A-Za-z0-9]", "_"))
    val cfg = graft.sources.SketchSidecar.Cfg(
      new java.io.File(path, "sc").toString,
      distinctExpr = "user_id", valueExpr = "value",
      groupKeyExpr = Some("cast(ts as date)"))
    buildOnce(path) {
      (0 until 5).foreach { b =>
        graft.sources.SketchSidecar.appendBatch(
          graft.Tables.events(s, d)
            .filter(pmod(col("event_id"), lit(5)) === b), cfg)
      }
    }
    cfg
  }

  /** The 7-day window probed by q_sketch_window: Jan 7–13 2024. */
  private val sketchWindowDays: Seq[String] =
    (7 to 13).map(day => f"2024-01-$day%02d")

  /** The two windows probed by q_kmv_window_overlap: Jan 7–10 vs
    * Jan 11–13 2024 (disjoint in days; users recur, so the sets
    * overlap). */
  private val kmvWindowDaysA: Seq[String] =
    (7 to 10).map(day => f"2024-01-$day%02d")
  private val kmvWindowDaysB: Seq[String] =
    (11 to 13).map(day => f"2024-01-$day%02d")

  /** The q_hh_window / q_kmv_window fixture: the events table replayed
    * as 5 ingest batches into a DAY-grouped sidecar that ALSO carries
    * the CMS heavy-hitter face (over `event_type`) and the KMV face
    * (over `user_id`) — every face in the one single-scan append — so
    * windowed monitoring questions ("which event types dominated THIS
    * week", "how many distinct users, with set algebra on tap") are
    * served from the covered day rows alone. Own dir (the multi-face
    * day config postdates [[daySketchSidecarFor]]'s marker-gated
    * build).
    */
  private def dayMultiSidecarFor(s: SparkSession, d: String)
      : graft.sources.SketchSidecar.Cfg = {
    val path = new java.io.File(
      sys.props("java.io.tmpdir"),
      "graft_day_multi_" + d.replaceAll("[^A-Za-z0-9]", "_"))
    val cfg = graft.sources.SketchSidecar.Cfg(
      new java.io.File(path, "sc").toString,
      distinctExpr = "user_id", valueExpr = "value",
      groupKeyExpr = Some("cast(ts as date)"),
      heavyKeyExpr = Some("event_type"),
      kmvKeyExpr = Some("user_id"), kmvK = 1024)
    buildOnce(path) {
      (0 until 5).foreach { b =>
        graft.sources.SketchSidecar.appendBatch(
          graft.Tables.events(s, d)
            .filter(pmod(col("event_id"), lit(5)) === b), cfg)
      }
    }
    cfg
  }

  /** The q_join_size fixture: the two order-snapshot corpora of
    * [[kmvSidecarsFor]] (A = keys % 10 < 6, B = % 10 >= 4, 2 batches
    * each) ingested with the CMS face over `o_custkey` — so the
    * join-cardinality question |A ⋈ B| on custkey is answered from the
    * two sidecars' merged sketches alone ([[graft.sources.SketchSidecar
    * .servedJoinSize]]), never by joining the corpora.
    */
  private def cmsJoinSidecarsFor(s: SparkSession, d: String)
      : (graft.sources.SketchSidecar.Cfg, graft.sources.SketchSidecar.Cfg) = {
    val base = new java.io.File(
      sys.props("java.io.tmpdir"),
      "graft_cmsjoin_sidecar_" + d.replaceAll("[^A-Za-z0-9]", "_"))
    val orders = Tables.load(s, d, "orders")
    def cfgFor(sub: String) = graft.sources.SketchSidecar.Cfg(
      new java.io.File(base, sub).toString,
      distinctExpr = "o_orderkey", valueExpr = "o_totalprice",
      heavyKeyExpr = Some("o_custkey"))
    val (cfgA, cfgB) = (cfgFor("a"), cfgFor("b"))
    buildOnce(base) {
      (0 until 2).foreach { b =>
        graft.sources.SketchSidecar.appendBatch(
          orders.filter(pmod(col("o_orderkey"), lit(10)) < 6 &&
            pmod(col("o_orderkey"), lit(2)) === b), cfgA)
        graft.sources.SketchSidecar.appendBatch(
          orders.filter(pmod(col("o_orderkey"), lit(10)) >= 4 &&
            pmod(col("o_orderkey"), lit(2)) === b), cfgB)
      }
    }
    (cfgA, cfgB)
  }

  /** The q_graph_triangles_incremental fixture: the co-purchase edge
    * stream (same pair construction as Queries.q_graph_triangles)
    * arriving as 3 order-keyed batches into an incremental triangle
    * store — each batch folds in at O(m + delta·deg) instead of the
    * O(m^1.5) recount. Built once per sf dir; the final census must
    * EQUAL the one-shot count, which is exactly what the shared DuckDB
    * oracle checks.
    */
  private def triangleStoreFor(s: SparkSession, d: String): String = {
    val base = new java.io.File(
      sys.props("java.io.tmpdir"),
      "graft_tri_store_" + d.replaceAll("[^A-Za-z0-9]", "_"))
    val store = new java.io.File(base, "store").toString
    buildOnce(base) {
      val li = Tables.load(s, d, "lineitem")
        .select(col("l_orderkey"), col("l_partkey"))
      (0 until 3).foreach { b =>
        val batch = li.filter(pmod(col("l_orderkey"), lit(3)) === b)
        val pairs = batch.as("a").join(batch.as("b"),
            col("a.l_orderkey") === col("b.l_orderkey") &&
            col("a.l_partkey") < col("b.l_partkey"))
          .select(col("a.l_partkey").as("src"),
            col("b.l_partkey").as("dst"))
        graft.operators.Graph.updateTriangleCensus(s, store, pairs,
          "src", "dst")
      }
    }
    store
  }

  /** The q_sketch_moments fixture: the documents table replayed as 5
    * ingest batches into a source-GROUPED sidecar (hash split, the
    * [[groupedSketchSidecarFor]] convention) — its own dir because the
    * moments columns (vn/vsum/vsum2/vmin/vmax) postdate the other
    * sidecar fixtures' marker-gated builds. Exercises the one sidecar
    * face served EXACTLY: per-group and cross-group merges of the
    * per-batch sums/extrema equal a direct corpus scan, so both
    * queries carry full DuckDB equality oracles.
    */
  private def momentsSidecarFor(s: SparkSession, d: String)
      : graft.sources.SketchSidecar.Cfg = {
    val path = new java.io.File(
      sys.props("java.io.tmpdir"),
      "graft_moments_sidecar_" + d.replaceAll("[^A-Za-z0-9]", "_"))
    val cfg = graft.sources.SketchSidecar.Cfg(
      new java.io.File(path, "sc").toString,
      distinctExpr = "doc_id", valueExpr = "n_chars",
      groupKeyExpr = Some("source"))
    buildOnce(path) {
      (0 until 5).foreach { b =>
        graft.sources.SketchSidecar.appendBatch(
          docs(s, d).filter(pmod(xxhash64(col("doc_id")), lit(5)) === b),
          cfg)
      }
    }
    cfg
  }

  /** The q_emb_drift fixture: an IVF index frozen over the corpus slice
    * (`vec_id % 5 ≠ 0`) with its cell-occupancy sidecar — the embedding-
    * space reference the drift monitor scores batches against. Seed
    * centroids (kmeansIters = 0) keep the cell space bit-deterministic,
    * the emb_semdedup convention; nlist = 8 for a finer histogram than
    * the serving fixtures need.
    */
  private def embDriftIndexFor(s: SparkSession, d: String): String = {
    val idx = new java.io.File(
      sys.props("java.io.tmpdir"),
      "graft_emb_drift_idx_" + d.replaceAll("[^A-Za-z0-9]", "_")).toString
    CellIndex(idx, Voronoi(nlist = 8), Exact).write(
      embs(s, d).filter(pmod(col("vec_id"), lit(5)) =!= 0),
      "vec_id", "embedding")
    graft.operators.Divergence.writeCellOccupancy(s, idx)
    idx
  }

  /** Semantic near-dup matches of an arriving batch against an INDEXED
    * corpus — [[Dedup.dedupAgainstIndex]]'s move applied to embeddings:
    * the plain IVF index's threshold search (the batch probes its cells
    * with the frozen centroids, the index is read only in those cell
    * directories, candidates verify by exact cosine), a batch row never
    * matching its own id. Precision is exact; recall is bounded by cell
    * co-residence. Returns (new_id, corpus_id, cosine).
    */
  private def semanticDupAgainst(s: SparkSession, ix: CellIndex,
                                 batch: DataFrame,
                                 threshold: Double): DataFrame =
    ix.withinThreshold(s, "vec_id", "embedding", batch, "vec_id",
        "embedding", threshold)
      .where(col("query_id") =!= col("vec_id"))
      .select(col("query_id").as("new_id"), col("vec_id").as("corpus_id"),
        col("score").as("cosine"))

  /** Recall of `approx` against ground-truth `truth` on key columns `keys`,
    * as a 1-row frame (found, total, recall, meets_floor) — puts the
    * approximate family's quality into the driver-visible correctness
    * artifact instead of only ScalaTest. Empty truth ⇒ recall 1.0 by
    * convention.
    *
    * `floor` is the documented per-operator quality floor, MACHINE-ENFORCED
    * in the artifact ROW COUNT: the result keeps only the row whose recall
    * clears the floor, so a violated floor reads as `spark_rows: 0` in the
    * driver's correctness artifact — a value the correctness diff surfaces
    * directly — instead of a boolean buried inside a parquet file nobody
    * diffs. A passing twin is always exactly 1 row (found/total/recall/
    * meets_floor, the last constant-true by construction).
    */
  private[graft] def recallOf(truth: DataFrame, approx: DataFrame,
                              keys: Seq[String], floor: Double): DataFrame =
    truth.join(
        approx.select(keys.map(col): _*).distinct().withColumn("__hit", lit(1)),
        keys, "left")
      .agg(coalesce(sum("__hit"), lit(0L)).as("found"),
        count(lit(1)).as("total"))
      .select(col("found"), col("total"),
        round(when(col("total") === 0, lit(1.0))
          .otherwise(col("found").cast("double") / col("total")), 6)
          .as("recall"))
      .withColumn("meets_floor", col("recall") >= floor)
      .where(col("meets_floor"))

  /** The corpus_filter_* gate chain, in pipeline order. Thresholds compare
    * values whose formulas are already hash-proven cross-engine by their
    * own oracle queries, so gate decisions can't diverge at the boundary.
    */
  private def corpusGates: Seq[(String, org.apache.spark.sql.Column)] = Seq(
    "tokens" -> TextAnalysis.tokenCount(col("text")).between(16, 512),
    "lang" -> (TextAnalysis.langId(col("text")) === "en"),
    "quality" -> (TextAnalysis.qualityScore(col("text")) >= 0.5),
    "repetition" -> (TextAnalysis.repetitionRatio(col("text"), 2) <= 0.2),
    // ALL pii kinds gate (emails + IPs + phones) — a doc slips through
    // only if every audited counter is zero, matching the C4/Gopher
    // "PII screen" framing; each counter formula is hash-proven by the
    // text_pii oracle
    "pii" -> (TextAnalysis.piiCounts(col("text"))
      .map(_._2).reduce(_ + _) === 0))

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // exact dedup: one hash-shuffle on the key, map-side partial agg
    "dedup_exact" -> ((s, d) =>
      Dedup.exact(docs(s, d), "doc_id", Seq("text"))
        .select("doc_id", "n_copies")
        .orderBy("doc_id")),

    // the WHOLE curation pipeline as one declarative plan, hash-checked
    // end to end: quality gates (CorpusFilter) → best-copy exact dedup
    // (Dedup.exactBest) → nucleus 80%-mass cut per source
    // (Sampling.topMassPerStratum). Every stage is an engine operator;
    // Catalyst fuses the chain — this is the composition a corpus builder
    // actually ships, proven equivalent to the reference SQL in one hash
    "q_curation_pipeline" -> ((s, d) => {
      val gated = graft.operators.CorpusFilter.keep(docs(s, d), Seq(
        "lang_en" -> (col("lang") === "en"),
        "min_len" -> (col("n_chars") >= 100)))
      val deduped = Dedup.exactBest(gated, "doc_id", Seq("text"), "source")
      graft.operators.Sampling.topMassPerStratum(deduped, "source",
          "doc_id", scoreCol = "n_chars", massCol = "n_chars",
          pNum = 8, pDen = 10)
        .select("doc_id", "source", "n_chars")
        .transform(Queries.presentSorted(_, "doc_id"))
    }),

    // exact dedup with a QUALITY survivor policy: per duplicate group keep
    // the copy from the preferred (lexicographically last) source, id as
    // tie-break — curation keeps the best copy, not the first-seen one
    "dedup_exact_best" -> ((s, d) =>
      Dedup.exactBest(docs(s, d), "doc_id", Seq("text"), "source")
        .transform(Queries.presentSorted(_, "doc_id"))),

    // n-gram Jaccard near-dup pairs, blocked by (lang, length bucket) so the
    // self-join is an equi-join — per-block quadratic, never global
    "dedup_ngram_jaccard" -> ((s, d) =>
      Dedup.ngramJaccardPairs(docs(s, d), "doc_id", "text",
          Seq(col("lang"), floor(col("n_chars") / 64)), n = 3, threshold = 0.5)
        .select(col("id_a"), col("id_b"), round(col("jaccard"), 6).as("jaccard"))
        .transform(Queries.presentSorted(_, "id_a", "id_b"))),

    // MinHash+LSH candidate pairs verified at Jaccard ≥ 0.5 — signature and
    // banding are xxhash64-based, so rows-only (ScalaTest checks recall
    // against the exact-Jaccard oracle operator above).
    // persistIntermediates=false: at fixture scale the signature recompute
    // (a sub-second narrow scan) is cheaper than cache materialization +
    // cache-manager traffic (measured 2–5× on one-shot runs); on a real
    // multi-TB corpus flip it on so the corpus is shingled once, not 3×.
    "dedup_minhash" -> ((s, d) =>
      Dedup.minhashLsh(docs(s, d), "doc_id", "text",
          numHashes = 32, bands = 8, shingleK = 5, threshold = 0.5,
          persistIntermediates = false)
        .select(col("id_a"), col("id_b"), round(col("jaccard"), 6).as("jaccard"))
        .transform(Queries.presentSorted(_, "id_a", "id_b"))),

    // incremental dedup — the continuous-ingest shape: 80% of the docs
    // play the indexed corpus (shingled ONCE, at index build), the other
    // 20% play the arriving batch, deduped against the index by MinHash
    // signature agreement without touching corpus text. Rows-only
    // (hash-based); DedupSpec pins planted cross-batch duplicates.
    "dedup_incremental" -> ((s, d) => {
      val idx = new java.io.File(
        sys.props("java.io.tmpdir"),
        "graft_minhash_index_" + d.replaceAll("[^A-Za-z0-9]", "_")).toString
      val corpus = docs(s, d).filter(pmod(col("doc_id"), lit(5)) =!= 0)
      val batch = docs(s, d).filter(pmod(col("doc_id"), lit(5)) === 0)
      Dedup.writeMinhashIndex(corpus, "doc_id", "text", idx)
      Dedup.dedupAgainstIndex(batch, "doc_id", "text", idx, threshold = 0.5)
        .transform(Queries.presentSorted(_, "new_id", "corpus_id"))
    }),

    // recall of the estimate-decided incremental path vs the exact
    // batch×corpus Jaccard ground truth (length-bound-pruned, like
    // dedup_minhash_recall) — quantifies what deciding on the MinHash
    // ESTIMATE (no text re-fetch) costs at the threshold boundary
    "dedup_incremental_recall" -> ((s, d) => {
      import graft.functions.HashedShingles.hashedShingles
      val t = 0.5
      val idx = new java.io.File(
        sys.props("java.io.tmpdir"),
        "graft_minhash_index_" + d.replaceAll("[^A-Za-z0-9]", "_")).toString
      val corpus = docs(s, d).filter(pmod(col("doc_id"), lit(5)) =!= 0)
      val batch = docs(s, d).filter(pmod(col("doc_id"), lit(5)) === 0)
      val shC = corpus.select(col("doc_id").as("corpus_id"),
        hashedShingles(col("text"), 5).as("sh_c"))
      val shB = batch.select(col("doc_id").as("new_id"),
        hashedShingles(col("text"), 5).as("sh_b"))
      val truth = shB.crossJoin(shC)
        .where(size(col("sh_c")) * t <= size(col("sh_b")) &&
          size(col("sh_b")) * t <= size(col("sh_c")))
        .where(graft.functions.LongArrayJaccard
          .jaccardLong(col("sh_b"), col("sh_c")) >= t)
        .select("new_id", "corpus_id")
      Dedup.writeMinhashIndex(corpus, "doc_id", "text", idx)
      recallOf(truth,
        Dedup.dedupAgainstIndex(batch, "doc_id", "text", idx, t),
        Seq("new_id", "corpus_id"), floor = 0.8)
    }),

    // SimHash near-dup pairs (hamming ≤ 3 over 64-bit signatures)
    "dedup_simhash" -> ((s, d) =>
      Dedup.simhashPairs(docs(s, d), "doc_id", "text", maxHamming = 3)
        .transform(Queries.presentSorted(_, "id_a", "id_b"))),

    // the wide-radius tier (hamming ≤ 10 — the radius real pHash dedup
    // wants) through the multi-index candidate path: per-block Hamming-
    // ball expansion instead of exact-block pigeonhole. Its floor twin
    // below pins full recall against the brute-force truth every round
    "dedup_simhash_wide" -> ((s, d) =>
      Dedup.simhashPairs(docs(s, d), "doc_id", "text", maxHamming = 10)
        .transform(Queries.presentSorted(_, "id_a", "id_b"))),

    // sketch aggregates, GROUPED form — the scale path for distinct
    // counts and quantiles: COUNT(DISTINCT) at 100 TB shuffles every
    // distinct key to its group, while the HLL++ sketch answers in one
    // narrow pass with a few KB of mergeable state per group (and
    // Spark's implementation stays EXACT in sparse mode for small
    // cardinalities). The GLOBAL single-sketch error rows
    // (`q_approx_distinct_error` / `q_approx_percentile_error` in
    // [[Queries]]) price one ungrouped sketch; this family covers the
    // realistic GROUP BY usage — per-group sketch state merged across
    // partitions, error enforced as a max over ALL groups — plus the
    // sketch's rank-error contract and the oracle-checked exact
    // baseline. Rows-only: sketch contents are engine-defined. rsd is
    // EXPLICIT and identical to the _gap twin below — the twin certifies
    // exactly the sketch configuration this row runs, so a regression in
    // this path cannot hide behind a differently-configured floor
    "q_approx_distinct" -> ((s, d) =>
      graft.Tables.events(s, d).groupBy("event_type")
        .agg(approx_count_distinct(col("user_id"), 0.02)
          .as("approx_users"))
        .transform(Queries.presentSorted(_, "event_type"))),

    // floor: EVERY group within 3.5 standard deviations of the sketch's
    // configured rsd 0.02 (bound 0.07). rsd is a STANDARD deviation, not
    // a max — a hard max-at-rsd bound would fail a dense-mode group with
    // ~32% probability per group even with a healthy sketch; 3.5σ over a
    // handful of groups flags only a real regression. (At the tested SFs
    // the groups sit in HLL++'s exact sparse mode, so the observed error
    // is 0 — the headroom matters the moment a group crosses the dense
    // threshold.) A violation empties the row (spark_rows: 0), the twin
    // family's loud-failure convention
    "q_approx_distinct_gap" -> ((s, d) => {
      val e = graft.Tables.events(s, d)
      val approx = e.groupBy("event_type")
        .agg(approx_count_distinct(col("user_id"), 0.02).as("a"))
      val exact = e.groupBy("event_type")
        .agg(countDistinct(col("user_id")).as("x"))
      approx.join(exact, "event_type")
        .agg(count(lit(1)).as("groups"),
          max(abs(col("a") - col("x")) /
            col("x").cast("double")).as("max_rel_err"))
        .withColumn("meets_floor", col("max_rel_err") <= 0.07)
        .where(col("meets_floor"))
    }),

    // KLL/GK-style quantile sketch (percentile_approx): exact percentiles
    // need a full sort per group; the sketch bounds RANK error by
    // 1/accuracy with bounded mergeable state. Rows-only (sketch answers
    // are engine-defined data values)
    "q_approx_quantiles" -> ((s, d) =>
      graft.Tables.events(s, d).groupBy("event_type")
        .agg(percentile_approx(col("value"),
          array(lit(0.5), lit(0.9), lit(0.99)), lit(10000)).as("qs"))
        .select(col("event_type"),
          round(col("qs")(0), 6).as("p50"),
          round(col("qs")(1), 6).as("p90"),
          round(col("qs")(2), 6).as("p99"))
        .transform(Queries.presentSorted(_, "event_type"))),

    // the exact interpolated percentiles the sketch is priced against —
    // oracle-checked (Spark `percentile` ≡ DuckDB `quantile_cont`, both
    // linear-interpolation rank semantics). The full per-group sort this
    // needs is exactly the cost q_approx_quantiles exists to avoid
    "q_exact_quantiles" -> ((s, d) =>
      graft.Tables.events(s, d).groupBy("event_type")
        .agg(percentile(col("value"),
          array(lit(0.5), lit(0.9), lit(0.99))).as("qs"))
        .select(col("event_type"),
          round(col("qs")(0), 6).as("p50"),
          round(col("qs")(1), 6).as("p90"),
          round(col("qs")(2), 6).as("p99"))
        .transform(Queries.presentSorted(_, "event_type"))),

    // floor on the sketch's own contract — REALIZED rank error, tie-
    // aware: the sketch returns a data VALUE, which occupies the whole
    // rank interval [(lt+1)/n, le/n] (lt = rows strictly below, le =
    // rows ≤; a tie run widens the interval — counting only `le` would
    // charge the sketch for tie mass no answer can avoid). The distance
    // from p to that interval must sit within 1/accuracy plus the 1/n
    // granularity of a finite group. A sketch regression surfaces; an
    // exact-mode group passes at machine precision regardless of
    // duplicated values at the percentile
    "q_approx_quantiles_gap" -> ((s, d) => {
      val acc = 10000
      val e = graft.Tables.events(s, d).select(col("event_type"),
        col("value"))
      val approx = e.groupBy("event_type")
        .agg(percentile_approx(col("value"),
          array(lit(0.5), lit(0.9), lit(0.99)), lit(acc)).as("qs"))
        .select(col("event_type"), posexplode(col("qs")).as(Seq("i", "v")))
        .withColumn("p",
          element_at(typedlit(Seq(0.5, 0.9, 0.99)), col("i") + 1))
      e.join(approx, "event_type")
        .groupBy("event_type", "p", "v")
        .agg(sum(when(col("value") < col("v"), 1L).otherwise(0L)).as("lt"),
          sum(when(col("value") <= col("v"), 1L).otherwise(0L)).as("le"),
          count(lit(1)).as("n"))
        .select((greatest(lit(0.0),
            (col("lt") + 1) / col("n").cast("double") - col("p"),
            col("p") - col("le") / col("n").cast("double")) -
          lit(1.0) / col("n")).as("err_excess"))
        .agg(count(lit(1)).as("cells"),
          max(col("err_excess")).as("max_rank_err_excess"))
        .withColumn("meets_floor",
          col("max_rank_err_excess") <= lit(1.0 / acc + 1e-9))
        .where(col("meets_floor"))
    }),

    // persisted-sketch serving — the INCREMENTAL form of the sketch
    // family above: the documents table arrives as 5 ingest batches,
    // each appending one mergeable sidecar row (HLL registers +
    // equi-depth quantile summary, exactly what the corpus loop
    // maintains per admitted batch), and corpus-level distinct count
    // and quantiles are answered by merging the 5 rows — O(#batches)
    // serve, the 100 TB replacement for a per-question corpus re-scan.
    // Rows-only (sketch answers are engine-defined); the _gap twin
    // below enforces both error contracts against exact recompute
    "q_sketch_sidecar" -> ((s, d) => {
      val cfg = sketchSidecarFor(s, d)
      val dist = graft.sources.SketchSidecar
        .servedDistinct(s, cfg.sidecarPath)
      val qs = graft.sources.SketchSidecar
        .servedQuantiles(s, cfg.sidecarPath, Seq(0.5, 0.9, 0.99))
        .agg(
          max(when(col("p") === 0.5, col("value"))).as("p50"),
          max(when(col("p") === 0.9, col("value"))).as("p90"),
          max(when(col("p") === 0.99, col("value"))).as("p99"))
      dist.crossJoin(qs)
        .select(col("batches"), col("distinct_estimate"),
          round(col("p50"), 6).as("p50"), round(col("p90"), 6).as("p90"),
          round(col("p99"), 6).as("p99"))
    }),

    // the sidecar's double floor, one row or loudly zero:
    //   (a) distinct contract — the union-served estimate must sit
    //       within 3.5σ of the sketch's configured rsd (1.04/√2^lgK)
    //       of the EXACT distinct count. NOT an identity check against
    //       the single-pass sketch: Datasketches' union promotes the
    //       internal representation (coupon list → HLL array) earlier
    //       than a single sketch over the same data would (measured:
    //       494 vs a sparse-exact 500 at sf0.001), so the two
    //       estimates legitimately differ while both honoring the rsd
    //       — merge_drift rides along as a reported column;
    //   (b) quantile rank error — each served value's tie-aware
    //       realized rank must be within 2/numBuckets + 1/accuracy of
    //       its target p (the derivation in SketchSidecar's scaladoc),
    //       net of the 1/n granularity of a finite corpus
    "q_sketch_sidecar_gap" -> ((s, d) => {
      val cfg = sketchSidecarFor(s, d)
      val e = docs(s, d).select(col("doc_id"),
        col("n_chars").cast("double").as("value"))
      val served = graft.sources.SketchSidecar
        .servedDistinct(s, cfg.sidecarPath)
      val direct = e.agg(
        hll_sketch_estimate(hll_sketch_agg(col("doc_id"), cfg.lgConfigK))
          .as("direct_est"),
        countDistinct(col("doc_id")).as("x"))
      val distErr = served.crossJoin(direct).select(
        (abs(col("distinct_estimate") - col("direct_est")) /
          col("direct_est")).as("merge_drift"),
        (abs(col("distinct_estimate") - col("x")) /
          col("x").cast("double")).as("dist_rel_err"))
      val sq = graft.sources.SketchSidecar
        .servedQuantiles(s, cfg.sidecarPath, Seq(0.5, 0.9, 0.99))
        .select(col("p"), col("value").as("v"))
      val qErr = e.crossJoin(broadcast(sq))
        .groupBy("p", "v")
        .agg(sum(when(col("value") < col("v"), 1L).otherwise(0L)).as("lt"),
          sum(when(col("value") <= col("v"), 1L).otherwise(0L)).as("le"),
          count(lit(1)).as("n"))
        .select((greatest(lit(0.0),
            (col("lt") + 1) / col("n").cast("double") - col("p"),
            col("p") - col("le") / col("n").cast("double")) -
          lit(1.0) / col("n")).as("err_excess"))
        .agg(max(col("err_excess")).as("max_rank_err_excess"))
      distErr.crossJoin(qErr)
        .withColumn("meets_floor",
          col("dist_rel_err") <=
            lit(3.5 * 1.04 / math.sqrt((1L << cfg.lgConfigK).toDouble)) &&
          col("max_rank_err_excess") <=
            lit(2.0 / cfg.numBuckets + 1.0 / cfg.accuracy + 1e-9))
        .where(col("meets_floor"))
    }),

    // exact-key membership gate (URL-level exact dedup at scale): the
    // arriving batch (doc_id % 5 = 0) is gated against the indexed
    // corpus — bloom routes (definitely-new rows never join), the
    // pruned keys table confirms the suspect minority, and because the
    // route-then-confirm plan is EXACT the whole gate carries a full
    // DuckDB oracle (NOT EXISTS over the same split), false positives
    // and all
    "q_bloom_gate" -> ((s, d) => {
      val cfg = bloomIndexFor(s, d)
      graft.sources.BloomKeyIndex.novelRows(
          docs(s, d).filter(pmod(col("doc_id"), lit(5)) === 0)
            .select(col("doc_id"), col("text")),
          cfg)
        .select(col("doc_id")).orderBy(col("doc_id"))
    }),

    // heavy hitters from the same per-batch sidecar discipline: each
    // batch appends a Count-Min sketch + its Misra-Gries candidate keys
    // (one single-scan aggregation per batch); "which
    // keys dominate the corpus" merges the CMS rows cell-wise and
    // prices the bounded candidate union against the merged sketch —
    // O(#batches) state, no corpus re-scan, deterministic at the fixed
    // seed. Rows-only; the _gap twin enforces all four guarantees
    "q_heavy_hitters" -> ((s, d) => {
      val cfg = hhSidecarFor(s, d)
      graft.sources.SketchSidecar
        .servedHeavyHitters(s, cfg.sidecarPath, phi = 0.1)
    }),

    // the CMS contract, machine-enforced (one row or loudly zero):
    // no candidate under-counted (CMS only over-counts), every
    // over-count within cmsEps·N (deterministic at the fixed seed),
    // every truly-φ-heavy key served (completeness — provable since
    // φ = 0.1 ≥ 1/topK = 1/32), and every served key truly at least
    // (φ − cmsEps)-heavy (soundness)
    "q_heavy_hitters_gap" -> ((s, d) => {
      val cfg = hhSidecarFor(s, d)
      val phi = 0.1
      val exact = graft.Tables.events(s, d)
        .groupBy(col("event_type").cast("string").as("key"))
        .agg(count(lit(1)).as("cnt"))
      val totalRow = exact.agg(sum(col("cnt")).as("total"))
      // phi→~0 serves EVERY candidate with its estimate (the bound
      // checks need non-heavy candidates too)
      val allEst = graft.sources.SketchSidecar
        .servedHeavyHitters(s, cfg.sidecarPath, phi = 1e-12)
        .select(col("key"), col("est"))
      val served = graft.sources.SketchSidecar
        .servedHeavyHitters(s, cfg.sidecarPath, phi)
        .select(col("key")).withColumn("__served", lit(1))
      val bounds = allEst.join(exact, Seq("key"))
        .agg(max(col("cnt") - col("est")).as("max_under"),
          max(col("est") - col("cnt")).as("max_over"))
      val completeness = exact.crossJoin(totalRow)
        .where(col("cnt") >= col("total") * phi)
        .join(served, Seq("key"), "left")
        .agg(count(lit(1)).as("heavy_true"),
          coalesce(sum("__served"), lit(0L)).as("heavy_found"))
      val soundness = served.join(exact, Seq("key")).crossJoin(totalRow)
        .agg(count(lit(1)).as("served_n"),
          coalesce(sum(when(
            col("cnt") >= col("total") * (phi - cfg.cmsEps), 1L)
            .otherwise(0L)), lit(0L)).as("served_sound"))
      bounds.crossJoin(totalRow).crossJoin(completeness)
        .crossJoin(soundness)
        .withColumn("meets_floor",
          col("max_under") <= 0L &&
          col("max_over") <= col("total") * cfg.cmsEps &&
          col("heavy_found") === col("heavy_true") &&
          col("served_sound") === col("served_n"))
        .where(col("meets_floor"))
    }),

    // the per-domain monitoring dashboard from the GROUPED sidecar: one
    // row per source with its distinct-doc estimate and n_chars
    // quantiles, merged from 5 per-batch rows — per-group answers with
    // zero corpus scanning. Rows-only (sketch answers are
    // engine-defined); the _gap twin enforces the per-group contracts
    "q_sketch_by_group" -> ((s, d) => {
      val cfg = groupedSketchSidecarFor(s, d)
      val dist = graft.sources.SketchSidecar
        .servedDistinct(s, cfg.sidecarPath, Scope.PerGroup)
      val qs = graft.sources.SketchSidecar
        .servedQuantiles(s, cfg.sidecarPath, Seq(0.5, 0.9),
          Scope.PerGroup)
        .groupBy("grp")
        .agg(max(when(col("p") === 0.5, col("value"))).as("p50"),
          max(when(col("p") === 0.9, col("value"))).as("p90"))
      dist.join(qs, Seq("grp"))
        .select(col("grp"), col("batches"), col("distinct_estimate"),
          round(col("p50"), 6).as("p50"), round(col("p90"), 6).as("p90"))
        .orderBy("grp")
    }),

    // the grouped sidecar's contract, enforced on the WORST group (one
    // row or loudly zero): every group's merged distinct estimate within
    // the HLL rsd of its exact per-group count, every group's served
    // quantile within the rank-error bound of its OWN rank scale
    "q_sketch_by_group_gap" -> ((s, d) => {
      val cfg = groupedSketchSidecarFor(s, d)
      val e = docs(s, d).select(col("source").as("grp"), col("doc_id"),
        col("n_chars").cast("double").as("value"))
      val served = graft.sources.SketchSidecar
        .servedDistinct(s, cfg.sidecarPath, Scope.PerGroup)
      val exact = e.groupBy("grp")
        .agg(countDistinct(col("doc_id")).as("x"))
      val distErr = served.join(exact, Seq("grp"))
        .agg(max(abs(col("distinct_estimate") - col("x")) /
          col("x").cast("double")).as("max_dist_rel_err"))
      val sq = graft.sources.SketchSidecar
        .servedQuantiles(s, cfg.sidecarPath, Seq(0.5, 0.9),
          Scope.PerGroup)
        .select(col("grp"), col("p"), col("value").as("v"))
      val qErr = e.join(broadcast(sq), Seq("grp"))
        .groupBy("grp", "p", "v")
        .agg(sum(when(col("value") < col("v"), 1L).otherwise(0L)).as("lt"),
          sum(when(col("value") <= col("v"), 1L).otherwise(0L)).as("le"),
          count(lit(1)).as("n"))
        .select((greatest(lit(0.0),
            (col("lt") + 1) / col("n").cast("double") - col("p"),
            col("p") - col("le") / col("n").cast("double")) -
          lit(1.0) / col("n")).as("err_excess"))
        .agg(max(col("err_excess")).as("max_rank_err_excess"))
      distErr.crossJoin(qErr)
        .withColumn("meets_floor",
          col("max_dist_rel_err") <=
            lit(3.5 * 1.04 / math.sqrt((1L << cfg.lgConfigK).toDouble)) &&
          col("max_rank_err_excess") <=
            lit(2.0 / cfg.numBuckets + 1.0 / cfg.accuracy + 1e-9))
        .where(col("meets_floor"))
    }),

    // cluster-balanced diversity selection: per-Voronoi-cell quotas over
    // the frozen IVF index, a deterministic hash as the quality score —
    // the same-budget alternative to a global top-N that one dense
    // embedding mode would otherwise dominate. Rows-only (cell space is
    // engine-defined); the _gap twin enforces the structural quota and
    // the coverage guarantee
    "q_cluster_sample" -> ((s, d) => {
      val idx = embDriftIndexFor(s, d)
      graft.operators.Sampling.clusterBalancedSample(
          embs(s, d).withColumn("score",
            pmod(xxhash64(col("vec_id")), lit(100000L))),
          "vec_id", "embedding", idx, quotaPerCell = 5, "score")
        .select(col("vec_id"), col("cell"), col("score"))
        .orderBy("vec_id")
    }),

    // the sampler's contracts, machine-enforced (one row or loudly
    // zero): (a) no cell exceeds its quota; (b) the selection size is
    // exactly Σ min(quota, cell population); (c) cell coverage is no
    // worse than a GLOBAL top-N of the same budget — the diversity
    // property the operator exists for
    "q_cluster_sample_gap" -> ((s, d) => {
      val idx = embDriftIndexFor(s, d)
      val quota = 5
      val scored = embs(s, d).withColumn("score",
        pmod(xxhash64(col("vec_id")), lit(100000L)))
      val sel = graft.operators.Sampling.clusterBalancedSample(
        scored, "vec_id", "embedding", idx, quota, "score")
        .select(col("vec_id"), col("cell")).localCheckpoint(true)
      try {
        val perCell = sel.groupBy("cell").agg(count(lit(1)).as("cnt"))
          .agg(max(col("cnt")).as("max_per_cell"),
            sum(col("cnt")).as("selected"),
            count(lit(1)).as("cells_covered"))
        // the FULL table with its cell assignment: the sampler itself at
        // an unreachable quota (same argmax, zero rows cut)
        val allCelled = graft.operators.Sampling.clusterBalancedSample(
            scored, "vec_id", "embedding", idx, Int.MaxValue, "score")
          .select(col("vec_id"), col("cell"), col("score"))
          .localCheckpoint(true)
        try {
          // expected size: sum over populated cells of min(quota, pop)
          val pops = allCelled.groupBy("cell")
            .agg(count(lit(1)).as("pop"))
            .agg(sum(least(col("pop"), lit(quota))).as("expected"))
          val budgetRow = sel.agg(count(lit(1)).as("budget"))
          // global top-(same budget) by score: single-partition rank —
          // twin-only cost at fixture scale, never the operator's plan
          val globalCoverage = allCelled
            .withColumn("__gr", row_number().over(
              org.apache.spark.sql.expressions.Window
                .orderBy(col("score").desc, col("vec_id"))))
            .crossJoin(broadcast(budgetRow))
            .where(col("__gr") <= col("budget"))
            .agg(countDistinct(col("cell")).as("global_cells"))
          perCell.crossJoin(pops).crossJoin(globalCoverage)
            .withColumn("meets_floor",
              col("max_per_cell") <= quota &&
              col("selected") === col("expected") &&
              col("cells_covered") >= col("global_cells"))
            .where(col("meets_floor"))
            // materialize before releasing the checkpoints it reads
            .localCheckpoint(true)
        } finally
          org.apache.spark.sql.GraftBridge.unpersistCheckpoint(allCelled)
      } finally org.apache.spark.sql.GraftBridge.unpersistCheckpoint(sel)
    }),

    // dataset-overlap estimation from two KMV sidecars — the set
    // INTERSECTION question HLL registers cannot answer: Jaccard,
    // intersection and union of two corpus snapshots priced from two
    // O(k) sketches, never a scan of either side. Rows-only (estimates
    // are engine-defined); the _gap twin enforces every bound against
    // the exact answer. Deterministic: xxhash64 + a fixed merge order
    "q_kmv_overlap" -> ((s, d) => {
      val (cfgA, cfgB) = kmvSidecarsFor(s, d)
      graft.sources.SketchSidecar
        .servedOverlap(s, cfgA.sidecarPath, cfgB.sidecarPath)
        .select(round(col("a_est"), 4).as("a_est"),
          round(col("b_est"), 4).as("b_est"),
          round(col("union_est"), 4).as("union_est"),
          round(col("jaccard"), 6).as("jaccard"),
          round(col("inter_est"), 4).as("inter_est"),
          round(col("a_only_est"), 4).as("a_only_est"),
          round(col("b_only_est"), 4).as("b_only_est"))
    }),

    // the KMV error contract, machine-enforced (one row or loudly
    // zero): per-set and union distinct estimates within 3.5σ of the
    // exact counts (rse = 1/√(k−2); exact-regime sketches pass at 0),
    // the Jaccard estimate within 3.5·0.5/√k absolute of the true
    // Jaccard (ρ is a mean of k Bernoulli(J) indicators, std ≤ 0.5/√k),
    // and the intersection estimate within the two bounds composed
    // (inter = ρ·U_est, so |err|/U ≤ jaccard bound + rel bound)
    "q_kmv_overlap_gap" -> ((s, d) => {
      val (cfgA, cfgB) = kmvSidecarsFor(s, d)
      val k = cfgA.kmvK
      val relBound = 3.5 / math.sqrt((k - 2).toDouble)
      val jBound = 3.5 * 0.5 / math.sqrt(k.toDouble)
      val served = graft.sources.SketchSidecar
        .servedOverlap(s, cfgA.sidecarPath, cfgB.sidecarPath)
      val m = Tables.load(s, d, "orders")
        .select(col("o_orderkey"),
          pmod(col("o_orderkey"), lit(10)).as("m"))
      val exact = m.agg(
        countDistinct(when(col("m") < 6, col("o_orderkey"))).as("na"),
        countDistinct(when(col("m") >= 4, col("o_orderkey"))).as("nb"),
        countDistinct(when(col("m").between(4, 5), col("o_orderkey")))
          .as("ni"),
        countDistinct(col("o_orderkey")).as("nu"))
      served.crossJoin(exact)
        .select(
          round(abs(col("a_est") - col("na")) / col("na"), 6)
            .as("a_rel_err"),
          round(abs(col("b_est") - col("nb")) / col("nb"), 6)
            .as("b_rel_err"),
          round(abs(col("union_est") - col("nu")) / col("nu"), 6)
            .as("union_rel_err"),
          round(abs(col("jaccard") - col("ni") / col("nu").cast("double")),
            6).as("jaccard_abs_err"),
          round(abs(col("inter_est") - col("ni")) / col("nu"), 6)
            .as("inter_err_vs_union"),
          round(abs(col("a_only_est") - (col("na") - col("ni"))) /
            col("nu"), 6).as("a_only_err_vs_union"),
          round(abs(col("b_only_est") - (col("nb") - col("ni"))) /
            col("nu"), 6).as("b_only_err_vs_union"))
        .withColumn("meets_floor",
          col("a_rel_err") <= relBound &&
          col("b_rel_err") <= relBound &&
          col("union_rel_err") <= relBound &&
          col("jaccard_abs_err") <= jBound &&
          col("inter_err_vs_union") <= jBound + relBound &&
          col("a_only_err_vs_union") <= jBound + relBound &&
          col("b_only_err_vs_union") <= jBound + relBound)
        .where(col("meets_floor"))
    }),

    // any-window distinct from a DAY-grouped sidecar: distinct users
    // over a 7-day range by register union of the covered days' rows —
    // O(rows-in-range) serve, never an events re-scan, single-sketch
    // rsd regardless of span. Rows-only (sketch answers are
    // engine-defined); the _gap twin enforces coverage and the rsd
    // contract against the exact range count
    "q_sketch_window" -> ((s, d) => {
      val cfg = daySketchSidecarFor(s, d)
      val dist = graft.sources.SketchSidecar
        .servedDistinct(s, cfg.sidecarPath,
          Scope.Window(sketchWindowDays))
      val qs = graft.sources.SketchSidecar
        .servedQuantiles(s, cfg.sidecarPath, Seq(0.5, 0.9),
          Scope.Window(sketchWindowDays))
        .agg(max(when(col("p") === 0.5, col("value"))).as("p50"),
          max(when(col("p") === 0.9, col("value"))).as("p90"))
      dist.crossJoin(qs)
        .select(col("groups_covered"), col("distinct_estimate"),
          round(col("p50"), 6).as("p50"), round(col("p90"), 6).as("p90"))
    }),

    // the window serve's contract, machine-enforced (one row or loudly
    // zero): every requested day contributed rows, the unioned distinct
    // estimate sits within 3.5 sigma of the sketch's configured rsd of
    // the EXACT range count, and every windowed quantile's tie-aware
    // realized rank is within the 2/K + 1/accuracy ledger of its target
    // on the WINDOW's own rank scale
    "q_sketch_window_gap" -> ((s, d) => {
      val cfg = daySketchSidecarFor(s, d)
      val served = graft.sources.SketchSidecar
        .servedDistinct(s, cfg.sidecarPath,
          Scope.Window(sketchWindowDays))
      val inWindow = graft.Tables.events(s, d)
        .where(col("ts").cast("date")
          .between(sketchWindowDays.head, sketchWindowDays.last))
      val exact = inWindow.agg(countDistinct(col("user_id")).as("x"))
      val sq = graft.sources.SketchSidecar
        .servedQuantiles(s, cfg.sidecarPath, Seq(0.5, 0.9),
          Scope.Window(sketchWindowDays))
        .select(col("p"), col("value").as("v"))
      val qErr = inWindow
        .select(col("value").cast("double").as("value"))
        .crossJoin(broadcast(sq))
        .groupBy("p", "v")
        .agg(sum(when(col("value") < col("v"), 1L).otherwise(0L)).as("lt"),
          sum(when(col("value") <= col("v"), 1L).otherwise(0L)).as("le"),
          count(lit(1)).as("n"))
        .select((greatest(lit(0.0),
            (col("lt") + 1) / col("n").cast("double") - col("p"),
            col("p") - col("le") / col("n").cast("double")) -
          lit(1.0) / col("n")).as("err_excess"))
        .agg(max(col("err_excess")).as("max_rank_err_excess"))
      served.crossJoin(exact).crossJoin(qErr)
        .select(col("groups_covered"),
          round(abs(col("distinct_estimate") - col("x")) /
            col("x").cast("double"), 6).as("rel_err"),
          round(col("max_rank_err_excess"), 6).as("max_rank_err_excess"))
        .withColumn("meets_floor",
          col("groups_covered") === sketchWindowDays.length &&
          col("rel_err") <=
            lit(3.5 * 1.04 / math.sqrt((1L << cfg.lgConfigK).toDouble)) &&
          col("max_rank_err_excess") <=
            lit(2.0 / cfg.numBuckets + 1.0 / cfg.accuracy + 1e-9))
        .where(col("meets_floor"))
    }),

    // any-window heavy hitters from the DAY-grouped multi-face sidecar:
    // which event types dominated the Jan 7-13 window, by CMS cell-merge
    // + candidate union over the covered day rows only — O(rows-in-
    // range), never an events re-scan. Rows-only; the _gap twin
    // enforces all four CMS guarantees on the window's own scale
    "q_hh_window" -> ((s, d) => {
      val cfg = dayMultiSidecarFor(s, d)
      graft.sources.SketchSidecar.servedHeavyHitters(
        s, cfg.sidecarPath, phi = 0.1, Scope.Window(sketchWindowDays))
    }),

    // the windowed CMS contract (one row or loudly zero): vs the EXACT
    // per-key counts INSIDE the window — no candidate under-counted,
    // over-counts within cmsEps*N_window, every truly-phi-heavy key
    // served (phi = 0.1 >= 1/topK), every served key at least
    // (phi - cmsEps)-heavy
    "q_hh_window_gap" -> ((s, d) => {
      val cfg = dayMultiSidecarFor(s, d)
      val phi = 0.1
      val inWindow = graft.Tables.events(s, d)
        .where(col("ts").cast("date")
          .between(sketchWindowDays.head, sketchWindowDays.last))
      val exact = inWindow
        .groupBy(col("event_type").cast("string").as("key"))
        .agg(count(lit(1)).as("cnt"))
      val totalRow = exact.agg(sum(col("cnt")).as("total"))
      val allServe = graft.sources.SketchSidecar
        .servedHeavyHitters(s, cfg.sidecarPath, phi = 1e-12,
          Scope.Window(sketchWindowDays))
      val coverage = allServe
        .agg(max(col("groups_covered")).as("groups_covered"))
      val allEst = allServe.select(col("key"), col("est"))
      val served = graft.sources.SketchSidecar
        .servedHeavyHitters(s, cfg.sidecarPath, phi,
          Scope.Window(sketchWindowDays))
        .select(col("key")).withColumn("__served", lit(1))
      val bounds = allEst.join(exact, Seq("key"))
        .agg(max(col("cnt") - col("est")).as("max_under"),
          max(col("est") - col("cnt")).as("max_over"))
      val completeness = exact.crossJoin(totalRow)
        .where(col("cnt") >= col("total") * phi)
        .join(served, Seq("key"), "left")
        .agg(count(lit(1)).as("heavy_true"),
          coalesce(sum("__served"), lit(0L)).as("heavy_found"))
      val soundness = served.join(exact, Seq("key")).crossJoin(totalRow)
        .agg(count(lit(1)).as("served_n"),
          coalesce(sum(when(
            col("cnt") >= col("total") * (phi - cfg.cmsEps), 1L)
            .otherwise(0L)), lit(0L)).as("served_sound"))
      bounds.crossJoin(totalRow).crossJoin(completeness)
        .crossJoin(soundness).crossJoin(coverage)
        .withColumn("meets_floor",
          col("groups_covered") === sketchWindowDays.length &&
          col("max_under") <= 0L &&
          col("max_over") <= col("total") * cfg.cmsEps &&
          col("heavy_found") === col("heavy_true") &&
          col("served_sound") === col("served_n"))
        .where(col("meets_floor"))
    }),

    // any-window KMV distinct from the same multi-face day sidecar:
    // bottom-k union over the covered day rows — the windowed serve of
    // the face that also answers set-algebra questions. Rows-only; the
    // _gap twin below prices it against the exact range count
    "q_kmv_window" -> ((s, d) => {
      val cfg = dayMultiSidecarFor(s, d)
      graft.sources.SketchSidecar.servedKmvDistinct(
          s, cfg.sidecarPath, Scope.Window(sketchWindowDays))
        .select(col("groups_covered"),
          round(col("distinct_estimate"), 6).as("distinct_estimate"))
    }),

    // the windowed KMV contract (one row or loudly zero): every
    // requested day covered, and the unioned bottom-k estimate within
    // 3.5 sigma of rse = 1/sqrt(k-2) of the EXACT windowed distinct
    "q_kmv_window_gap" -> ((s, d) => {
      val cfg = dayMultiSidecarFor(s, d)
      val served = graft.sources.SketchSidecar
        .servedKmvDistinct(s, cfg.sidecarPath,
          Scope.Window(sketchWindowDays))
      val exact = graft.Tables.events(s, d)
        .where(col("ts").cast("date")
          .between(sketchWindowDays.head, sketchWindowDays.last))
        .agg(countDistinct(col("user_id")).as("x"))
      served.crossJoin(exact)
        .select(col("groups_covered"),
          round(abs(col("distinct_estimate") - col("x")) /
            col("x").cast("double"), 6).as("rel_err"))
        .withColumn("meets_floor",
          col("groups_covered") === sketchWindowDays.length &&
          col("rel_err") <=
            lit(3.5 / math.sqrt((cfg.kmvK - 2).toDouble)))
        .where(col("meets_floor"))
    }),

    // key-skew diagnosis from monitoring state alone: the CMS self
    // inner product estimates F2 = sum of squared key counts, giving
    // the skew measures a partitioner plans by (l2/l1 ratio, effective
    // uniform key count, bracketed top-key share) — "does event_type
    // need salting" answered from the sidecar, never a re-scan.
    // Rows-only; the _gap twin enforces the sandwich and the bracket
    "q_f2_skew" -> ((s, d) => {
      val cfg = hhSidecarFor(s, d)
      graft.sources.SketchSidecar.servedKeySkew(s, cfg.sidecarPath)
        .select(col("n"), col("f2_est"),
          round(col("l2_l1_ratio"), 6).as("l2_l1_ratio"),
          round(col("uniform_equiv_keys"), 6).as("uniform_equiv_keys"),
          round(col("top_share_lb"), 6).as("top_share_lb"),
          round(col("top_share_ub"), 6).as("top_share_ub"))
    }),

    // the F2 contract (one row or loudly zero): never under the exact
    // second moment, over by at most 2*N^2/width, and the true top-key
    // share inside the served [lb, ub] bracket
    "q_f2_skew_gap" -> ((s, d) => {
      val cfg = hhSidecarFor(s, d)
      val served = graft.sources.SketchSidecar
        .servedKeySkew(s, cfg.sidecarPath)
      val counts = graft.Tables.events(s, d)
        .groupBy(col("event_type").cast("string").as("key"))
        .agg(count(lit(1)).as("cnt"))
      val exact = counts.agg(
        coalesce(sum(col("cnt") * col("cnt")), lit(0L)).as("exact_f2"),
        max(col("cnt")).as("top_cnt"), sum(col("cnt")).as("total"))
      served.crossJoin(exact)
        .select(col("exact_f2"), col("f2_est"),
          round((col("f2_est") - col("exact_f2")) /
            greatest(col("exact_f2"), lit(1L)), 6).as("rel_excess"),
          col("f2_bound"),
          (col("top_cnt") / col("total").cast("double")).as("top_share"),
          col("top_share_lb"), col("top_share_ub"))
        .withColumn("meets_floor",
          col("f2_est") >= col("exact_f2") &&
          (col("f2_est") - col("exact_f2")).cast("double") <=
            col("f2_bound") &&
          col("top_share") >= col("top_share_lb") - lit(1e-9) &&
          col("top_share") <= col("top_share_ub") + lit(1e-9))
        .where(col("meets_floor"))
    }),

    // the incremental triangle store after 3 edge batches: the census
    // must equal the one-shot count exactly — same full DuckDB oracle
    // as q_graph_triangles, now also proving the delta algebra and the
    // store's crash-healing read path
    "q_graph_triangles_incremental" -> ((s, d) => {
      val store = triangleStoreFor(s, d)
      graft.operators.Graph.readTriangleCensus(s, store)
        .select(col("nodes"), col("edges"), col("wedges"),
          col("triangles"),
          round(col("global_clustering"), 6).as("global_clustering"))
    }),

    // per-group key skew from the GROUPED CMS face: which source's lang
    // distribution is skewed, each group priced on its own scale —
    // the salting dashboard per domain. Rows-only; the _gap twin
    // enforces every group's sandwich and bracket at the worst group
    "q_f2_skew_by_group" -> ((s, d) => {
      val cfg = groupedSketchSidecarFor(s, d)
      graft.sources.SketchSidecar
        .servedKeySkew(s, cfg.sidecarPath, Scope.PerGroup)
        .select(col("grp"), col("n"), col("f2_est"),
          round(col("l2_l1_ratio"), 6).as("l2_l1_ratio"),
          round(col("uniform_equiv_keys"), 6).as("uniform_equiv_keys"),
          round(col("top_share_lb"), 6).as("top_share_lb"),
          round(col("top_share_ub"), 6).as("top_share_ub"))
        .orderBy("grp")
    }),

    // every group's F2 sandwich and top-share bracket vs exact
    // (source, lang) counts, enforced at the WORST group (one row or
    // loudly zero)
    "q_f2_skew_by_group_gap" -> ((s, d) => {
      val cfg = groupedSketchSidecarFor(s, d)
      val served = graft.sources.SketchSidecar
        .servedKeySkew(s, cfg.sidecarPath, Scope.PerGroup)
      val exact = docs(s, d)
        .groupBy(col("source").cast("string").as("grp"),
          col("lang").cast("string").as("key"))
        .agg(count(lit(1)).as("cnt"))
        .groupBy("grp")
        .agg(sum(col("cnt") * col("cnt")).as("exact_f2"),
          max(col("cnt")).as("top_cnt"), sum(col("cnt")).as("total"))
      // LEFT join from the exact side: a group the serve wrongly
      // dropped must FAIL the floor (null served columns → ok false),
      // not silently vanish from the check
      exact.join(served, Seq("grp"), "left")
        .select(col("grp"),
          coalesce(col("f2_est") >= col("exact_f2") &&
           (col("f2_est") - col("exact_f2")) <= col("f2_bound") &&
           col("top_cnt") / col("total").cast("double") >=
             col("top_share_lb") - lit(1e-9) &&
           col("top_cnt") / col("total").cast("double") <=
             col("top_share_ub") + lit(1e-9), lit(false)).as("ok"))
        .agg(count(lit(1)).as("groups"),
          coalesce(sum(when(col("ok"), 1L).otherwise(0L)), lit(0L))
            .as("groups_ok"))
        .withColumn("meets_floor", col("groups_ok") === col("groups") &&
          col("groups") > 0)
        .where(col("meets_floor"))
    }),

    // join-cardinality estimation from monitoring state alone: |A JOIN B|
    // on o_custkey estimated as the Count-Min INNER PRODUCT of the two
    // snapshots' merged CMS sidecars — the query-planning estimate two
    // 100 TB tables cannot afford to compute by joining. Rows-only
    // (engine-defined estimate); the _gap twin enforces the sandwich
    "q_join_size" -> ((s, d) => {
      val (cfgA, cfgB) = cmsJoinSidecarsFor(s, d)
      graft.sources.SketchSidecar
        .servedJoinSize(s, cfgA.sidecarPath, cfgB.sidecarPath)
        .select(col("a_n"), col("b_n"), col("join_size_est"),
          round(col("bound"), 6).as("bound"))
    }),

    // the inner-product contract, machine-enforced (one row or loudly
    // zero): never under the EXACT join cardinality (collisions only
    // add), and over by at most 2*Na*Nb/width — the Markov bound the
    // depth-wise min beats with probability 1 - 2^-depth, deterministic
    // at the fixed seed
    "q_join_size_gap" -> ((s, d) => {
      val (cfgA, cfgB) = cmsJoinSidecarsFor(s, d)
      val served = graft.sources.SketchSidecar
        .servedJoinSize(s, cfgA.sidecarPath, cfgB.sidecarPath)
      val orders = Tables.load(s, d, "orders")
      val ca = orders.where(pmod(col("o_orderkey"), lit(10)) < 6)
        .groupBy("o_custkey").agg(count(lit(1)).as("ca"))
      val cb = orders.where(pmod(col("o_orderkey"), lit(10)) >= 4)
        .groupBy("o_custkey").agg(count(lit(1)).as("cb"))
      val exact = ca.join(cb, Seq("o_custkey"))
        .agg(coalesce(sum(col("ca") * col("cb")), lit(0L)).as("exact"))
      served.crossJoin(exact)
        .select(col("exact"), col("join_size_est"),
          round((col("join_size_est") - col("exact")) /
            greatest(col("exact"), lit(1L)), 6).as("rel_excess"),
          col("bound"))
        .withColumn("meets_floor",
          col("join_size_est") >= col("exact") &&
          (col("join_size_est") - col("exact")).cast("double") <=
            col("bound"))
        .where(col("meets_floor"))
    }),

    // distribution drift between the same two windows from the EXACT
    // moments face: Welch's z for the mean shift of `value`, served
    // from the covered day rows — and because the inputs are exact
    // sums, the whole statistic carries a full DuckDB equality oracle
    // (a drift monitor a sketch could only bound)
    "q_moments_drift" -> ((s, d) => {
      val cfg = dayMultiSidecarFor(s, d)
      graft.sources.SketchSidecar.servedMomentsDrift(
          s, cfg.sidecarPath, kmvWindowDaysA, kmvWindowDaysB)
        .select(col("a_groups_covered"), col("b_groups_covered"),
          col("n_a"), col("n_b"),
          round(col("mean_a"), 6).as("mean_a"),
          round(col("mean_b"), 6).as("mean_b"),
          round(col("welch_z"), 6).as("welch_z"))
    }),

    // set algebra BETWEEN two time windows of ONE day-grouped KMV
    // sidecar — sketch-served returning users: how many of Jan 11-13's
    // users were also active Jan 7-10 (inter), churned (a_only), new
    // (b_only) — from the covered day rows alone. Rows-only; the _gap
    // twin prices every estimate against exact windowed recomputes
    "q_kmv_window_overlap" -> ((s, d) => {
      val cfg = dayMultiSidecarFor(s, d)
      graft.sources.SketchSidecar.servedOverlapBetweenWindows(
          s, cfg.sidecarPath, kmvWindowDaysA, kmvWindowDaysB)
        .select(col("a_groups_covered"), col("b_groups_covered"),
          round(col("a_est"), 6).as("a_est"),
          round(col("b_est"), 6).as("b_est"),
          round(col("union_est"), 6).as("union_est"),
          round(col("jaccard"), 6).as("jaccard"),
          round(col("inter_est"), 6).as("inter_est"),
          round(col("a_only_est"), 6).as("a_only_est"),
          round(col("b_only_est"), 6).as("b_only_est"))
    }),

    // the between-windows contract (one row or loudly zero): both
    // windows fully covered, sizes and union within 3.5 sigma of
    // rse = 1/sqrt(k-2) of the exact windowed distinct counts, overlap
    // fractions within the exact-membership Jaccard bounds — the
    // q_kmv_overlap_gap floors on window-scoped truth
    "q_kmv_window_overlap_gap" -> ((s, d) => {
      val cfg = dayMultiSidecarFor(s, d)
      val k = cfg.kmvK
      val relBound = 3.5 / math.sqrt((k - 2).toDouble)
      val jBound = 3.5 * 0.5 / math.sqrt(k.toDouble)
      val served = graft.sources.SketchSidecar
        .servedOverlapBetweenWindows(s, cfg.sidecarPath,
          kmvWindowDaysA, kmvWindowDaysB)
      val ev = graft.Tables.events(s, d)
        .select(col("user_id"), col("ts").cast("date").as("day"))
      val inA = col("day").between(kmvWindowDaysA.head,
        kmvWindowDaysA.last)
      val inB = col("day").between(kmvWindowDaysB.head,
        kmvWindowDaysB.last)
      val exact = ev.agg(
        countDistinct(when(inA, col("user_id"))).as("na"),
        countDistinct(when(inB, col("user_id"))).as("nb"),
        countDistinct(when(inA || inB, col("user_id"))).as("nu"))
        .crossJoin(ev.where(inA).select("user_id").distinct()
          .join(ev.where(inB).select("user_id").distinct(),
            Seq("user_id"), "left_semi")
          .agg(count(lit(1)).as("ni")))
      served.crossJoin(exact)
        .select(col("a_groups_covered"), col("b_groups_covered"),
          round(abs(col("a_est") - col("na")) / col("na"), 6)
            .as("a_rel_err"),
          round(abs(col("b_est") - col("nb")) / col("nb"), 6)
            .as("b_rel_err"),
          round(abs(col("union_est") - col("nu")) / col("nu"), 6)
            .as("union_rel_err"),
          round(abs(col("jaccard") - col("ni") / col("nu").cast("double")),
            6).as("jaccard_abs_err"),
          round(abs(col("inter_est") - col("ni")) / col("nu"), 6)
            .as("inter_err_vs_union"),
          round(abs(col("a_only_est") - (col("na") - col("ni"))) /
            col("nu"), 6).as("a_only_err_vs_union"),
          round(abs(col("b_only_est") - (col("nb") - col("ni"))) /
            col("nu"), 6).as("b_only_err_vs_union"))
        .withColumn("meets_floor",
          col("a_groups_covered") === kmvWindowDaysA.length &&
          col("b_groups_covered") === kmvWindowDaysB.length &&
          col("a_rel_err") <= relBound &&
          col("b_rel_err") <= relBound &&
          col("union_rel_err") <= relBound &&
          col("jaccard_abs_err") <= jBound &&
          col("inter_err_vs_union") <= jBound + relBound &&
          col("a_only_err_vs_union") <= jBound + relBound &&
          col("b_only_err_vs_union") <= jBound + relBound)
        .where(col("meets_floor"))
    }),

    // the statistical refusal hook: an arriving batch screened against
    // the corpus's own accumulated moments (batch-vs-corpus Welch z,
    // read before any append) — exact inputs, so the whole screen
    // carries a full DuckDB equality oracle, anomaly verdict included
    "q_moments_anomaly" -> ((s, d) => {
      val cfg = momentsSidecarFor(s, d)
      graft.sources.SketchSidecar.batchAnomaly(
          docs(s, d).filter(pmod(col("doc_id"), lit(5)) === 0),
          cfg, zMax = 4.0)
        .select(col("n_batch"), col("n_corpus"),
          round(col("mean_batch"), 6).as("mean_batch"),
          round(col("mean_corpus"), 6).as("mean_corpus"),
          round(col("welch_z"), 6).as("welch_z"), col("anomalous"))
    }),

    // the sidecar family's EXACT face: corpus mean/variance/extrema of
    // n_chars served by merging the 5 per-batch moment rows — sums,
    // min and max merge associatively with NO error term, so unlike
    // every sketch face this serve carries a full DuckDB equality
    // oracle (the cross-GROUP merge of a grouped sidecar, proving the
    // group dimension drops out exactly too)
    "q_sketch_moments" -> ((s, d) => {
      val cfg = momentsSidecarFor(s, d)
      graft.sources.SketchSidecar.servedMoments(s, cfg.sidecarPath)
        .select(col("vn"), col("vsum"), col("vmin"), col("vmax"),
          round(col("mean"), 6).as("mean"),
          round(col("variance"), 6).as("variance"))
    }),

    // the per-source moments dashboard from the same grouped sidecar —
    // each group's served mean/variance/extrema EQUAL the group's
    // direct scan (full equality oracle, GROUP BY source)
    "q_sketch_moments_by_group" -> ((s, d) => {
      val cfg = momentsSidecarFor(s, d)
      graft.sources.SketchSidecar.servedMoments(s, cfg.sidecarPath,
          Scope.PerGroup)
        .select(col("grp"), col("vn"), col("vsum"), col("vmin"),
          col("vmax"), round(col("mean"), 6).as("mean"),
          round(col("variance"), 6).as("variance"))
        .orderBy("grp")
    }),

    // sidecar-driven range layout: a range predicate served from the
    // rb= partitioned copy whose bounds came from the monitoring
    // sidecar's equi-depth quantiles — static partition pruning with
    // zero sampling passes (plan-asserted in SourcesSpec). The bucket
    // layout cannot change membership (the value predicate decides), so
    // the row carries a full DuckDB oracle over the plain table
    "q_range_bucketed" -> ((s, d) => {
      val (tab, bounds) = rangeBucketedFor(s, d)
      graft.sources.Bucketing
        .readRange(s, tab, "n_chars", bounds, 128.0, 256.0)
        .select(col("doc_id"), col("n_chars"))
        .orderBy("doc_id")
    }),

    // the layout's BALANCE contract, machine-enforced (one row or
    // loudly zero): every bucket's mass within the quantile ledger of
    // the equi-depth ideal — 1/n + 2·(2/K + 1/accuracy) of rank error
    // plus the worst single-value tie mass (a tied boundary value's
    // whole mass lands in one bucket by construction) plus the 1/N
    // granularity
    "q_range_bucketed_gap" -> ((s, d) => {
      val (tab, bounds) = rangeBucketedFor(s, d)
      val cfg = sketchSidecarFor(s, d)
      val nBuckets = bounds.length + 1
      val eps = 2.0 / cfg.numBuckets + 1.0 / cfg.accuracy
      val shares = s.read.parquet(tab).groupBy("rb")
        .agg(count(lit(1)).as("c"))
      val total = docs(s, d).agg(count(lit(1)).as("total"))
      val maxTie = docs(s, d).groupBy("n_chars")
        .agg(count(lit(1)).as("tc")).agg(max(col("tc")).as("max_tie"))
      shares.crossJoin(total).crossJoin(maxTie)
        .select((col("c") / col("total")).as("share"),
          (col("max_tie") / col("total")).as("tie_share"),
          (lit(1.0) / col("total")).as("granularity"))
        .agg(round(max(col("share")), 6).as("max_bucket_share"),
          round(max(lit(1.0 / nBuckets) + lit(2.0 * eps) +
            col("tie_share") + col("granularity")), 6).as("bound"))
        .withColumn("meets_floor",
          col("max_bucket_share") <= col("bound"))
        .where(col("meets_floor"))
    }),

    // per-group heavy hitters from the SAME grouped sidecar as
    // q_sketch_by_group (one single-scan append feeds both dashboards):
    // which languages hold >= 25% of each source, candidates from the
    // per-(batch, group) Misra-Gries summaries, priced against each
    // group's cell-merged CMS. Rows-only; the _gap twin enforces the
    // per-group CMS contract on every group at once
    "q_heavy_hitters_by_group" -> ((s, d) => {
      val cfg = groupedSketchSidecarFor(s, d)
      graft.sources.SketchSidecar
        .servedHeavyHitters(s, cfg.sidecarPath, phi = 0.25, Scope.PerGroup)
        .orderBy("grp", "key")
    }),

    // the grouped CMS contract, machine-enforced across EVERY group
    // (one row or loudly zero): no candidate under-counted, over-counts
    // within cmsEps of each group's OWN total, every truly-phi-heavy
    // (grp, lang) served (completeness — provable since phi = 0.25 >=
    // 1/topK), and every served pair truly (phi − cmsEps)-heavy in its
    // group (soundness)
    "q_heavy_hitters_by_group_gap" -> ((s, d) => {
      val cfg = groupedSketchSidecarFor(s, d)
      val phi = 0.25
      val exact = docs(s, d)
        .groupBy(col("source").as("grp"), col("lang").as("key"))
        .agg(count(lit(1)).as("cnt"))
      val totals = exact.groupBy("grp").agg(sum(col("cnt")).as("total"))
      val allEst = graft.sources.SketchSidecar
        .servedHeavyHitters(s, cfg.sidecarPath, phi = 1e-12,
          Scope.PerGroup)
        .select(col("grp"), col("key"), col("est"))
      val served = graft.sources.SketchSidecar
        .servedHeavyHitters(s, cfg.sidecarPath, phi, Scope.PerGroup)
        .select(col("grp"), col("key")).withColumn("__served", lit(1))
      val bounds = allEst.join(exact, Seq("grp", "key"))
        .join(totals, Seq("grp"))
        .agg(max(col("cnt") - col("est")).as("max_under"),
          max((col("est") - col("cnt")) / col("total")).as("max_over_rel"))
      val completeness = exact.join(totals, Seq("grp"))
        .where(col("cnt") >= col("total") * phi)
        .join(served, Seq("grp", "key"), "left")
        .agg(count(lit(1)).as("heavy_true"),
          coalesce(sum("__served"), lit(0L)).as("heavy_found"))
      val soundness = served.join(exact, Seq("grp", "key"))
        .join(totals, Seq("grp"))
        .agg(count(lit(1)).as("served_n"),
          coalesce(sum(when(
            col("cnt") >= col("total") * (phi - cfg.cmsEps), 1L)
            .otherwise(0L)), lit(0L)).as("served_sound"))
      bounds.crossJoin(completeness).crossJoin(soundness)
        .withColumn("meets_floor",
          col("max_under") <= 0L &&
          col("max_over_rel") <= cfg.cmsEps &&
          col("heavy_found") === col("heavy_true") &&
          col("served_sound") === col("served_n"))
        .where(col("meets_floor"))
    }),

    // per-group dataset overlap from two GROUPED KMV sidecars — the
    // contamination-pricing dashboard: Jaccard/intersection/differences
    // of two corpus snapshots PER o_orderpriority group, each group
    // served from its own bottom-k sketch pair (fused grouped+KMV rows,
    // one aggregation pass per ingest batch). Rows-only (estimates are
    // engine-defined); the _gap twin enforces the per-group bounds on
    // the WORST group. Deterministic: xxhash64 + fixed merge order
    "q_kmv_by_group" -> ((s, d) => {
      val (cfgA, cfgB) = groupedKmvSidecarsFor(s, d)
      graft.sources.SketchSidecar
        .servedOverlap(s, cfgA.sidecarPath, cfgB.sidecarPath,
          Scope.PerGroup)
        .select(col("grp"),
          round(col("a_est"), 4).as("a_est"),
          round(col("b_est"), 4).as("b_est"),
          round(col("union_est"), 4).as("union_est"),
          round(col("jaccard"), 6).as("jaccard"),
          round(col("inter_est"), 4).as("inter_est"),
          round(col("a_only_est"), 4).as("a_only_est"),
          round(col("b_only_est"), 4).as("b_only_est"))
        .orderBy("grp")
    }),

    // the grouped KMV contract, machine-enforced on the WORST group
    // (one row or loudly zero): every group's per-set/union estimates
    // within 3.5σ of that group's exact counts (each group carries its
    // own full-k sketch, so the single-pair rse/Jaccard bounds apply
    // per group — the q_kmv_overlap_gap math, maxed over groups)
    "q_kmv_by_group_gap" -> ((s, d) => {
      val (cfgA, cfgB) = groupedKmvSidecarsFor(s, d)
      val k = cfgA.kmvK
      val relBound = 3.5 / math.sqrt((k - 2).toDouble)
      val jBound = 3.5 * 0.5 / math.sqrt(k.toDouble)
      val served = graft.sources.SketchSidecar
        .servedOverlap(s, cfgA.sidecarPath, cfgB.sidecarPath,
          Scope.PerGroup)
      val m = Tables.load(s, d, "orders")
        .select(col("o_orderkey"), col("o_orderpriority").as("grp"),
          pmod(col("o_orderkey"), lit(10)).as("m"))
      val exact = m.groupBy("grp").agg(
        countDistinct(when(col("m") < 6, col("o_orderkey"))).as("na"),
        countDistinct(when(col("m") >= 4, col("o_orderkey"))).as("nb"),
        countDistinct(when(col("m").between(4, 5), col("o_orderkey")))
          .as("ni"),
        countDistinct(col("o_orderkey")).as("nu"))
      served.join(exact, Seq("grp"))
        .select(
          (abs(col("a_est") - col("na")) / col("na")).as("a_rel_err"),
          (abs(col("b_est") - col("nb")) / col("nb")).as("b_rel_err"),
          (abs(col("union_est") - col("nu")) / col("nu"))
            .as("union_rel_err"),
          abs(col("jaccard") - col("ni") / col("nu").cast("double"))
            .as("jaccard_abs_err"),
          (abs(col("inter_est") - col("ni")) / col("nu"))
            .as("inter_err_vs_union"))
        .agg(round(max(col("a_rel_err")), 6).as("max_a_rel_err"),
          round(max(col("b_rel_err")), 6).as("max_b_rel_err"),
          round(max(col("union_rel_err")), 6).as("max_union_rel_err"),
          round(max(col("jaccard_abs_err")), 6).as("max_jaccard_abs_err"),
          round(max(col("inter_err_vs_union")), 6)
            .as("max_inter_err_vs_union"))
        .withColumn("meets_floor",
          col("max_a_rel_err") <= relBound &&
          col("max_b_rel_err") <= relBound &&
          col("max_union_rel_err") <= relBound &&
          col("max_jaccard_abs_err") <= jBound &&
          col("max_inter_err_vs_union") <= jBound + relBound)
        .where(col("meets_floor"))
    }),

    // embedding-space drift against the frozen IVF index: the batch's
    // vectors are assigned to the index's Voronoi cells (the same narrow
    // argmax every IVF write uses) and the cell histogram is scored
    // against the frozen occupancy sidecar with the same smoothed KL/JS
    // math as the token monitor — the drift a token distribution can't
    // see (embedding model version bump, out-of-domain cluster that is
    // textually unremarkable). Per-batch cost: one narrow batch scan +
    // a join of two <= nlist-row frames. Rows-only (cell space is
    // engine-defined); the _gap twin below enforces discrimination
    "q_emb_drift" -> ((s, d) => {
      val idx = embDriftIndexFor(s, d)
      graft.operators.Divergence.embeddingDivergenceAgainstIndex(
        embs(s, d).filter(pmod(col("vec_id"), lit(5)) === 0),
        "embedding", idx)
    }),

    // the monitor's discrimination contract, machine-enforced (one row
    // or loudly zero): an IN-DISTRIBUTION batch (a disjoint split of the
    // same corpus the index froze) must score materially LOWER than a
    // genuinely shifted one (the same batch under a MEAN SHIFT — +0.5 on
    // one dimension, the canonical "embedding model version changed"
    // signature, which biases every dot product toward centroids strong
    // in that dimension and skews the cell histogram). A monitor that
    // can't separate those two is an alarm that never fires or never
    // stops firing
    "q_emb_drift_gap" -> ((s, d) => {
      val idx = embDriftIndexFor(s, d)
      val batch = embs(s, d).filter(pmod(col("vec_id"), lit(5)) === 0)
      val shifted = batch.withColumn("embedding",
        transform(col("embedding"),
          (x, i) => when(i === 0, x + lit(0.5f)).otherwise(x)))
      val jsIn = graft.operators.Divergence
        .embeddingDivergenceAgainstIndex(batch, "embedding", idx)
        .select(col("js").as("js_in"))
      val jsShift = graft.operators.Divergence
        .embeddingDivergenceAgainstIndex(shifted, "embedding", idx)
        .select(col("js").as("js_shifted"))
      jsIn.crossJoin(jsShift)
        .withColumn("margin",
          round(col("js_shifted") - col("js_in"), 6))
        .withColumn("meets_floor",
          col("js_shifted") >= col("js_in") * 2.0 &&
          col("js_in") <= 0.1)
        .where(col("meets_floor"))
    }),

    // brute-force cosine top-k against the vec_id=0 query vector — the
    // exact baseline every ANN variant is measured against
    "ann_bruteforce" -> ((s, d) => {
      val corpus = embs(s, d).filter(col("vec_id") =!= 0)
      val query = embs(s, d).filter(col("vec_id") === 0)
      Similarity.bruteForceTopK(corpus, "vec_id", "embedding",
          query, "embedding", 10)
        .select(col("vec_id"), round(col("score"), 6).as("score"))
    }),

    // LSH-bucketed ANN (random hyperplanes, multi-table): the 100 TB scale
    // path — probes only matching buckets; rows-only (approximate + hashed).
    // Bucket width must match the similarity regime: this corpus's true
    // top-10 sit at cosine ≈ 0.28–0.37 (no planted near-identicals — the
    // hardest case for sign-LSH, where a hyperplane agrees with only
    // p ≈ 0.6 per bit), so recall needs shallow buckets and many tables:
    // 3 bits × 12 tables. At real scale the same recall target is hit with
    // more bits because bucket population, not bit count, is what prunes;
    // ann_lsh_recall reports the achieved recall@10 every round.
    "ann_lsh" -> ((s, d) => {
      val corpus = embs(s, d).filter(col("vec_id") =!= 0)
      val query = embs(s, d).filter(col("vec_id") === 0)
      Similarity.lshTopK(corpus, "vec_id", "embedding",
          query, "embedding", 10, nBits = 3, tables = 12)
        .select(col("vec_id"), round(col("score"), 6).as("score"))
    }),

    // per-group embedding centroids (mean pooling) — class prototypes /
    // cluster centers, the embedding-pipeline aggregation: (group, dim)-
    // keyed scalar shuffle exactly like IVF's Lloyd step, summarized per
    // group by deterministic scalars (norm + sum, rounded) so the double
    // hash is stable under partial-aggregation order
    "q_emb_centroid" -> ((s, d) =>
      embs(s, d).select(pmod(col("vec_id"), lit(4)).as("grp"),
          posexplode(Vectors.toDouble(col("embedding"))).as(Seq("dim", "x")))
        .groupBy("grp", "dim").agg(avg("x").as("m"))
        .groupBy("grp")
        .agg(count(lit(1)).as("n_dims"),
          round(sqrt(sum(col("m") * col("m"))), 6).as("centroid_norm"),
          round(sum(col("m")), 6).as("centroid_sum"))
        .orderBy("grp")),

    // exact embedding near-dup pairs — the SMALL ORACLE TWIN (full pair
    // space, hash-checked against DuckDB); the scale path is
    // emb_neardup_blocked below, whose recall this exact form measures
    "emb_neardup" -> ((s, d) =>
      Similarity.cosineNearDupPairs(embs(s, d), "vec_id", "embedding", 0.4)
        .select(col("id_a"), col("id_b"), round(col("cosine"), 6).as("cosine"))
        .transform(Queries.presentSorted(_, "id_a", "id_b"))),

    // LSH-blocked near-dup pairs — the 100 TB form: ONE corpus scan,
    // posexploded per-table buckets, one self-equi-join on (table, bucket),
    // never a cross product (plan asserted by SimilaritySpec); rows-only
    // (hash-based blocking)
    "emb_neardup_blocked" -> ((s, d) =>
      Similarity.lshBlockedNearDupPairs(embs(s, d), "vec_id", "embedding",
          threshold = 0.4, nBits = 2, tables = 8)
        .select(col("id_a"), col("id_b"), round(col("cosine"), 6).as("cosine"))
        .transform(Queries.presentSorted(_, "id_a", "id_b"))),

    // recall of the blocked form vs the exact pair set (1 row:
    // found/total/recall) — blocked ⊆ exact by construction, so this is
    // the one number that says what the blocking trade-off costs
    "emb_neardup_recall" -> ((s, d) => {
      val e = embs(s, d)
      recallOf(
        Similarity.cosineNearDupPairs(e, "vec_id", "embedding", 0.4)
          .select("id_a", "id_b"),
        Similarity.lshBlockedNearDupPairs(e, "vec_id", "embedding",
          threshold = 0.4, nBits = 2, tables = 8),
        Seq("id_a", "id_b"), floor = 0.9)
    }),

    // product-quantized ANN — the RAM-compression serving path: 16
    // subspace codes per vector (vs 64 raw floats), ADC table scoring,
    // exact rerank of the top-12k ADC candidates. Knobs follow the corpus:
    // this fixture's true top-10 sit at cosine 0.28–0.37 (no planted
    // near-dups — quantization noise is comparable to the score gaps), so
    // recall 0.9 needs fine subspaces (subDim=4) and a deep rerank pool;
    // clustered real corpora hit the same recall at coarser settings.
    // Rows-only (trained codebooks are engine-specific), recall row below.
    "ann_pq" -> ((s, d) => {
      val corpus = embs(s, d).filter(col("vec_id") =!= 0)
      val query = embs(s, d).filter(col("vec_id") === 0)
      val cb = Pq.train(corpus, "vec_id", "embedding",
        m = 16, k = 16)
      Pq.topK(corpus, "vec_id", "embedding",
          query, "embedding", 10, cb, oversample = 12)
        .select(col("vec_id"), round(col("score"), 6).as("score"))
    }),

    // recall@10 of the PQ+rerank path vs exact brute force
    "ann_pq_recall" -> ((s, d) => {
      val corpus = embs(s, d).filter(col("vec_id") =!= 0)
      val query = embs(s, d).filter(col("vec_id") === 0)
      val cb = Pq.train(corpus, "vec_id", "embedding",
        m = 16, k = 16)
      recallOf(
        Similarity.bruteForceTopK(corpus, "vec_id", "embedding",
          query, "embedding", 10).select("vec_id"),
        Pq.topK(corpus, "vec_id", "embedding",
          query, "embedding", 10, cb, oversample = 12),
        Seq("vec_id"), floor = 0.8)
    }),

    // the composed IVF-PQ serving path: cell-partitioned code table,
    // partition-pruned ADC scan (no raw vectors read), exact rerank —
    // recall@10 vs brute force prices BOTH prunings (cells + quantization)
    "ann_ivfpq_recall" -> ((s, d) => {
      val corpus = embs(s, d).filter(col("vec_id") =!= 0)
      val query = embs(s, d).filter(col("vec_id") === 0)
      val idx = new java.io.File(
        sys.props("java.io.tmpdir"),
        "graft_ivfpq_index_" + d.replaceAll("[^A-Za-z0-9]", "_")).toString
      val ix = CellIndex(idx, Voronoi(nlist = 4, nprobe = 3, kmeansIters = 2),
        Pq.Codec(m = 16, k = 16))
      ix.write(corpus, "vec_id", "embedding")
      recallOf(
        Similarity.bruteForceTopK(corpus, "vec_id", "embedding",
          query, "embedding", 10).select("vec_id"),
        ix.topK(s, "vec_id", "embedding", query, "embedding", 10,
          oversample = 12, rawCorpus = Some(corpus)),
        Seq("vec_id"), floor = 0.7)
    }),

    // SemDeDup: k-means cells block the pairwise cosine, one survivor
    // (min vec_id) per connected near-dup component. Rows-only (centroid
    // assignment is engine-specific); the recall row below prices the
    // same-cell-only trade against the exact global pair set.
    "emb_semdedup" -> ((s, d) =>
      Similarity.semanticDedup(embs(s, d), "vec_id", "embedding",
          threshold = 0.4, nlist = 4, kmeansIters = 2, probes = 2)
        .select("vec_id")
        .transform(Queries.presentSorted(_, "vec_id"))),

    // INCREMENTAL semantic dedup — the SemDeDup move for a continuously
    // built corpus: 80% of the vectors play the IVF-indexed corpus, the
    // other 20% the arriving batch, matched by soft cell assignment with
    // the frozen sidecar centroids + exact cosine verify over ONLY the
    // probed cell directories. Rows-only (centroid assignment is
    // engine-specific); the recall row below prices the cell blocking.
    "emb_semdedup_incremental" -> ((s, d) => {
      val all = embs(s, d)
      val corpus = all.filter(pmod(col("vec_id"), lit(5)) =!= 0)
      val batch = all.filter(pmod(col("vec_id"), lit(5)) === 0)
      val idx = new java.io.File(
        sys.props("java.io.tmpdir"),
        "graft_ivf_semdedup_" + d.replaceAll("[^A-Za-z0-9]", "_")).toString
      // kmeansIters = 0 (seed centroids): this query's CONCRETE pair rows
      // land in the correctness artifact, and Lloyd's avg() merges shuffle
      // partials in nondeterministic order — low-bit centroid drift could
      // flip boundary vectors' cells and change the row set run-to-run.
      // Seeds are pure lowest-id vectors: bit-stable everywhere.
      val ix = CellIndex(idx, Voronoi(nlist = 4, nprobe = 2), Exact)
      ix.write(corpus, "vec_id", "embedding")
      semanticDupAgainst(s, ix, batch, 0.4)
        .select(col("new_id"), col("corpus_id"),
          round(col("cosine"), 6).as("cosine"))
        .transform(Queries.presentSorted(_, "new_id", "corpus_id"))
    }),

    // recall of the index-gated incremental pairs vs the exact
    // batch×corpus ground truth (cell co-residence is the only loss —
    // precision is exact by construction)
    "emb_semdedup_incremental_recall" -> ((s, d) => {
      val all = embs(s, d)
      val corpus = all.filter(pmod(col("vec_id"), lit(5)) =!= 0)
      val batch = all.filter(pmod(col("vec_id"), lit(5)) === 0)
      val idx = new java.io.File(
        sys.props("java.io.tmpdir"),
        "graft_ivf_semdedup_" + d.replaceAll("[^A-Za-z0-9]", "_")).toString
      // kmeansIters = 0: same deterministic index as the rows query above
      val ix = CellIndex(idx, Voronoi(nlist = 4, nprobe = 2), Exact)
      ix.write(corpus, "vec_id", "embedding")
      val truth = batch
        .select(col("vec_id").as("new_id"),
          graft.functions.Vectors.toDouble(col("embedding")).as("bv"))
        .crossJoin(corpus.select(col("vec_id").as("corpus_id"),
          graft.functions.Vectors.toDouble(col("embedding")).as("cv")))
        .where(graft.functions.Vectors.cosine(col("bv"), col("cv")) >= 0.4)
        .select("new_id", "corpus_id")
      // the seed-centroid index is bit-deterministic, so the measured
      // recall (0.76 at sf0.01 — Lloyd refinement would buy ~0.08 at the
      // cost of run-to-run drift in the rows artifact) is exactly
      // reproducible; the floor still leaves slack for fixture changes
      recallOf(truth, semanticDupAgainst(s, ix, batch, 0.4),
        Seq("new_id", "corpus_id"), floor = 0.7)
    }),

    // recall of within-cell semantic pairs vs the exact near-dup pair set
    // (1 row: found/total/recall) — the SemDeDup quality number
    "emb_semdedup_recall" -> ((s, d) => {
      val e = embs(s, d)
      recallOf(
        Similarity.cosineNearDupPairs(e, "vec_id", "embedding", 0.4)
          .select("id_a", "id_b"),
        Similarity.semanticDupPairs(e, "vec_id", "embedding",
          threshold = 0.4, nlist = 4, kmeansIters = 2, probes = 2),
        Seq("id_a", "id_b"), floor = 0.9)
    }),

    // REAL BPE tokenization (trained merges, not the regex estimate):
    // merge table learned from the corpus' word distribution (one word
    // aggregation + bounded driver loop), encode as a narrow broadcast
    // mapPartitions pass. Per-doc token counts next to the cheap
    // subwordCount estimate so the estimate's bias is measurable.
    // Rows-only: BPE is not SQL-expressible; algorithmic properties
    // (round-trip, rank order, determinism) are pinned by BpeSpec.
    "text_bpe" -> ((s, d) => {
      import graft.operators.Bpe
      val model = Bpe.train(docs(s, d), "text", numMerges = 50,
        maxWords = 20000)
      Bpe.encodeDocs(docs(s, d), "doc_id", "text", model).toDF()
        .select(col("doc_id"),
          size(col("bpe_tokens")).as("n_bpe_tokens"),
          round(aggregate(transform(col("bpe_tokens"), t => length(t)),
              lit(0), (a, x) => a + x).cast("double") /
            greatest(size(col("bpe_tokens")), lit(1)), 4)
            .as("avg_token_chars"))
        .join(docs(s, d).select(col("doc_id"),
          graft.functions.TextAnalysis.subwordCount(col("text"))
            .as("n_est_subwords")), "doc_id")
        .transform(Queries.presentSorted(_, "doc_id"))
    }),

    // PII scrub — the standard redaction pass before a training-data
    // release: emails / IPv4s / phone numbers replaced by placeholder
    // tags, with per-kind audit counts. Patterns are written to parse
    // identically in Java regex and RE2, so the whole chain is
    // hash-checked against DuckDB (fixture text carries no PII — the
    // oracle still proves the chain is value-preserving cross-engine;
    // TextAnalysisSpec carries the positive fixtures).
    "text_pii" -> ((s, d) => {
      val counts = TextAnalysis.piiCounts(col("text"))
        .map { case (name, c) => c.as(name) }
      docs(s, d).select(
          col("doc_id") +: TextAnalysis.redactPii(col("text")).as("redacted")
            +: counts: _*)
        .transform(Queries.presentSorted(_, "doc_id"))
    }),

    // Gopher-style repetition signal: fraction of repeated word bigrams /
    // trigrams per document — the boilerplate/spam filter signal. Narrow
    // HOF expression; the DuckDB twin builds the same non-distinct n-gram
    // stream with generate_series.
    "text_repetition" -> ((s, d) =>
      docs(s, d).select(col("doc_id"),
          round(TextAnalysis.repetitionRatio(col("text"), 2), 6).as("rep_bigram"),
          round(TextAnalysis.repetitionRatio(col("text"), 3), 6).as("rep_trigram"))
        .transform(Queries.presentSorted(_, "doc_id"))),

    // deterministic per-stratum sampling — exactly `quota` docs per
    // language, reproducibly: rank by a multiplicative-hash scramble of
    // the id (plain integer arithmetic, so the oracle runs the SAME
    // expression — rand() could never be cross-engine-checked)
    "q_stratified_sample" -> ((s, d) =>
      graft.operators.Sampling.stratifiedTake(docs(s, d), Seq("lang"),
          "doc_id", quota = 20)
        .select("doc_id", "lang")
        .transform(Queries.presentSorted(_, "doc_id"))),

    // DETERMINISTIC Poisson bootstrap: 95% error bars on mean order
    // value from ONE narrow scan — per-(row, replicate) Poisson(1)
    // counts drawn by inverse-CDF over the house hash, replicate means
    // as exact decimal sums, percentile CI over the 64 means. Fully
    // DuckDB-oracled (identical hash, identical CDF literals, identical
    // rounding discipline) — a rand()-seeded bootstrap could never be
    "q_bootstrap_ci" -> ((s, d) =>
      graft.operators.Sampling.poissonBootstrap(
        Tables.load(s, d, "orders"), "o_orderkey", "o_totalprice", 64)),

    // the A/B twin: CI on mean(URGENT) − mean(LOW) — per replicate both
    // cohorts redraw under the same (id, r) counts, the interval
    // excluding 0 IS the significance call, deterministic in any engine
    "q_bootstrap_diff" -> ((s, d) =>
      graft.operators.Sampling.poissonBootstrapDiff(
        Tables.load(s, d, "orders"), "o_orderpriority",
        "1-URGENT", "5-LOW", "o_orderkey", "o_totalprice", 64)),

    // the per-domain twin: one CI per order-priority class from the
    // same single scan — "did domain X's mean move outside its error
    // bars?" is the mixture-monitoring question. Same full oracle
    "q_bootstrap_ci_by_group" -> ((s, d) =>
      graft.operators.Sampling.poissonBootstrapByGroup(
          Tables.load(s, d, "orders"), Seq("o_orderpriority"),
          "o_orderkey", "o_totalprice", 64)
        .transform(Queries.presentSorted(_, "o_orderpriority"))),

    // priority sampling: a fixed-512-row weighted sample of orders
    // (weight = o_totalprice) from which ANY subset spend is estimable
    // via the Horvitz-Thompson weights. Priorities are deterministic
    // (w / scramble-uniform) so SELECTION, threshold and HT weights all
    // carry a FULL DuckDB oracle — a weighted sampler rand() could
    // never cross-engine-check
    "q_priority_sample" -> ((s, d) =>
      graft.operators.Sampling.prioritySample(
          Tables.load(s, d, "orders"), "o_orderkey", "o_totalprice", 512)
        .select(col("o_orderkey"), col("o_totalprice"),
          round(col("ht_weight"), 6).as("ht_weight"))
        .transform(Queries.presentSorted(_, "o_orderkey"))),

    // the per-stratum sampler: a fixed-64-row weighted sample of EVERY
    // order-priority class in one window pass, each class carrying its
    // own threshold — per-domain subset-sum stores. Selection and HT
    // weights fully oracle-checked, as above
    "q_priority_sample_by_class" -> ((s, d) =>
      graft.operators.Sampling.prioritySamplePerStratum(
          Tables.load(s, d, "orders"), Seq("o_orderpriority"),
          "o_orderkey", "o_totalprice", 64)
        .select(col("o_orderkey"), col("o_orderpriority"),
          col("o_totalprice"), round(col("ht_weight"), 6).as("ht_weight"))
        .transform(Queries.presentSorted(_, "o_orderkey"))),

    // the estimator's accuracy, machine-enforced (one row or loudly
    // zero): the HT total-spend estimate within 3.5/sqrt(k-1) relative
    // (variance <= W^2/(k-1), Szegedy STOC'06), and the WORST of the
    // five o_orderpriority subset estimates within sqrt(5) of that
    // (each class holds ~1/5 of the mass)
    "q_priority_sample_gap" -> ((s, d) => {
      val k = 512
      val sample = graft.operators.Sampling.prioritySample(
        Tables.load(s, d, "orders"), "o_orderkey", "o_totalprice", k)
      val est = sample.groupBy("o_orderpriority")
        .agg(sum(col("ht_weight")).as("est"))
      val exact = Tables.load(s, d, "orders").groupBy("o_orderpriority")
        .agg(sum(col("o_totalprice")).as("w"))
      val perClass = exact.join(est, Seq("o_orderpriority"), "left")
        .select((abs(coalesce(col("est"), lit(0.0)) - col("w")) /
          col("w")).as("rel_err"))
        .agg(max(col("rel_err")).as("max_class_rel_err"))
      val total = sample.agg(sum(col("ht_weight")).as("est_total"))
        .crossJoin(Tables.load(s, d, "orders")
          .agg(sum(col("o_totalprice")).as("w_total")))
        .select((abs(col("est_total") - col("w_total")) / col("w_total"))
          .as("total_rel_err"))
      val bound = 3.5 / math.sqrt((k - 1).toDouble)
      total.crossJoin(perClass)
        .select(round(col("total_rel_err"), 6).as("total_rel_err"),
          round(col("max_class_rel_err"), 6).as("max_class_rel_err"))
        .withColumn("meets_floor",
          col("total_rel_err") <= lit(bound) &&
          col("max_class_rel_err") <= lit(bound * math.sqrt(5.0)))
        .where(col("meets_floor"))
    }),

    // deterministic 80/10/10 train/val/test assignment by the same
    // scramble — membership is a pure function of doc_id (no rand()), so
    // the oracle recomputes every row's split and a doc can never migrate
    // between splits across engines, reruns, or cluster layouts
    "q_hash_split" -> ((s, d) =>
      graft.operators.Sampling.hashSplit(docs(s, d), "doc_id",
          Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
        .select("doc_id", "split")
        .transform(Queries.presentSorted(_, "doc_id"))),

    // context-window chunking — overlapping fixed-token windows per doc
    // (64-token chunks, 8-token overlap): per-row arithmetic + one
    // explode, no shuffle; full oracle over chunk text and counts
    "q_chunk_windows" -> ((s, d) =>
      graft.operators.Chunking.chunkByTokens(docs(s, d), "doc_id", "text",
          chunkTokens = 64, overlap = 8)
        .transform(Queries.presentSorted(_, "doc_id", "chunk_idx"))),

    // chunk-granularity BM25 — retrieval the way RAG actually consumes it
    // (top CHUNKS with document provenance, not whole docs): the chunking
    // operator feeds the ranking operator in one plan, avgdl/df computed
    // over the chunk corpus
    "q_chunk_bm25" -> ((s, d) => {
      val chunks = graft.operators.Chunking.chunkByTokens(docs(s, d),
          "doc_id", "text", chunkTokens = 32, overlap = 0)
        .withColumn("chunk_uid", col("doc_id") * 1000 + col("chunk_idx"))
      Keywords.bm25TopK(chunks, "chunk_uid", "chunk_text",
          query = Seq("hash", "join", "vector"), k = 20)
        .join(chunks.select("chunk_uid", "doc_id", "chunk_idx"),
          "chunk_uid")
        .select("chunk_uid", "doc_id", "chunk_idx", "bm25")
        .transform(Queries.presentSorted(_, "chunk_uid"))
    }),

    // boilerplate detection: chunk-level exact dedup — repeated context
    // windows across documents (copy-pasted headers/footers/templates).
    // Composition of chunking + the exact-dedup shuffle; the groupBy key
    // is the chunk fingerprint-sized text itself, carrying only repeated
    // chunks past the HAVING filter
    "q_chunk_boilerplate" -> ((s, d) =>
      graft.operators.Chunking.chunkByTokens(docs(s, d), "doc_id", "text",
          chunkTokens = 64, overlap = 8)
        .groupBy(col("chunk_text"))
        .agg(count(lit(1)).as("n_occurrences"),
          min(col("doc_id")).as("first_doc"),
          countDistinct(col("doc_id")).as("n_docs"))
        .where(col("n_occurrences") > 1)
        .select(col("first_doc"), col("n_occurrences"), col("n_docs"),
          length(col("chunk_text")).cast("long").as("chunk_chars"))
        .transform(Queries.presentSorted(_, "first_doc", "chunk_chars",
          "n_occurrences", "n_docs"))),

    // exact duplicated-SPAN detection (Lee et al. 2022, "Deduplicating
    // Training Data Makes Language Models Better" — the ExactSubstr
    // family): every SLIDING 16-token window that appears more than once
    // corpus-wide, with occurrence/document accounting. Pure composition:
    // chunkByTokens with overlap = chunk−1 IS the sliding window stream,
    // and the boilerplate aggregate does the rest — no new operator
    // needed. Full oracle.
    "dedup_spans" -> ((s, d) =>
      graft.operators.Chunking.chunkByTokens(docs(s, d), "doc_id", "text",
          chunkTokens = 16, overlap = 15)
        .groupBy(col("chunk_text"))
        .agg(count(lit(1)).as("n_occurrences"),
          min(col("doc_id")).as("first_doc"),
          countDistinct(col("doc_id")).as("n_docs"))
        .where(col("n_occurrences") > 1)
        .select(col("first_doc"), col("n_occurrences"), col("n_docs"),
          length(col("chunk_text")).cast("long").as("span_chars"))
        .transform(Queries.presentSorted(_, "first_doc", "span_chars",
          "n_occurrences", "n_docs"))),

    // ExactSubstr REMOVAL — dedup_spans' detection carried through to the
    // corpus REWRITE (Lee et al. 2022): duplicated ≥16-token spans excised
    // from every non-canonical occurrence, canonical docs byte-identical,
    // every input row present in the output. Full oracle over the cleaned
    // text itself.
    "dedup_span_removal" -> ((s, d) =>
      Dedup.removeDuplicatedSpans(docs(s, d), "doc_id", "text", k = 16)
        .transform(Queries.presentSorted(_, "doc_id"))),

    // the 100 TB key variant AS ITS OWN ROW: windows grouped by xxhash64
    // shuffle 8 bytes/window instead of ~16 tokens of text — this is the
    // plan a 100 TB run would use, so it is the variant the bench times
    // (SparkEntry.benchQueries); the textual row above stays the oracle
    // anchor and the _gap twin below pins byte-identity between the two
    "dedup_span_removal_hashed" -> ((s, d) =>
      Dedup.removeDuplicatedSpans(docs(s, d), "doc_id", "text", k = 16,
          keyByHash = true)
        .transform(Queries.presentSorted(_, "doc_id"))),

    // the hashed variant priced at exact-equality: it must rewrite every
    // document byte-identically to the textual-key oracle path — floor
    // 1.0, so a single collision-driven divergence reads as spark_rows: 0
    "dedup_span_removal_hashed_gap" -> ((s, d) =>
      recallOf(
        Dedup.removeDuplicatedSpans(docs(s, d), "doc_id", "text", k = 16)
          .select("doc_id", "text_clean"),
        Dedup.removeDuplicatedSpans(docs(s, d), "doc_id", "text", k = 16,
          keyByHash = true),
        Seq("doc_id", "text_clean"), floor = 1.0)),

    // weighted domain mixing — per-source quotas as an expression over the
    // stratum key (source srcN gets (N % 3 + 1) · 10 docs): the mixture-
    // spec sampler, same window + scramble as q_stratified_sample
    "q_domain_mix" -> ((s, d) =>
      graft.operators.Sampling.takePerStratum(docs(s, d), Seq("source"),
          "doc_id",
          (substring(col("source"), 4, 10).cast("int") % 3 + 1) * 10)
        .select("doc_id", "source")
        .transform(Queries.presentSorted(_, "doc_id"))),

    // nucleus (top-p) curation by MASS: per source, the best-scoring docs
    // covering 80% of the source's character mass — "keep the quality
    // head, drop the tail" with the cut decided by pure integer
    // arithmetic (cum·10 ≤ tot·8), so it is hash-exact cross-engine
    // unlike every float-threshold formulation
    "q_nucleus_head" -> ((s, d) =>
      graft.operators.Sampling.topMassPerStratum(docs(s, d), "source",
          "doc_id", scoreCol = "n_chars", massCol = "n_chars",
          pNum = 8, pDen = 10)
        .select("doc_id", "source", "n_chars")
        .transform(Queries.presentSorted(_, "doc_id"))),

    // temperature-scaled mixing — quotas COMPUTED from the data
    // (∝ count^0.5 of a 200-doc budget): the Pile/LLaMA mixture math with
    // no explicit weight map. Rows-only: the quota arithmetic crosses a
    // floor() boundary over a float total whose summation order is
    // engine-specific — the within-engine result is deterministic
    // (SamplingPackingSpec pins the exact quota math on a hand fixture)
    "q_temperature_mix" -> ((s, d) =>
      graft.operators.Sampling.temperatureTake(docs(s, d), "source",
          "doc_id", alpha = 0.5, budget = 200)
        .select("doc_id", "source")
        .transform(Queries.presentSorted(_, "doc_id"))),

    // the floor-enforced twin for q_temperature_mix (the one rows-only
    // row that had no quality pin): realized per-source mass must equal
    // the temperature-weighted expectation EXACTLY — for every stratum,
    // |realized − min(floor(budget·nᵢ^α / Σn^α), nᵢ)| = 0, with the
    // expectation recomputed through an independent plan (grouped count →
    // pow → scalar total → floor). Any quota the take stage over- or
    // under-delivers (a scramble-rank off-by-one, a dropped null-quota
    // stratum) makes max_dev > 0 and empties the row → spark_rows: 0 in
    // the correctness artifact, the twin family's loud-failure convention
    "q_temperature_mix_gap" -> ((s, d) => {
      val all = docs(s, d)
      val realized = graft.operators.Sampling
        .temperatureTake(all, "source", "doc_id", alpha = 0.5, budget = 200)
        .groupBy("source").agg(count(lit(1)).as("realized"))
      val strata = all.groupBy("source").agg(count(lit(1)).as("n"))
        .withColumn("w", pow(col("n"), 0.5))
      val tot = strata.agg(sum("w").as("wtot"))
      strata.crossJoin(broadcast(tot))
        .select(col("source"),
          least(floor(lit(200.0) * col("w") / col("wtot")).cast("long"),
            col("n")).as("expected"))
        .join(realized, Seq("source"), "left")
        .select(col("expected"),
          coalesce(col("realized"), lit(0L)).as("realized"))
        .agg(count(lit(1)).as("strata"),
          sum("realized").as("realized_total"),
          max(abs(col("realized") - col("expected"))).as("max_dev"))
        .withColumn("meets_floor", col("max_dev") === 0)
        .where(col("meets_floor"))
    }),

    // token-budget sequence packing — the last batch-prep step before an
    // LLM data loader: shard-local window cumsum assigns each doc to the
    // sequence its first token falls in; reported per (shard, sequence)
    "q_token_packing" -> ((s, d) => {
      val t = docs(s, d).select(col("doc_id"),
        pmod(col("doc_id"), lit(8)).as("shard"),
        TextAnalysis.tokenCount(col("text")).as("n_tokens"))
      graft.operators.Packing
        .packByBudget(t, "shard", "doc_id", "n_tokens", budget = 512)
        .groupBy("shard", "seq_id")
        .agg(count(lit(1)).as("n_docs"), sum("n_tokens").as("sum_tokens"))
        .orderBy("shard", "seq_id")
    }),

    // per-document text statistics: token counts, ratios, quality score,
    // rolling-hash fingerprint — one narrow codegen'd pass
    "text_stats" -> ((s, d) =>
      docs(s, d).select(col("doc_id"),
          TextAnalysis.tokenCount(col("text")).as("n_tokens"),
          TextAnalysis.subwordCount(col("text")).as("n_subwords"),
          round(TextAnalysis.punctRatio(col("text")), 6).as("punct_ratio"),
          round(TextAnalysis.alphaRatio(col("text")), 6).as("alpha_ratio"),
          round(TextAnalysis.avgWordLen(col("text")), 6).as("avg_word_len"),
          round(TextAnalysis.stopwordRatio(col("text")), 6).as("stopword_ratio"),
          TextAnalysis.qualityScore(col("text")).as("quality"),
          TextAnalysis.fingerprint(col("text")).as("fingerprint"))
        .transform(Queries.presentSorted(_, "doc_id"))),

    // heuristic language ID (stopword-marker scoring + CJK detection)
    "text_langid" -> ((s, d) =>
      docs(s, d).select(col("doc_id"),
          TextAnalysis.langId(col("text")).as("lang_pred"))
        .transform(Queries.presentSorted(_, "doc_id"))),

    // language-ID confusion matrix vs the fixture's ground-truth lang
    // column — the per-class quality diagnostic for the heuristic
    // classifier (which cells leak where), one groupBy over two narrow
    // expressions. Full oracle.
    "text_langid_confusion" -> ((s, d) =>
      docs(s, d).groupBy(col("lang"),
          TextAnalysis.langId(col("text")).as("lang_pred"))
        .agg(count(lit(1)).as("n"))
        .orderBy("lang", "lang_pred")),

    // multimodal: binary payload → decoded metadata via the stubbed codec
    // (mapPartitions plumbing — schema and batch shape are the real thing)
    "mm_decode_meta" -> ((s, d) => {
      val media = docs(s, d).select(col("doc_id").as("media_id"),
        col("text").cast("binary").as("content"))
      Multimodal.decode(media, new Multimodal.FakeCodec(16))
        .select(col("media_id"), col("meta.nBytes").as("n_bytes"),
          col("meta.width").as("width"), col("meta.height").as("height"))
        .orderBy("media_id")
    }),

    // multimodal: pseudo-frame sampling over the binary payload
    "mm_frame_sample" -> ((s, d) =>
      docs(s, d).select(col("doc_id").as("media_id"),
          size(Multimodal.sampleFrames(col("text").cast("binary"), 64, 2))
            .as("n_frames"))
        .orderBy("media_id")),

    // media → features → similarity, composed end to end: decode the
    // binary payloads into feature vectors (stubbed codec, real plumbing)
    // and run exact ANN over them — the cross-modal retrieval shape.
    // Rows-only (FakeCodec features are engine-local by construction).
    "mm_ann" -> ((s, d) => {
      val media = docs(s, d).select(col("doc_id").as("media_id"),
        col("text").cast("binary").as("content"))
      val decoded = Multimodal.decode(media, new Multimodal.FakeCodec(16))
        .toDF().select(col("media_id"), col("features"))
      Similarity.bruteForceTopK(
          decoded.filter(col("media_id") =!= 0), "media_id", "features",
          decoded.filter(col("media_id") === 0), "features", 10)
        .select(col("media_id"), round(col("score"), 6).as("score"))
    }),

    // C4/Gopher-shaped quality-filter funnel: five narrow gates (length,
    // language, quality score, repetition cap, PII screen) evaluated in
    // one scan pass; the funnel row set is the drop accounting per
    // successive gate. Full oracle — every gate reuses a formula already
    // hash-proven by its own query (text_stats / text_langid /
    // text_repetition / text_pii).
    "corpus_filter_funnel" -> ((s, d) =>
      graft.operators.CorpusFilter.funnel(docs(s, d), corpusGates)
        .orderBy("stage")),

    // the kept set those gates produce (same gates, plain fused filter)
    "corpus_filter_kept" -> ((s, d) =>
      graft.operators.CorpusFilter.keep(docs(s, d), corpusGates)
        .select("doc_id")
        .transform(Queries.presentSorted(_, "doc_id"))),

    // REAL image codec, driver-visible: render one deterministic PNG per
    // doc (ImageIO encode in one mapPartitions pass), decode with the
    // standards ImageIoCodec in another, emit the parsed metadata. The
    // decoded dimensions are pure arithmetic over doc_id, so the oracle
    // checks the full encode → bytes → decode loop cross-engine.
    "mm_imageio_roundtrip" -> ((s, d) => {
      import s.implicits._
      val media = docs(s, d).select(col("doc_id"),
          (lit(2) + pmod(col("doc_id"), lit(7))).cast("int").as("w"),
          (lit(2) + pmod(col("doc_id"), lit(5))).cast("int").as("h"))
        .as[(Long, Int, Int)]
        .mapPartitions(_.map { case (id, w, h) =>
          Multimodal.MediaRecord(id, Multimodal.syntheticPng(id, w, h))
        }).toDF()
      Multimodal.decode(media, new Multimodal.ImageIoCodec(8))
        .select(col("media_id"), col("meta.format").as("format"),
          col("meta.width").as("width"), col("meta.height").as("height"),
          col("meta.nChannels").as("n_channels"))
        .orderBy("media_id")
    }),

    // REAL video-shaped frame extraction, driver-visible: one
    // deterministic animated GIF per doc (frame count arithmetic over
    // doc_id, real ImageIO sequence encode), decoded frame-by-frame with
    // the multi-image reader, every 2nd frame sampled and embedded. The
    // oracle checks the frame accounting of the full encode → GIF89a →
    // multi-image decode loop cross-engine.
    "mm_gif_frames" -> ((s, d) => {
      import s.implicits._
      val media = docs(s, d).select(col("doc_id"),
          (lit(1) + pmod(col("doc_id"), lit(5))).cast("int").as("nf"))
        .as[(Long, Int)]
        .mapPartitions(_.map { case (id, nf) =>
          Multimodal.MediaRecord(id, Multimodal.syntheticGif(id, nf, 4, 3))
        }).toDF()
      Multimodal.decodeFrames(media, stride = 2, featureDim = 8).toDF()
        .groupBy(col("media_id"))
        .agg(first(col("n_frames")).as("n_frames"),
          count(lit(1)).cast("int").as("n_sampled"))
        .orderBy("media_id")
    }),

    // VIDEO near-dup via frame-fingerprint set overlap — the motion
    // member of the near-dup family: real multi-frame GIF decode → one
    // dHash per sampled frame → media blocked on a shared exact frame
    // hash → exact Jaccard over the distinct frame-hash sets. Each even
    // doc carries a 6-frame animation, its odd neighbor the 4-frame
    // prefix RE-CUT (same seed), so the planted pairs sit at ~2/3
    // Jaccard; the synthetic frame space folds into 256 luminance
    // classes, so the blocked join is exercised with genuinely heavy
    // hash buckets. rows-only (perceptual hashing is engine-defined);
    // priced by the equality twin below at floor exact.
    "mm_video_neardup" -> ((s, d) =>
      Multimodal.videoNearDupPairs(videoMedia(s, d, every = 1),
          minJaccard = 0.5)
        .select(col("id_a"), col("id_b"), col("shared"),
          round(col("jaccard"), 9).as("jaccard"))
        .transform(Queries.presentSorted(_, "id_a", "id_b"))),

    // the twin: on a 1-in-29 subset, the blocked join must equal the
    // deliberately-quadratic brute-force pairwise Jaccard over the SAME
    // fingerprints (collect_set + crossJoin — twin-only cost, never the
    // operator's plan), both directions, floor exact
    "mm_video_neardup_gap" -> ((s, d) => {
      val sub = videoMedia(s, d, every = 29)
      val thr = 0.5
      val fs = Multimodal.frameHashes(sub)
        .groupBy("media_id").agg(collect_set(col("fhash")).as("fs"))
      val brute = fs.select(col("media_id").as("id_a"),
          col("fs").as("fa"))
        .crossJoin(fs.select(col("media_id").as("id_b"),
          col("fs").as("fb")))
        .where(col("id_a") < col("id_b"))
        .select(col("id_a"), col("id_b"),
          size(array_intersect(col("fa"), col("fb"))).cast("long")
            .as("shared"),
          (size(array_intersect(col("fa"), col("fb"))).cast("double") /
            size(array_union(col("fa"), col("fb")))).as("jaccard"))
        .where(col("shared") > 0 && col("jaccard") >= thr)
      val op = Multimodal.videoNearDupPairs(sub, minJaccard = thr)
      val t = brute.withColumn("__t", lit(1))
      val i = op.withColumn("__i", lit(1))
      t.join(i, Seq("id_a", "id_b", "shared", "jaccard"), "full_outer")
        .agg(count(lit(1)).as("total"),
          coalesce(sum("__t"), lit(0L)).as("in_brute"),
          coalesce(sum("__i"), lit(0L)).as("in_op"))
        .withColumn("meets_floor",
          col("in_brute") === col("total") &&
          col("in_op") === col("total"))
        .where(col("meets_floor"))
    }),

    // IMAGE near-dup via perceptual hash — the modality the text dedup
    // family never covered: one noise PNG per doc, every odd doc carrying
    // the ×2 nearest-neighbor UPSCALE of its even neighbor's image, so
    // the planted resize pairs sit at Hamming 0 while distinct seeds
    // separate like independent 64-bit fingerprints. Real ImageIO decode
    // → integer-exact dHash → the same blocked 16-bit-block Hamming join
    // SimHash uses (pixels read once, only (id, hash, block) ints
    // shuffle). rows-only (perceptual hashing is engine-defined); priced
    // by the recall twin below at floor 1.0 — resize invariance here is
    // a THEOREM (9 | width, 8 | height), not a tuning outcome.
    // Round 21: the media bytes stage UNTIMED ([[dhashMediaPathFor]]) —
    // the timed body prices decode + dHash + Hamming join over stored
    // bytes, not the fixture's PNG synthesis.
    "mm_dhash_dedup" -> ((s, d) =>
      Multimodal.imageNearDupPairs(readDhashMedia(s, d))
        .transform(Queries.presentSorted(_, "id_a", "id_b"))),

    "mm_dhash_recall" -> ((s, d) => {
      val ids = docs(s, d).select(col("doc_id"))
      val truth = ids.where(pmod(col("doc_id"), lit(2)) === 0)
        .select(col("doc_id").as("id_a"),
          (col("doc_id") + 1).as("id_b"))
        .join(ids.select(col("doc_id").as("id_b")), Seq("id_b"),
          "left_semi")
      recallOf(truth, Multimodal.imageNearDupPairs(readDhashMedia(s, d)),
        Seq("id_a", "id_b"), floor = 1.0)
    }),

    // the same image dedup served from the hash-once fingerprint INDEX:
    // the first run per sf-dir decodes the media and persists
    // (media_id, dhash); every later run — including the bench's 2nd and
    // 3rd passes and every later driver invocation — joins 8-byte
    // fingerprints with ZERO decodes. That is the steady-state shape of
    // multimodal dedup at 100 TB: bytes touched once at ingest
    // (appendMediaHashIndex per batch), maintenance forever after on
    // the 16-byte/row index. rows-only; the _gap twin pins it
    // pair-for-pair to the decode path
    "mm_dhash_dedup_indexed" -> ((s, d) =>
      Multimodal.imageNearDupPairsFromIndex(s, mediaHashIndexFor(s, d))
        .transform(Queries.presentSorted(_, "id_a", "id_b"))),

    // floor 1.0 both ways in one row: every decode-path pair found from
    // the index AND no extra pairs invented (count equality rides in the
    // same meets_floor) — byte-identical hashes must give identical
    // pair sets, so any drift means a stale or corrupt index
    "mm_dhash_indexed_gap" -> ((s, d) => {
      val truth = Multimodal.imageNearDupPairs(dhashMedia(s, d))
        .select("id_a", "id_b")
      val indexed = Multimodal
        .imageNearDupPairsFromIndex(s, mediaHashIndexFor(s, d))
        .select("id_a", "id_b")
      val t = truth.withColumn("__t", lit(1))
      val i = indexed.withColumn("__i", lit(1))
      t.join(i, Seq("id_a", "id_b"), "full_outer")
        .agg(count(lit(1)).as("total"),
          coalesce(sum("__t"), lit(0L)).as("in_truth"),
          coalesce(sum("__i"), lit(0L)).as("in_index"))
        .withColumn("meets_floor",
          col("in_truth") === col("total") &&
          col("in_index") === col("total"))
        .where(col("meets_floor"))
    }),

    // AUDIO near-dup via waveform fingerprint — the audio modality of the
    // same dedup family: noise WAV per even doc, odd docs carrying the ×2
    // time STRETCH of their even neighbor (exact invariance: 65 | 130
    // frames), hashed by loudness-gradient comparisons and joined through
    // the shared blocked Hamming plan. rows-only + recall twin, floor 1.0.
    "mm_ahash_dedup" -> ((s, d) =>
      Multimodal.audioNearDupPairs(ahashMedia(s, d))
        .transform(Queries.presentSorted(_, "id_a", "id_b"))),

    "mm_ahash_recall" -> ((s, d) => {
      val ids = docs(s, d).select(col("doc_id"))
      val truth = ids.where(pmod(col("doc_id"), lit(2)) === 0)
        .select(col("doc_id").as("id_a"),
          (col("doc_id") + 1).as("id_b"))
        .join(ids.select(col("doc_id").as("id_b")), Seq("id_b"),
          "left_semi")
      recallOf(truth, Multimodal.audioNearDupPairs(ahashMedia(s, d)),
        Seq("id_a", "id_b"), floor = 1.0)
    }),

    // the audio dedup served from the hash-once fingerprint index —
    // the waveform twin of mm_dhash_dedup_indexed: PCM decoded once per
    // sf dir, every later run joins 8-byte fingerprints with zero
    // decodes. rows-only; the _gap twin pins it pair-for-pair to the
    // decode path
    "mm_ahash_dedup_indexed" -> ((s, d) =>
      Multimodal.audioNearDupPairsFromIndex(s, audioHashIndexFor(s, d))
        .transform(Queries.presentSorted(_, "id_a", "id_b"))),

    // floor 1.0 both ways in one row, the mm_dhash_indexed_gap
    // discipline: byte-identical hashes must give identical pair sets
    "mm_ahash_indexed_gap" -> ((s, d) => {
      val truth = Multimodal.audioNearDupPairs(ahashMedia(s, d))
        .select("id_a", "id_b")
      val indexed = Multimodal
        .audioNearDupPairsFromIndex(s, audioHashIndexFor(s, d))
        .select("id_a", "id_b")
      val t = truth.withColumn("__t", lit(1))
      val i = indexed.withColumn("__i", lit(1))
      t.join(i, Seq("id_a", "id_b"), "full_outer")
        .agg(count(lit(1)).as("total"),
          coalesce(sum("__t"), lit(0L)).as("in_truth"),
          coalesce(sum("__i"), lit(0L)).as("in_index"))
        .withColumn("meets_floor",
          col("in_truth") === col("total") &&
          col("in_index") === col("total"))
        .where(col("meets_floor"))
    }),

    // REAL audio codec, driver-visible — the WAV twin of
    // mm_imageio_roundtrip: synthesize one deterministic 16-bit PCM WAV
    // per doc (javax.sound encode in one mapPartitions pass), decode with
    // the standards WavCodec in another, emit the parsed header fields.
    // Frames/rate/channels are pure arithmetic over doc_id, so the oracle
    // checks the full encode → RIFF bytes → decode loop cross-engine.
    "mm_wav_roundtrip" -> ((s, d) => {
      import s.implicits._
      val media = docs(s, d).select(col("doc_id"),
          (lit(8) + pmod(col("doc_id"), lit(32))).cast("int").as("nf"),
          (lit(1) + pmod(col("doc_id"), lit(2))).cast("int").as("ch"))
        .as[(Long, Int, Int)]
        .mapPartitions(_.map { case (id, nf, ch) =>
          Multimodal.MediaRecord(id,
            Multimodal.syntheticWav(id, nf, 8000, ch))
        }).toDF()
      Multimodal.decode(media, new Multimodal.WavCodec(8))
        .select(col("media_id"), col("meta.format").as("format"),
          col("meta.width").as("n_frames"),
          col("meta.height").as("sample_rate"),
          col("meta.nChannels").as("n_channels"))
        .orderBy("media_id")
    }),

    // the INCREMENTAL serving path's quality number: IVF-PQ index built on
    // 80% of the corpus, the other 20% appended with the FROZEN sidecar
    // centroids/codebooks (CellIndex.append — the
    // corpus-builder loop's maintenance move), then served as one index.
    // Recall vs brute force over the FULL corpus, same floor as the
    // build-once ann_ivfpq_recall: appending must not cost quality.
    "ann_ivfpq_append_recall" -> ((s, d) => {
      val all = embs(s, d).filter(col("vec_id") =!= 0)
      val query = embs(s, d).filter(col("vec_id") === 0)
      val initial = all.filter(pmod(col("vec_id"), lit(5)) =!= 0)
      val batch = all.filter(pmod(col("vec_id"), lit(5)) === 0)
      val idx = new java.io.File(
        sys.props("java.io.tmpdir"),
        "graft_ivfpq_append_" + d.replaceAll("[^A-Za-z0-9]", "_")).toString
      val ix = CellIndex(idx, Voronoi(nlist = 4, nprobe = 3, kmeansIters = 2),
        Pq.Codec(m = 16, k = 16))
      ix.write(initial, "vec_id", "embedding")
      ix.append(batch, "vec_id", "embedding")
      recallOf(
        Similarity.bruteForceTopK(all, "vec_id", "embedding",
          query, "embedding", 10).select("vec_id"),
        ix.topK(s, "vec_id", "embedding", query, "embedding", 10,
          oversample = 12, rawCorpus = Some(all)),
        Seq("vec_id"), floor = 0.7)
    }),

    // partition-scoped CDC merge, driver-visible: orders partitioned by a
    // key-stable bucket, base written once, the update batch merged via
    // keepLatestPartitioned (only touched partition dirs rewritten — the
    // byte-identity of untouched files is pinned by ScaleOpsSpec), result
    // read back and hash-checked against the DuckDB keep-latest twin.
    "q_merge_partitioned" -> ((s, d) => {
      val o = Tables.load(s, d, "orders")
        .withColumn("pbucket", pmod(col("o_custkey"), lit(4)).cast("int"))
      val dir = new java.io.File(
        sys.props("java.io.tmpdir"),
        "graft_pmerge_" + d.replaceAll("[^A-Za-z0-9]", "_")).toString
      o.filter(pmod(col("o_orderkey"), lit(3)) =!= 0)
        .write.mode("overwrite").partitionBy("pbucket").parquet(dir)
      Merge.keepLatestPartitioned(s, dir,
        o.filter(pmod(col("o_orderkey"), lit(3)) === 0),
        keyCols = Seq("o_custkey"), versionCol = "o_orderkey",
        partitionCol = "pbucket")
      s.read.parquet(dir)
        .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
          col("o_totalprice"), col("o_orderdate"), col("o_orderpriority"),
          col("pbucket"))
        .transform(Queries.presentSorted(_, "o_custkey"))
    }),

    // IVF ANN — Voronoi-cell pruning around k-means-refined centroids
    // (2 Lloyd iterations over the fixture corpus; at scale train on a
    // sample). Rows-only: approximate by design; ann_ivf_recall reports
    // recall@10 and ScalaTest checks planted-neighbor recall.
    "ann_ivf" -> ((s, d) => {
      val corpus = embs(s, d).filter(col("vec_id") =!= 0)
      val query = embs(s, d).filter(col("vec_id") === 0)
      Similarity.ivfTopK(corpus, "vec_id", "embedding",
          query, "embedding", 10, nlist = 16, nprobe = 6, kmeansIters = 2)
        .select(col("vec_id"), round(col("score"), 6).as("score"))
    }),

    // BATCHED ANN serving — the retrieval-workload shape: a query TABLE
    // (every 40th vector) answered through the materialized IVF index in
    // ONE plan (batch soft-assign → union-pruned cell scan → per-query
    // window top-k) instead of one Spark job per query. Rows-only
    // (approximate + engine-trained centroids); the recall twin below pins
    // batched ≡ looped at floor 1.0.
    "ann_ivf_batched" -> ((s, d) => {
      val all = embs(s, d)
      val corpus = all.filter(pmod(col("vec_id"), lit(40)) =!= 0)
      val queries = all.filter(pmod(col("vec_id"), lit(40)) === 0)
      val idx = new java.io.File(
        sys.props("java.io.tmpdir"),
        "graft_ivf_batched_" + d.replaceAll("[^A-Za-z0-9]", "_")).toString
      // seed centroids (kmeansIters=0): concrete rows land in the
      // artifact, and Lloyd's shuffle-order float drift could flip
      // boundary cells run-to-run (same stance as emb_semdedup_incremental)
      val ix = CellIndex(idx, Voronoi(nlist = 8, nprobe = 3), Exact)
      ix.write(corpus, "vec_id", "embedding")
      ix.batchTopK(s, "vec_id", "embedding", queries, "vec_id", "embedding",
          k = 5)
        .select(col("query_id"), col("vec_id"),
          round(col("score"), 6).as("score"))
        .transform(Queries.presentSorted(_, "query_id", "vec_id"))
    }),

    // batched ≡ per-query-loop consistency, MACHINE-ENFORCED at floor 1.0:
    // the truth side literally loops the single-query serve over the same
    // query table (the contract the batched plan replaces), so ANY
    // divergence — cell ranking, tie-breaks, score arithmetic — reads as
    // spark_rows: 0
    "ann_ivf_batched_recall" -> ((s, d) => {
      import s.implicits._
      val all = embs(s, d)
      val corpus = all.filter(pmod(col("vec_id"), lit(40)) =!= 0)
      val queries = all.filter(pmod(col("vec_id"), lit(40)) === 0)
      val idx = new java.io.File(
        sys.props("java.io.tmpdir"),
        "graft_ivf_batched_" + d.replaceAll("[^A-Za-z0-9]", "_")).toString
      val ix = CellIndex(idx, Voronoi(nlist = 8, nprobe = 3), Exact)
      ix.write(corpus, "vec_id", "embedding")
      val qRows = queries.select(col("vec_id"),
          col("embedding").cast("array<float>"))
        .collect()
        .map(r => (r.getLong(0), r.getSeq[Float](1)))
      val truth = qRows.flatMap { case (qid, v) =>
        ix.topK(s, "vec_id", "embedding",
            Seq((qid, v)).toDF("vec_id", "embedding"), "embedding", k = 5)
          .select("vec_id").as[Long].collect()
          .map(id => (qid, id))
      }.toSeq.toDF("query_id", "vec_id")
      recallOf(truth,
        ix.batchTopK(s, "vec_id", "embedding", queries, "vec_id",
          "embedding", k = 5),
        Seq("query_id", "vec_id"), floor = 1.0)
    }),

    // TRUE batched-retrieval recall: the batched IVF serve priced against
    // the batched brute-force anchor (exact per-query top-k over the same
    // query table) — the number a retrieval user actually cares about,
    // complementing the ≡-loop consistency twins. Pooled over all
    // (query, hit) pairs; floor set from measured fixture recall w/ slack.
    "ann_batched_recall" -> ((s, d) => {
      val all = embs(s, d)
      val corpus = all.filter(pmod(col("vec_id"), lit(40)) =!= 0)
      val queries = all.filter(pmod(col("vec_id"), lit(40)) === 0)
      val idx = new java.io.File(
        sys.props("java.io.tmpdir"),
        "graft_ivf_batched_" + d.replaceAll("[^A-Za-z0-9]", "_")).toString
      val ix = CellIndex(idx, Voronoi(nlist = 8, nprobe = 4), Exact)
      ix.write(corpus, "vec_id", "embedding")
      recallOf(
        Similarity.bruteForceBatchTopK(corpus, "vec_id", "embedding",
          queries, "vec_id", "embedding", k = 5)
          .select("query_id", "vec_id"),
        ix.batchTopK(s, "vec_id", "embedding", queries, "vec_id",
          "embedding", k = 5),
        Seq("query_id", "vec_id"), floor = 0.5)
    }),

    // retrieval-eval metrics — nDCG@10 / MRR@10 / precision / recall of
    // the exact dense batch retrieval against label-match relevance
    // judgments, per query: the eval harness the BM25/dense/hybrid family
    // is graded with, itself hash-checked cross-engine (ranking, DCG
    // discounts, ideal ranking and macro components all in the oracle)
    "q_rank_eval" -> ((s, d) => {
      val all = embs(s, d)
      val corpus = all.filter(pmod(col("vec_id"), lit(40)) =!= 0)
      val queries = all.filter(pmod(col("vec_id"), lit(40)) === 0)
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("query_id").orderBy(col("score").desc, col("vec_id"))
      val ranked = Similarity.bruteForceBatchTopK(corpus, "vec_id",
          "embedding", queries, "vec_id", "embedding", k = 10)
        .withColumn("rank", row_number().over(w))
      val rel = queries
        .select(col("vec_id").as("query_id"), col("label").as("__ql"))
        .join(corpus.select(col("vec_id"), col("label")),
          col("__ql") === col("label"))
        .select(col("query_id"), col("vec_id"), lit(1).as("gain"))
      graft.operators.RankEval.metricsAtK(ranked, "query_id", "vec_id",
          "rank", rel, "gain", k = 10)
        .select(col("query_id"), round(col("ndcg"), 6).as("ndcg"),
          round(col("mrr"), 6).as("mrr"),
          round(col("precision"), 6).as("precision"),
          round(col("recall"), 6).as("recall"))
        .transform(Queries.presentSorted(_, "query_id"))
    }),

    // FILTERED exact ANN — "nearest neighbors WHERE label = 2" (the query
    // vector's own label: same-domain retrieval), the exact anchor for the
    // filtered-search family. ORACLE-checked: brute-force cosine over the
    // predicate's survivors hashes against the same WHERE in DuckDB.
    "ann_filtered_exact" -> ((s, d) => {
      val corpus = embs(s, d)
        .filter(col("vec_id") =!= 0 && col("label") === 2)
      val query = embs(s, d).filter(col("vec_id") === 0)
      Similarity.bruteForceTopK(corpus, "vec_id", "embedding",
          query, "embedding", 10)
        .select(col("vec_id"), round(col("score"), 6).as("score"))
    }),

    // FILTERED ANN from the materialized IVF index — the vector-database
    // contract "top-k WHERE <metadata predicate>". `label` rides in the
    // index's cell partitions (attrCols at build time), so the predicate
    // evaluates INSIDE the partition-pruned scan as a parquet pushed
    // filter: no join back to the corpus, no cosine for rejected rows.
    // Rows-only (approximate post-filter within probed cells); the recall
    // twin below prices it against ann_filtered_exact's truth and
    // SimilaritySpec pins the pushdown + wrong-label exclusion.
    "ann_ivf_filtered" -> ((s, d) => {
      val corpus = embs(s, d).filter(col("vec_id") =!= 0)
      val query = embs(s, d).filter(col("vec_id") === 0)
      val idx = new java.io.File(
        sys.props("java.io.tmpdir"),
        "graft_ivf_filtered_" + d.replaceAll("[^A-Za-z0-9]", "_")).toString
      val ix = CellIndex(idx, Voronoi(nlist = 8, nprobe = 4), Exact)
      ix.write(corpus, "vec_id", "embedding", attrCols = Seq("label"))
      ix.topK(s, "vec_id", "embedding", query, "embedding", k = 10,
          filter = Some(col("label") === 2))
        .select(col("vec_id"), round(col("score"), 6).as("score"))
    }),

    // filtered recall@10 vs the exact filtered truth — post-filtering
    // within probed cells means selectivity eats recall (a 10%-selective
    // predicate leaves ~5 matching rows per probed cell), so the floor is
    // the measured fixture point with slack, not the unfiltered family's
    "ann_ivf_filtered_recall" -> ((s, d) => {
      val corpus = embs(s, d).filter(col("vec_id") =!= 0)
      val query = embs(s, d).filter(col("vec_id") === 0)
      val idx = new java.io.File(
        sys.props("java.io.tmpdir"),
        "graft_ivf_filtered_" + d.replaceAll("[^A-Za-z0-9]", "_")).toString
      val ix = CellIndex(idx, Voronoi(nlist = 8, nprobe = 4), Exact)
      ix.write(corpus, "vec_id", "embedding", attrCols = Seq("label"))
      recallOf(
        Similarity.bruteForceTopK(corpus.filter(col("label") === 2),
          "vec_id", "embedding", query, "embedding", 10).select("vec_id"),
        ix.topK(s, "vec_id", "embedding", query, "embedding", k = 10,
          filter = Some(col("label") === 2)),
        Seq("vec_id"), floor = 0.5)
    }),

    // filtered search through the COMPRESSED index: label rides in the
    // IVF-PQ code table, the predicate prunes the ADC candidate scan
    // itself (not just the final cut), and the exact rerank sees only
    // matching candidates. Priced against the exact filtered truth.
    // Selectivity eats CELL coverage here (a 10%-selective predicate's
    // true top-10 reaches ~20% down the label's ranking, spread across
    // more cells): nprobe rises to 6/8 — the raise-nprobe-with-
    // selectivity guidance on the plain IVF serve, measured (4/8 → 0.4,
    // 6/8 → 0.6 fixture recall); oversample 8 already admits every
    // matching row the probed cells hold, so ADC isn't the limiter.
    "ann_ivfpq_filtered_recall" -> ((s, d) => {
      val corpus = embs(s, d).filter(col("vec_id") =!= 0)
      val query = embs(s, d).filter(col("vec_id") === 0)
      val idx = new java.io.File(
        sys.props("java.io.tmpdir"),
        "graft_ivfpq_filt_" + d.replaceAll("[^A-Za-z0-9]", "_")).toString
      val ix = CellIndex(idx, Voronoi(nlist = 8, nprobe = 6, kmeansIters = 2),
        Pq.Codec(m = 16, k = 16))
      ix.write(corpus, "vec_id", "embedding", attrCols = Seq("label"))
      recallOf(
        Similarity.bruteForceTopK(corpus.filter(col("label") === 2),
          "vec_id", "embedding", query, "embedding", 10).select("vec_id"),
        ix.topK(s, "vec_id", "embedding", query, "embedding", k = 10,
          oversample = 8, filter = Some(col("label") === 2),
          rawCorpus = Some(corpus)),
        Seq("vec_id"), floor = 0.5)
    }),

    // int8 scalar-quantized serving (4× compression, asymmetric scoring +
    // exact rerank): top-10 for the vec_id=0 query from the materialized
    // SQ8 index — rows-only (quantized candidate generation), priced by
    // ann_sq8_recall
    "ann_sq8" -> ((s, d) => {
      val corpus = embs(s, d).filter(col("vec_id") =!= 0)
      val idx = new java.io.File(
        sys.props("java.io.tmpdir"),
        "graft_sq8_" + d.replaceAll("[^A-Za-z0-9]", "_")).toString
      val ix = FlatIndex(idx, VectorCodec.Sq8)
      ix.write(corpus, "vec_id", "embedding")
      ix.batchTopK(s, "vec_id", "embedding",
          embs(s, d).filter(col("vec_id") === 0),
          "vec_id", "embedding", k = 10, oversample = 4)
        .select(col("vec_id"), round(col("score"), 6).as("score"))
        .transform(Queries.presentSorted(_, "vec_id"))
    }),

    // SQ8 batched recall vs the exact batch anchor: candidate misses are
    // the only loss (rerank is exact), so 8-bit quantization should sit
    // near-lossless — the floor encodes that expectation
    "ann_sq8_recall" -> ((s, d) => {
      val all = embs(s, d)
      val corpus = all.filter(pmod(col("vec_id"), lit(40)) =!= 0)
      val queries = all.filter(pmod(col("vec_id"), lit(40)) === 0)
      val idx = new java.io.File(
        sys.props("java.io.tmpdir"),
        "graft_sq8_batch_" + d.replaceAll("[^A-Za-z0-9]", "_")).toString
      val ix = FlatIndex(idx, VectorCodec.Sq8)
      ix.write(corpus, "vec_id", "embedding")
      recallOf(
        Similarity.bruteForceBatchTopK(corpus, "vec_id", "embedding",
          queries, "vec_id", "embedding", k = 5)
          .select("query_id", "vec_id"),
        ix.batchTopK(s, "vec_id", "embedding",
          queries, "vec_id", "embedding", k = 5, oversample = 4),
        Seq("query_id", "vec_id"), floor = 0.9)
    }),

    // JL random projection priced as a candidate generator: top-5·16 in
    // the 16-dim projected space (4× narrower scan/shuffle — the knob a
    // 100 TB embedding pipeline turns first), exact full-dim rerank of
    // the survivors, cut to 5 — the SQ8 serving contract with projection
    // as the compression. This fixture is ADVERSARIAL for it (true
    // neighbors sit at cosine ≈ 0.3, exactly where JL distortion at 4×
    // bites hardest — raw projected top-5 recall is 0.12); the
    // oversample+rerank shape is what makes RP usable, and this row
    // prices precisely that composition
    "ann_rp_recall" -> ((s, d) => {
      val all = embs(s, d)
      val dim = all.select(size(col("embedding"))).first().getInt(0)
      val proj = Similarity.randomProject(all, "embedding", dim,
        outDim = dim / 4, seed = 7L, outCol = "emb_rp")
      val corpus = proj.filter(pmod(col("vec_id"), lit(40)) =!= 0)
      val queries = proj.filter(pmod(col("vec_id"), lit(40)) === 0)
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("query_id").orderBy(col("score").desc, col("vec_id"))
      val reranked = Similarity.bruteForceBatchTopK(corpus, "vec_id",
          "emb_rp", queries, "vec_id", "emb_rp", k = 5 * 16)
        .select("query_id", "vec_id")
        .join(corpus.select(col("vec_id"), col("embedding")), "vec_id")
        .join(broadcast(queries.select(col("vec_id").as("query_id"),
          col("embedding").as("__qv"))), "query_id")
        .select(col("query_id"), col("vec_id"),
          Vectors.cosine(col("embedding"), col("__qv")).as("score"))
        .withColumn("__rank", row_number().over(w))
        .where(col("__rank") <= 5)
      recallOf(
        Similarity.bruteForceBatchTopK(corpus, "vec_id", "embedding",
          queries, "vec_id", "embedding", k = 5)
          .select("query_id", "vec_id"),
        reranked.select("query_id", "vec_id"),
        Seq("query_id", "vec_id"), floor = 0.5)
    }),

    // batched BM25 — the lexical batched-serving member: three queries
    // answered in one plan sharing the corpus aggregates, hash-checked
    // per (query, doc, score)
    "q_bm25_batched" -> ((s, d) => {
      import s.implicits._
      val qdf = Seq((1L, Seq("hash", "join")), (2L, Seq("vector", "spark")),
        (3L, Seq("customer"))).toDF("query_id", "terms")
      Keywords.bm25BatchTopK(docs(s, d), "doc_id", "text", qdf,
          "query_id", "terms", k = 10)
        .transform(Queries.presentSorted(_, "query_id", "doc_id"))
    }),

    // MaxSim late interaction: multi-vector documents (label groups of
    // the embeddings table stand in for passage token sets), three query
    // token vectors — each finds its best member per doc independently,
    // per-doc decimal sum of rounded maxes. Fully hash-checked (max has
    // no ordering exposure; the sum rides the decimal pattern)
    "q_maxsim" -> ((s, d) => {
      val all = embs(s, d)
      Similarity.maxSimTopK(
          all.filter(!col("vec_id").isin(0L, 40L, 80L)),
          "label", "embedding",
          all.filter(col("vec_id").isin(0L, 40L, 80L)),
          "vec_id", "embedding", k = 3)
        .transform(Queries.presentSorted(_, "label"))
    }),

    // IVF index health: cell-population stats + imbalance factor — the
    // number an operator watches at 100 TB (imbalance >> 1 = skewed probe
    // latency, retrain wanted). Rows-only: the index geometry is
    // engine-hashed
    "ann_index_stats" -> ((s, d) => {
      val corpus = embs(s, d).filter(col("vec_id") =!= 0)
      val idx = new java.io.File(
        sys.props("java.io.tmpdir"),
        "graft_ivf_stats_" + d.replaceAll("[^A-Za-z0-9]", "_")).toString
      CellIndex(idx, Voronoi(nlist = 8, kmeansIters = 1), Exact)
        .write(corpus, "vec_id", "embedding")
      Similarity.ivfIndexStats(s, idx)
    }),

    // Hybrid retrieval: BM25 (lexical) and brute-force cosine (dense)
    // rankings fused by reciprocal rank — the standard RAG first stage.
    // Both input rankings and the decimal RRF sum are deterministic, so
    // the whole hybrid is hash-checked cross-engine end to end
    "q_hybrid_rrf" -> ((s, d) => {
      val wLex = org.apache.spark.sql.expressions.Window
        .orderBy(col("bm25").desc, col("doc_id"))
      val lex = Keywords.bm25TopK(docs(s, d), "doc_id", "text",
          query = Seq("hash", "join", "vector"), k = 20)
        .withColumn("rank", row_number().over(wLex))
      val wDen = org.apache.spark.sql.expressions.Window
        .orderBy(col("score").desc, col("vec_id"))
      val den = Similarity.bruteForceTopK(
          embs(s, d).filter(col("vec_id") =!= 0),
          "vec_id", "embedding",
          embs(s, d).filter(col("vec_id") === 0), "embedding", 20)
        .withColumn("rank", row_number().over(wDen))
        .withColumnRenamed("vec_id", "doc_id")
      graft.operators.Rank.rrfFuse(Seq(lex, den), "doc_id", k = 15)
        .transform(Queries.presentSorted(_, "doc_id"))
    }),

    // IVF×SQ8 — pruning composed with compression (the FAISS IVFx,SQ8
    // layout): nprobe/nlist of the directories read, code column only,
    // exact rerank from the same pruned partitions; priced against the
    // exact batch anchor like ann_batched_recall (same cells geometry,
    // so the same floor)
    "ann_ivfsq_recall" -> ((s, d) => {
      val all = embs(s, d)
      val corpus = all.filter(pmod(col("vec_id"), lit(40)) =!= 0)
      val queries = all.filter(pmod(col("vec_id"), lit(40)) === 0)
      val idx = new java.io.File(
        sys.props("java.io.tmpdir"),
        "graft_ivfsq_" + d.replaceAll("[^A-Za-z0-9]", "_")).toString
      val ix = CellIndex(idx, Voronoi(nlist = 8, nprobe = 4), VectorCodec.Sq8)
      ix.write(corpus, "vec_id", "embedding")
      recallOf(
        Similarity.bruteForceBatchTopK(corpus, "vec_id", "embedding",
          queries, "vec_id", "embedding", k = 5)
          .select("query_id", "vec_id"),
        ix.batchTopK(s, "vec_id", "embedding",
          queries, "vec_id", "embedding", k = 5),
        Seq("query_id", "vec_id"), floor = 0.5)
    }),

    // 1-bit binary-quantized serving (32× compression — the far end of
    // the tier spectrum next to SQ8's 4× and PQ's 16-32×): Hamming
    // candidate scan over packed sign bits + exact rerank; top-10 for the
    // vec_id=0 query from the materialized BQ index — rows-only
    // (quantized candidate generation), priced by ann_bq_recall
    "ann_bq" -> ((s, d) => {
      val corpus = embs(s, d).filter(col("vec_id") =!= 0)
      val idx = new java.io.File(
        sys.props("java.io.tmpdir"),
        "graft_bq_" + d.replaceAll("[^A-Za-z0-9]", "_")).toString
      val ix = FlatIndex(idx, VectorCodec.Bq)
      ix.write(corpus, "vec_id", "embedding")
      ix.batchTopK(s, "vec_id", "embedding",
          embs(s, d).filter(col("vec_id") === 0),
          "vec_id", "embedding", k = 10, oversample = 16)
        .select(col("vec_id"), round(col("score"), 6).as("score"))
        .transform(Queries.presentSorted(_, "vec_id"))
    }),

    // BQ batched recall vs the exact batch anchor: 1 bit/dim is the
    // lossiest tier, so it leans hardest on the oversample+rerank
    // contract (16 here vs SQ8's 4) — the floor prices exactly that
    // composition, not the raw Hamming ordering
    "ann_bq_recall" -> ((s, d) => {
      val all = embs(s, d)
      val corpus = all.filter(pmod(col("vec_id"), lit(40)) =!= 0)
      val queries = all.filter(pmod(col("vec_id"), lit(40)) === 0)
      val idx = new java.io.File(
        sys.props("java.io.tmpdir"),
        "graft_bq_batch_" + d.replaceAll("[^A-Za-z0-9]", "_")).toString
      val ix = FlatIndex(idx, VectorCodec.Bq)
      ix.write(corpus, "vec_id", "embedding")
      recallOf(
        Similarity.bruteForceBatchTopK(corpus, "vec_id", "embedding",
          queries, "vec_id", "embedding", k = 5)
          .select("query_id", "vec_id"),
        ix.batchTopK(s, "vec_id", "embedding",
          queries, "vec_id", "embedding", k = 5, oversample = 16),
        // measured 0.82 on this fixture — the fixture is ADVERSARIAL for
        // sign-bit codes (true neighbors at cosine ≈ 0.3, the ann_rp
        // regime); floor set a hit-count margin below, not at, the
        // measurement
        Seq("query_id", "vec_id"), floor = 0.7)
    }),

    // IVF×BQ — pruning composed with MAXIMUM compression (nprobe/nlist
    // of the directories read, one packed-long-array column within
    // them, exact rerank from the same pruned partitions); same cells
    // geometry as ann_ivfsq_recall, so the same floor
    "ann_ivfbq_recall" -> ((s, d) => {
      val all = embs(s, d)
      val corpus = all.filter(pmod(col("vec_id"), lit(40)) =!= 0)
      val queries = all.filter(pmod(col("vec_id"), lit(40)) === 0)
      val idx = new java.io.File(
        sys.props("java.io.tmpdir"),
        "graft_ivfbq_" + d.replaceAll("[^A-Za-z0-9]", "_")).toString
      val ix = CellIndex(idx, Voronoi(nlist = 8, nprobe = 4), VectorCodec.Bq)
      ix.write(corpus, "vec_id", "embedding")
      recallOf(
        Similarity.bruteForceBatchTopK(corpus, "vec_id", "embedding",
          queries, "vec_id", "embedding", k = 5)
          .select("query_id", "vec_id"),
        ix.batchTopK(s, "vec_id", "embedding",
          queries, "vec_id", "embedding", k = 5, oversample = 16),
        Seq("query_id", "vec_id"), floor = 0.5)
    }),

    // Hard-negative mining (exact): per query, the top-5 most-similar
    // corpus vectors of a DIFFERENT label — the contrastive-training
    // mining step, oracle-checked end to end (cosine + label predicate +
    // per-query window cut, all SQL-expressible)
    "q_hard_negatives" -> ((s, d) => {
      val all = embs(s, d)
      Similarity.hardNegatives(
          all.filter(pmod(col("vec_id"), lit(40)) =!= 0),
          "vec_id", "embedding", "label",
          all.filter(pmod(col("vec_id"), lit(40)) === 0),
          "vec_id", "embedding", "label", k = 5)
        .select(col("query_id"), col("vec_id"),
          round(col("score"), 6).as("score"))
        .transform(Queries.presentSorted(_, "query_id", "vec_id"))
    }),

    // the approximate mining path priced against the exact one: batched
    // IVF serve with over-fetch, labels joined back onto the (small)
    // result set, same-label rows dropped, re-cut to k — the composition
    // hardNegatives' scaladoc prescribes for corpus scale
    "ann_hardneg_recall" -> ((s, d) => {
      val all = embs(s, d)
      val corpus = all.filter(pmod(col("vec_id"), lit(40)) =!= 0)
      val queries = all.filter(pmod(col("vec_id"), lit(40)) === 0)
      val idx = new java.io.File(
        sys.props("java.io.tmpdir"),
        "graft_ivf_hardneg_" + d.replaceAll("[^A-Za-z0-9]", "_")).toString
      val ix = CellIndex(idx, Voronoi(nlist = 8, nprobe = 4), Exact)
      ix.write(corpus, "vec_id", "embedding")
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("query_id").orderBy(col("score").desc, col("vec_id"))
      val approx = ix.batchTopK(s, "vec_id", "embedding", queries, "vec_id",
          "embedding", k = 30)
        .join(corpus.select(col("vec_id"), col("label")), "vec_id")
        .join(broadcast(queries.select(col("vec_id").as("query_id"),
          col("label").as("__qlabel"))), "query_id")
        .where(col("label") =!= col("__qlabel"))
        .withColumn("__rank", row_number().over(w))
        .where(col("__rank") <= 5)
      recallOf(
        Similarity.hardNegatives(corpus, "vec_id", "embedding", "label",
            queries, "vec_id", "embedding", "label", k = 5)
          .select("query_id", "vec_id"),
        approx.select("query_id", "vec_id"),
        Seq("query_id", "vec_id"), floor = 0.5)
    }),

    // batched LSH ≡ per-query loop, floor 1.0 — the [[ann_ivf_batched_recall]]
    // consistency pin for the (table, bucket)-partitioned index family
    "ann_lsh_batched_recall" -> ((s, d) => {
      import s.implicits._
      val all = embs(s, d)
      val corpus = all.filter(pmod(col("vec_id"), lit(40)) =!= 0)
      val queries = all.filter(pmod(col("vec_id"), lit(40)) === 0)
      val idx = new java.io.File(
        sys.props("java.io.tmpdir"),
        "graft_lsh_batched_" + d.replaceAll("[^A-Za-z0-9]", "_")).toString
      val ix = CellIndex(idx, Hyperplane(nBits = 3, tables = 12), Exact)
      ix.write(corpus, "vec_id", "embedding")
      val qRows = queries.select(col("vec_id"),
          col("embedding").cast("array<float>"))
        .collect()
        .map(r => (r.getLong(0), r.getSeq[Float](1)))
      val truth = qRows.flatMap { case (qid, v) =>
        ix.topK(s, "vec_id", "embedding",
            Seq((qid, v)).toDF("vec_id", "embedding"), "embedding", 5)
          .select("vec_id").as[Long].collect()
          .map(id => (qid, id))
      }.toSeq.toDF("query_id", "vec_id")
      recallOf(truth,
        ix.batchTopK(s, "vec_id", "embedding", queries, "vec_id",
          "embedding", k = 5),
        Seq("query_id", "vec_id"), floor = 1.0)
    }),

    // the IVF-PQ batched twin: per-query in-plan ADC tables (broadcast
    // join column, not driver state) + pruned-cell ADC + exact rerank,
    // pinned to the per-query loop at floor 1.0 like ann_ivf_batched
    // batched flat-PQ ≡ the per-query loop at floor 1.0 — the last member
    // of the batched serving family (in-plan per-query ADC tables through
    // the broadcast join, no driver-held table)
    "ann_pq_batched_recall" -> ((s, d) => {
      import s.implicits._
      val all = embs(s, d)
      val corpus = all.filter(pmod(col("vec_id"), lit(40)) =!= 0)
      val queries = all.filter(pmod(col("vec_id"), lit(40)) === 0)
      val idx = new java.io.File(
        sys.props("java.io.tmpdir"),
        "graft_pq_batched_" + d.replaceAll("[^A-Za-z0-9]", "_")).toString
      val ix = FlatIndex(idx, Pq.Codec(m = 16, k = 16))
      ix.write(corpus, "vec_id", "embedding")
      val qRows = queries.select(col("vec_id"),
          col("embedding").cast("array<float>"))
        .collect()
        .map(r => (r.getLong(0), r.getSeq[Float](1)))
      val truth = qRows.flatMap { case (qid, v) =>
        ix.topK(s, "vec_id", "embedding",
            Seq((qid, v)).toDF("vec_id", "embedding"), "embedding", k = 5,
            oversample = 8, rawCorpus = Some(corpus))
          .select("vec_id").as[Long].collect()
          .map(id => (qid, id))
      }.toSeq.toDF("query_id", "vec_id")
      recallOf(truth,
        ix.batchTopK(s, "vec_id", "embedding", queries, "vec_id",
          "embedding", k = 5, oversample = 8, rawCorpus = Some(corpus)),
        Seq("query_id", "vec_id"), floor = 1.0)
    }),

    "ann_ivfpq_batched_recall" -> ((s, d) => {
      import s.implicits._
      val all = embs(s, d)
      val corpus = all.filter(pmod(col("vec_id"), lit(40)) =!= 0)
      val queries = all.filter(pmod(col("vec_id"), lit(40)) === 0)
      val idx = new java.io.File(
        sys.props("java.io.tmpdir"),
        "graft_ivfpq_batched_" + d.replaceAll("[^A-Za-z0-9]", "_")).toString
      val ix = CellIndex(idx, Voronoi(nlist = 8, nprobe = 3),
        Pq.Codec(m = 16, k = 16))
      ix.write(corpus, "vec_id", "embedding")
      val qRows = queries.select(col("vec_id"),
          col("embedding").cast("array<float>"))
        .collect()
        .map(r => (r.getLong(0), r.getSeq[Float](1)))
      val truth = qRows.flatMap { case (qid, v) =>
        ix.topK(s, "vec_id", "embedding",
            Seq((qid, v)).toDF("vec_id", "embedding"), "embedding", k = 5,
            oversample = 8, rawCorpus = Some(corpus))
          .select("vec_id").as[Long].collect()
          .map(id => (qid, id))
      }.toSeq.toDF("query_id", "vec_id")
      recallOf(truth,
        ix.batchTopK(s, "vec_id", "embedding", queries, "vec_id",
          "embedding", k = 5, oversample = 8, rawCorpus = Some(corpus)),
        Seq("query_id", "vec_id"), floor = 1.0)
    }),

    // corpus cleaning, GREEDY survivor policy — drop the id_b side of
    // every verified near-dup pair. Flipped r19 to the ORACLE-CHECKED
    // ngram-Jaccard pair set (dedup_components' — same blocks, same
    // threshold), so the flagship clean composition is hash-checked end
    // to end in DuckDB; the MinHash candidate path keeps its own rows
    // (dedup_minhash[_recall], dedup_clean_transitive_mh, the _gap twin)
    "dedup_clean_corpus" -> ((s, d) =>
      Dedup.dropNearDuplicatesFromPairs(docs(s, d), "doc_id",
          Dedup.ngramJaccardPairs(docs(s, d), "doc_id", "text",
            Seq(col("lang"), floor(col("n_chars") / 64)), n = 3,
            threshold = 0.5))
        .select("doc_id")
        .transform(Queries.presentSorted(_, "doc_id"))),

    // connected components over the ORACLE-CHECKED near-dup pair set
    // (dedup_ngram_jaccard's): pairwise hits → duplicate CLUSTERS, the step
    // greedy pair-dropping gets wrong on star/chain-shaped clusters. Hash-
    // checked end to end: the DuckDB twin closes the same edge set with a
    // recursive CTE, so both the pair generation AND the min-label
    // propagation are cross-engine-verified.
    "dedup_components" -> ((s, d) => {
      val pairs = Dedup.ngramJaccardPairs(docs(s, d), "doc_id", "text",
        Seq(col("lang"), floor(col("n_chars") / 64)), n = 3, threshold = 0.5)
      Components.connectedComponents(pairs, "id_a", "id_b")
        .transform(Queries.presentSorted(_, "id"))
    }),

    // the INCREMENTAL closure: the same pair set arrives as 3 ingest
    // batches, each folded into a persisted label store (star edges ∪
    // new pairs — O(batch) work per day, convergence bounded by the
    // batch's path length, never the historical graph's diameter), in
    // the PARTITIONED layout (component-hash partitions, each update
    // rewriting only touched partitions — the 100 TB shape). The final
    // store must equal the one-shot closure EXACTLY, so it hashes
    // against the same recursive-CTE oracle as dedup_components
    "dedup_components_incremental" -> ((s, d) => {
      val path = new java.io.File(
        sys.props("java.io.tmpdir"),
        "graft_label_store_" + d.replaceAll("[^A-Za-z0-9]", "_"))
      graft.sources.Compaction.rm(path)
      // one pair computation, sliced into 3 deterministic arrival batches
      // (the eager form materializes the O(duplicates)-small pair set so
      // the three updates don't re-run the quadratic verify)
      val pairs = Dedup.ngramJaccardPairs(docs(s, d), "doc_id", "text",
          Seq(col("lang"), floor(col("n_chars") / 64)), n = 3,
          threshold = 0.5)
        .localCheckpoint(true)
      try {
        (0 until 3).foreach { b =>
          Components.updateLabelStore(s, path.toString,
            pairs.where(pmod(col("id_b"), lit(3)) === b), "id_a", "id_b",
            partitions = 16)
        }
        Components.readLabelStore(s, path.toString)
          .transform(Queries.presentSorted(_, "id"))
      } finally org.apache.spark.sql.GraftBridge.unpersistCheckpoint(pairs)
    }),

    // (fixture for the two rows below: the 3-batch incremental
    // PARTITIONED label store over the oracle-checked ngram pair set,
    // built once per sf dir — see provStoreFor)
    // provenance POINT lookup against the partitioned label store: the
    // same 3-batch incremental build as dedup_components_incremental,
    // then two lookupMembers probes (the smallest and largest labeled
    // ids) served by bloom-route + two pruned partition reads — never a
    // full-store scan (the pruning is plan-asserted in DedupSpec). The
    // route-then-confirm lookup is EXACT, so the row carries a full
    // DuckDB twin: the same recursive-CTE closure probed at the same
    // two ids
    "dedup_provenance_lookup" -> ((s, d) => {
      val store = provStoreFor(s, d)
      import s.implicits._
      val bounds = Components.readLabelStore(s, store)
        .agg(min("id"), max("id")).collect().head
      if (bounds.isNullAt(0))
        Seq.empty[(Long, Long, Long)].toDF("probe", "id", "component")
      else {
        val probes = Seq(bounds.getLong(0), bounds.getLong(1)).distinct
        probes.map { p =>
          Components.lookupMembers(s, store, p)
            .withColumn("probe", lit(p))
        }.reduce(_ unionByName _)
          .select(col("probe"), col("id"), col("component"))
          .orderBy("probe", "id")
      }
    }),

    // corpus-wide dedup ATTRIBUTION off the same store: every document
    // mapped to its canonical survivor (component for labeled ids, the
    // id itself for never-duplicated docs) — the join the training
    // manifest builder runs to de-reference drops. One equi-join of the
    // corpus slice against the dup-minority-sized store; fully
    // hash-checked against the closure CTE left-joined to documents
    "dedup_attribution" -> ((s, d) => {
      val store = provStoreFor(s, d)
      Components.attachCanonical(docs(s, d), "doc_id", store)
        .select(col("doc_id"), col("canonical_id"))
        .orderBy("doc_id")
    }),

    // transitive corpus cleaning — ONE survivor (min doc_id) per
    // connected component of the near-dup graph, vs dedup_clean_corpus's
    // greedy drop-right-side (which over-keeps on star-shaped clusters
    // whose pair list misses some transitive edges). Flipped r19 to the
    // oracle-checked ngram pair set (recursive-CTE closure twin), so
    // pair generation AND closure AND survivor policy hash-check
    "dedup_clean_transitive" -> ((s, d) => {
      val pairs = Dedup.ngramJaccardPairs(docs(s, d), "doc_id", "text",
        Seq(col("lang"), floor(col("n_chars") / 64)), n = 3,
        threshold = 0.5)
      Components.keepComponentMinima(docs(s, d), "doc_id",
          pairs, "id_a", "id_b")
        .select("doc_id")
        .transform(Queries.presentSorted(_, "doc_id"))
    }),

    // the MinHash composition of the same clean (the production pair
    // source; engine-hashed signatures → rows-only, recall-priced via
    // dedup_minhash_recall and floor-priced via the _gap twin). This is
    // the BENCH row: MinHash-LSH pairs → components → anti-join is the
    // scale composition the r7 bench entry has always timed — the
    // oracle-checked row above now carries the correctness duty, this
    // one carries the timing duty, same plan as the pre-r19
    // dedup_clean_transitive
    "dedup_clean_transitive_mh" -> ((s, d) => {
      val pairs = Dedup.minhashLsh(docs(s, d), "doc_id", "text",
        threshold = 0.8, persistIntermediates = false)
      Components.keepComponentMinima(docs(s, d), "doc_id",
          pairs, "id_a", "id_b")
        .select("doc_id")
        .transform(Queries.presentSorted(_, "doc_id"))
    }),

    // transitive clean with the QUALITY survivor: same components as
    // dedup_clean_transitive (row count must match it exactly — same
    // cluster structure, different representative), keeping the longest
    // member per cluster (doc_id tie-break). Oracle-checked like the
    // row above (window rank twin in DuckDB)
    "dedup_clean_best" -> ((s, d) => {
      val pairs = Dedup.ngramJaccardPairs(docs(s, d), "doc_id", "text",
        Seq(col("lang"), floor(col("n_chars") / 64)), n = 3,
        threshold = 0.5)
      Components.keepComponentBest(docs(s, d), "doc_id",
          pairs, "id_a", "id_b", qualityCol = "n_chars")
        .select("doc_id")
        .transform(Queries.presentSorted(_, "doc_id"))
    }),

    // the greedy-vs-transitive gap, driver-visible (1 row): how many extra
    // rows component-wise cleaning removes over pair-greedy cleaning on
    // this corpus. greedy_kept ≥ transitive_kept always (transitive
    // removal is a superset on every component).
    "dedup_clean_transitive_gap" -> ((s, d) => {
      val all = docs(s, d)
      // ONE pair computation, shared by both strategies: the eager form
      // (persistIntermediates=true) returns the O(duplicates)-small pair
      // set materialized via localCheckpoint, so the greedy anti-join and
      // the component closure both read it without re-running LSH — the
      // previous two-minhashLsh formulation made this the slowest query
      // in the verify suite (21 s → ~8 s at sf0.01)
      val pairs = Dedup.minhashLsh(all, "doc_id", "text", threshold = 0.8,
        persistIntermediates = true)
      val greedy = all
        .join(pairs.select(col("id_b").as("doc_id")).distinct(),
          Seq("doc_id"), "left_anti")
        .agg(count(lit(1)).as("greedy_kept"))
      val transitive = Components.keepComponentMinima(all, "doc_id",
          pairs, "id_a", "id_b")
        .agg(count(lit(1)).as("transitive_kept"))
      greedy.crossJoin(transitive)
        .select(col("greedy_kept"), col("transitive_kept"),
          (col("greedy_kept") - col("transitive_kept")).as("extra_removed"))
        // floor: transitive removal is a SUPERSET of greedy on every
        // component, so extra_removed < 0 means the closure broke — and
        // (like recallOf) a violation empties the row so it reads as
        // spark_rows: 0 in the correctness artifact
        .withColumn("meets_floor", col("extra_removed") >= 0)
        .where(col("meets_floor"))
    }),

    // TF-IDF top-k keywords per document — corpus statistics (tf, df, N)
    // joined back per (doc, token), ranked by the 6-decimal-rounded score
    // so the ranking is reproducible cross-engine
    "q_tfidf_topk" -> ((s, d) =>
      Keywords.tfIdfTopK(docs(s, d), "doc_id", "text", k = 3)
        .transform(Queries.presentSorted(_, "doc_id", "token"))),

    // BM25 keyword retrieval over the corpus — the lexical half of a RAG /
    // hard-negative-mining stack (the dense half is the ANN family). Top-20
    // docs for a 3-term query; deterministic cut via the decimal term-sum +
    // doc_id tie-break inside bm25TopK
    "q_bm25_topk" -> ((s, d) =>
      Keywords.bm25TopK(docs(s, d), "doc_id", "text",
          query = Seq("hash", "join", "vector"), k = 20)
        .transform(Queries.presentSorted(_, "doc_id"))),

    // CDC keep-latest upsert — base/updates split of `orders` on
    // o_orderkey mod 3, keyed by customer, versioned by o_orderkey
    // (globally unique, so the window order is total before the content-
    // hash tie-break even enters)
    "q_merge_upsert" -> ((s, d) => {
      val o = Tables.load(s, d, "orders")
      Merge.keepLatest(
          base = o.filter(pmod(col("o_orderkey"), lit(3)) =!= 0),
          updates = o.filter(pmod(col("o_orderkey"), lit(3)) === 0),
          keyCols = Seq("o_custkey"), versionCol = "o_orderkey")
        .transform(Queries.presentSorted(_, "o_custkey"))
    }),

    // benchmark-contamination scan: which docs share a verbatim word 8-gram
    // with the benchmark set (doc_id % 97 == 0 plays the eval suite, and
    // stays in the corpus — the planted positives are its members at
    // contamination 1.0 plus their near-dup satellites). Benchmark grams
    // broadcast, corpus text never shuffles. Full oracle.
    "text_contamination" -> ((s, d) => {
      val all = docs(s, d)
      Contamination.ngramOverlap(all,
          all.filter(pmod(col("doc_id"), lit(97)) === 0),
          "doc_id", "text", n = 8)
        .transform(Queries.presentSorted(_, "doc_id"))
    }),

    // statistical LM quality scoring — per-doc perplexity under an add-one
    // smoothed bigram model trained on the corpus itself (CCNet-style
    // self-perplexity; a curated train corpus slots into the same plan).
    // Tokenization, counts and smoothing are pure arithmetic, so the
    // whole model — training included — is hash-checked against DuckDB.
    "text_perplexity" -> ((s, d) => {
      val all = docs(s, d)
      graft.operators.Lm.bigramPerplexity(all, all, "doc_id", "text")
        .transform(Queries.presentSorted(_, "doc_id"))
    }),

    // DSIR importance weights (Xie et al. 2023): every document's
    // log-likelihood-ratio mass between the target distribution (src1's
    // 25 docs) and the raw distribution (the whole corpus), over exact
    // bigram features — training of BOTH feature models and the scoring
    // sum all hash-checked against DuckDB
    "dsir_weights" -> ((s, d) => {
      val all = docs(s, d)
      graft.operators.Dsir.importanceWeights(all,
          all.filter(col("source") === "src1"), "doc_id", "text")
        .select(col("doc_id"), col("n_feats"), round(col("logw"), 6).as("logw"))
        .transform(Queries.presentSorted(_, "doc_id"))
    }),

    // the paper's hashed-feature variant priced against exact selection:
    // overlap of the hashed-bucket top-50 with the exact top-50 (4096
    // buckets pool ~9k distinct bigrams ⇒ some collision noise; the floor
    // is the measured fixture point with slack). Machine-enforced.
    "dsir_hashed_gap" -> ((s, d) => {
      val all = docs(s, d)
      val target = all.filter(col("source") === "src1")
      recallOf(
        graft.operators.Dsir.selectTop(all, target, "doc_id", "text", 50)
          .select("doc_id"),
        graft.operators.Dsir.selectTop(all, target, "doc_id", "text", 50,
          buckets = 4096),
        Seq("doc_id"), floor = 0.8)
    }),

    // n-gram novelty vs a reference corpus (even docs as reference, odd
    // docs scored): the data-selection dual of decontamination — unseen
    // 8-gram fraction per doc; reference grams equi-joined, not broadcast
    "text_novelty" -> ((s, d) => {
      val all = docs(s, d)
      Contamination.ngramNovelty(
          all.filter(pmod(col("doc_id"), lit(2)) === 1),
          all.filter(pmod(col("doc_id"), lit(2)) === 0),
          "doc_id", "text", n = 8)
        .transform(Queries.presentSorted(_, "doc_id"))
    }),

    // DEFLATE compression ratio per doc — the low-entropy quality signal
    // (RefinedWeb/MassiveText recipe): boilerplate and keyword-stuffed
    // spam compress far better than prose. Native codegen'd expression,
    // thread-local Deflater; rows-only (no DEFLATE in the oracle engine),
    // priced by the separation twin below.
    "text_compression" -> ((s, d) =>
      docs(s, d).select(col("doc_id"),
          round(graft.functions.Compression.compressionRatio(col("text")), 4)
            .as("deflate_ratio"))
        .transform(Queries.presentSorted(_, "doc_id"))),

    // separation twin: every doc scored twice — as-is vs DEGRADED to pure
    // repetition (its first 8 words tiled to ~original length). The gate
    // is useful only if the degraded copies compress detectably better;
    // floor: mean natural-vs-repetitive ratio gap >= 0.15, machine-
    // enforced in the artifact row count like every other quality twin.
    "text_compression_gap" -> ((s, d) => {
      val ratio = graft.functions.Compression.compressionRatio _
      val head8 = array_join(
        slice(split(trim(col("text")), "\\s+"), 1, 8), " ")
      val reps = greatest(lit(1),
        (length(col("text")) / greatest(length(head8), lit(1))).cast("int"))
      docs(s, d).where(length(trim(col("text"))) > 0)
        .select(ratio(col("text")).as("nat"),
          ratio(concat_ws(" ",
            array_repeat(head8, reps))).as("rep"))
        .agg(round(avg("nat"), 4).as("mean_natural"),
          round(avg("rep"), 4).as("mean_repetitive"))
        .select(col("mean_natural"), col("mean_repetitive"),
          round(col("mean_natural") - col("mean_repetitive"), 4).as("gap"))
        .withColumn("meets_floor", col("gap") >= 0.15)
        .where(col("meets_floor"))
    }),

    // interpolated trigram self-perplexity (Jelinek–Mercer λ 0.6/0.3/0.1)
    // — the next rung up the CCNet ladder; all five count joins + the
    // fixed-association interpolation hash cross-engine
    "text_perplexity_trigram" -> ((s, d) => {
      val all = docs(s, d)
      graft.operators.Lm.trigramPerplexity(all, all, "doc_id", "text")
        .transform(Queries.presentSorted(_, "doc_id"))
    }),

    // the FROZEN-LM path the corpus loop gates with: model trained on the
    // even-doc_id half, materialized as an index sidecar (count tables on
    // parquet), odd docs scored against the frozen sidecar — so the whole
    // write→read→score roundtrip is hash-proven cross-engine, unseen
    // bigrams hitting the smoothing floor included
    "text_perplexity_frozen" -> ((s, d) => {
      val all = docs(s, d)
      val idx = new java.io.File(
        sys.props("java.io.tmpdir"),
        "graft_lm_index_" + d.replaceAll("[^A-Za-z0-9]", "_")).toString
      graft.operators.Lm.writeLmIndex(
        all.filter(pmod(col("doc_id"), lit(2)) === 0), "text", idx)
      graft.operators.Lm.perplexityAgainstIndex(
          all.filter(pmod(col("doc_id"), lit(2)) === 1),
          "doc_id", "text", idx)
        .transform(Queries.presentSorted(_, "doc_id"))
    }),

    // fuzzy (edit-distance) lookup join — entity resolution over part
    // names: a small probe set matched against the catalog at Levenshtein
    // ≤ 1 via exact-complete length blocking (exploded probe lengths,
    // broadcast equi-join — never a nested loop over the corpus)
    "q_fuzzy_join" -> ((s, d) => {
      val t = Tables.load(s, d, "part")
        .select(col("p_partkey").cast("long").as("id"),
          col("p_name").as("name"))
      graft.operators.Joins.fuzzyJoin(
          t.filter(pmod(col("id"), lit(97)) === 0), t,
          probeText = "name", corpusText = "name", maxDistance = 1)
        .where(col("probe_id") =!= col("id"))
        .select(col("probe_id"), col("id").as("match_id"),
          col("name").as("match_name"), col("distance"))
        .transform(Queries.presentSorted(_, "probe_id", "match_id"))
    }),

    // corpus-scale fuzzy SELF-join — all customer-name pairs within edit
    // distance 1, via PassJoin-style segment blocking (one plain shuffle
    // equi-join, no broadcast side — the shape that survives both sides
    // being 100 TB). The blocking is exact-complete (pigeonhole argument
    // in the scaladoc), so the full oracle twin is the naive quadratic
    // with the same verify predicate.
    "q_fuzzy_selfjoin" -> ((s, d) =>
      graft.operators.Joins.fuzzySelfJoin(
          Tables.load(s, d, "customer")
            .select(col("c_custkey").cast("long").as("id"),
              col("c_name").as("name")),
          "id", "name", maxDistance = 1)
        .transform(Queries.presentSorted(_, "id_a", "id_b"))),

    // corpus normalization pass: NFC (native codegen expression — Spark has
    // no normalization built-in) → lower → whitespace collapse → trim; the
    // NFC no-op on this already-composed fixture is exactly the quick-check
    // fast path real web text takes, and the unit spec pins the decomposed-
    // input behavior. Full oracle via DuckDB nfc_normalize.
    "text_normalize" -> ((s, d) =>
      docs(s, d).select(col("doc_id"),
          graft.functions.TextNormalize.normalized(col("text"))
            .as("norm_text"))
        .withColumn("n_norm_chars", length(col("norm_text")).cast("long"))
        .transform(Queries.presentSorted(_, "doc_id"))),

    // MinHash+LSH recall against the EXACT all-pairs shingle-Jaccard ground
    // truth (1 row: found/total/recall). The truth side prunes with the
    // length bound J≥t ⇒ |sh_a|/|sh_b| ∈ [t, 1/t] before computing Jaccard
    // — an exact-complete filter, not an approximation.
    "dedup_minhash_recall" -> ((s, d) => {
      import graft.functions.HashedShingles.hashedShingles
      val t = 0.5
      val sh = docs(s, d).select(col("doc_id"),
        hashedShingles(col("text"), 5).as("sh"))
      val a = sh.select(col("doc_id").as("id_a"), col("sh").as("sh_a"))
      val b = sh.select(col("doc_id").as("id_b"), col("sh").as("sh_b"))
      val truth = a.crossJoin(b)
        .where(col("id_a") < col("id_b"))
        .where(size(col("sh_b")) * t <= size(col("sh_a")) &&
          size(col("sh_a")) * t <= size(col("sh_b")))
        .where(graft.functions.LongArrayJaccard
          .jaccardLong(col("sh_a"), col("sh_b")) >= t)
        .select("id_a", "id_b")
      recallOf(truth,
        Dedup.minhashLsh(docs(s, d), "doc_id", "text", threshold = t,
          persistIntermediates = false),
        Seq("id_a", "id_b"), floor = 0.8)
    }),

    // SimHash pigeonhole-blocking recall vs exact all-pairs Hamming ≤ 3 —
    // the 16-bit-block pigeonhole GUARANTEES recall 1.0 for hamming ≤ 3,
    // so this row doubles as a structural self-check
    "dedup_simhash_recall" -> ((s, d) => {
      val sims = docs(s, d).select(col("doc_id"),
        Dedup.simhash(col("text")).as("sim"))
      val a = sims.select(col("doc_id").as("id_a"), col("sim").as("sim_a"))
      val b = sims.select(col("doc_id").as("id_b"), col("sim").as("sim_b"))
      val truth = a.crossJoin(b)
        .where(col("id_a") < col("id_b"))
        .where(bit_count(col("sim_a").bitwiseXOR(col("sim_b"))) <= 3)
        .select("id_a", "id_b")
      // floor 1.0: the 16-bit-block pigeonhole GUARANTEES full recall at
      // hamming ≤ 3 — anything below is a structural bug, not a trade-off
      recallOf(truth,
        Dedup.simhashPairs(docs(s, d), "doc_id", "text", maxHamming = 3),
        Seq("id_a", "id_b"), floor = 1.0)
    }),

    // floor 1.0 at radius 10: the multi-index pigeonhole (some block
    // within ⌊10/4⌋ = 2 of its counterpart, covered by the 137-mask
    // ball) is exactly as much a guarantee as the exact-block split —
    // the wide tier must lose NOTHING against brute force
    "dedup_simhash_wide_recall" -> ((s, d) => {
      val sims = docs(s, d).select(col("doc_id"),
        Dedup.simhash(col("text")).as("sim"))
      val a = sims.select(col("doc_id").as("id_a"), col("sim").as("sim_a"))
      val b = sims.select(col("doc_id").as("id_b"), col("sim").as("sim_b"))
      val truth = a.crossJoin(b)
        .where(col("id_a") < col("id_b"))
        .where(bit_count(col("sim_a").bitwiseXOR(col("sim_b"))) <= 10)
        .select("id_a", "id_b")
      recallOf(truth,
        Dedup.simhashPairs(docs(s, d), "doc_id", "text", maxHamming = 10),
        Seq("id_a", "id_b"), floor = 1.0)
    }),

    // the SERVE-FROM-INDEX LSH path: build the (table, bucket)-partitioned
    // index once per run, then answer the query through parquet partition
    // pruning (PartitionFilters asserted in SimilaritySpec); recall row so
    // the index path's quality is driver-visible like every other
    // approximate operator. Same 3-bit × 12-table regime as ann_lsh.
    "ann_lsh_index_recall" -> ((s, d) => {
      val corpus = embs(s, d).filter(col("vec_id") =!= 0)
      val query = embs(s, d).filter(col("vec_id") === 0)
      val idx = new java.io.File(
        sys.props("java.io.tmpdir"),
        "graft_lsh_index_" + d.replaceAll("[^A-Za-z0-9]", "_")).toString
      val ix = CellIndex(idx, Hyperplane(nBits = 3, tables = 12), Exact)
      ix.write(corpus, "vec_id", "embedding")
      recallOf(
        Similarity.bruteForceTopK(corpus, "vec_id", "embedding",
          query, "embedding", 10).select("vec_id"),
        ix.topK(s, "vec_id", "embedding", query, "embedding", 10)
          .select("vec_id"),
        Seq("vec_id"), floor = 0.7)
    }),

    // multiprobe recall: HALF the tables (6 vs ann_lsh's 12) plus
    // hamming-1 bucket probing. The scale story this row quantifies:
    // probes are per-query cost (1+nBits partitions read per table),
    // tables are per-corpus cost (another full replica in the index) —
    // multiprobe buys table-level recall without table-level storage.
    "ann_lsh_multiprobe_recall" -> ((s, d) => {
      val corpus = embs(s, d).filter(col("vec_id") =!= 0)
      val query = embs(s, d).filter(col("vec_id") === 0)
      recallOf(
        Similarity.bruteForceTopK(corpus, "vec_id", "embedding",
          query, "embedding", 10).select("vec_id"),
        Similarity.lshTopK(corpus, "vec_id", "embedding",
          query, "embedding", 10, nBits = 3, tables = 6, hammingProbe = 1)
          .select("vec_id"),
        Seq("vec_id"), floor = 0.8)
    }),

    // ANN top-k recall vs the exact brute-force top-k (1 row each)
    "ann_lsh_recall" -> ((s, d) => {
      val corpus = embs(s, d).filter(col("vec_id") =!= 0)
      val query = embs(s, d).filter(col("vec_id") === 0)
      recallOf(
        Similarity.bruteForceTopK(corpus, "vec_id", "embedding",
          query, "embedding", 10).select("vec_id"),
        Similarity.lshTopK(corpus, "vec_id", "embedding",
          query, "embedding", 10, nBits = 3, tables = 12).select("vec_id"),
        Seq("vec_id"), floor = 0.7)
    }),
    "ann_ivf_recall" -> ((s, d) => {
      val corpus = embs(s, d).filter(col("vec_id") =!= 0)
      val query = embs(s, d).filter(col("vec_id") === 0)
      recallOf(
        Similarity.bruteForceTopK(corpus, "vec_id", "embedding",
          query, "embedding", 10).select("vec_id"),
        Similarity.ivfTopK(corpus, "vec_id", "embedding",
          query, "embedding", 10, nlist = 16, nprobe = 6, kmeansIters = 2)
          .select("vec_id"),
        Seq("vec_id"), floor = 0.6)
    }),

    // custom-state sessionization (flatMapGroupsWithState) — batch mode of
    // the streaming stateful operator; must equal the SQL sessionization,
    // so it shares q_sessionize's oracle
    "q_stateful_sessions" -> ((s, d) => {
      import graft.streaming.StatefulSessions
      implicit val enc =
        org.apache.spark.sql.Encoders.product[StatefulSessions.Event]
      val events = Tables.load(s, d, "events")
        .select(col("user_id"), col("event_id"), col("ts"), col("value"))
        .as(enc)
      StatefulSessions.sessionize(events, gapSeconds = 1800, emitOpen = true)
        .toDF()
        .transform(Queries.presentSorted(_, "user_id", "session_id"))
    }),

    // corpus-distribution divergence between the en slice and the rest —
    // KL both ways + Jensen-Shannon over add-one-smoothed unigram
    // distributions, decimal-summed so the value hash-matches DuckDB
    "q_token_divergence" -> ((s, d) =>
      graft.operators.Divergence.tokenDivergence(
        docs(s, d).where(col("lang") === "en"),
        docs(s, d).where(col("lang") =!= "en"), "text")),

    // the tokens driving that gap: top-20 by |smoothed log-ratio|
    "q_token_shift" -> ((s, d) =>
      graft.operators.Divergence.topShiftedTokens(
        docs(s, d).where(col("lang") === "en"),
        docs(s, d).where(col("lang") =!= "en"), "text", k = 20)
        .transform(Queries.presentSorted(_, "token"))),

    // exact ROC AUC / PR curve as oracle-checkable EVAL operators: the
    // score is a deterministic column (n_chars, integer — exercises the
    // midrank tie path), the label the lang tag; all arithmetic is exact
    // longs until the final division
    "q_auc" -> ((s, d) =>
      graft.operators.Classifier.auc(
        docs(s, d).select(col("n_chars").as("score"),
          when(col("lang") === "en", 1).otherwise(0).as("y")),
        "score", "y")),

    "q_pr_curve" -> ((s, d) =>
      graft.operators.Classifier.prCurve(
        docs(s, d).select(col("n_chars").as("score"),
          when(col("lang") === "en", 1).otherwise(0).as("y")),
        "score", "y")
        .transform(Queries.presentSorted(_, "threshold"))),

    // distill the corpus gate funnel into a trained LR quality classifier
    // (the CCNet/FineWeb-Edu pattern: heuristic labels → one cheap linear
    // scorer). Model-based → rows-only; the *_auc twin prices the trained
    // model under a floor, machine-enforced in its row count.
    "q_lr_distill" -> ((s, d) =>
      lrDistillScores(s, d)
        .select(col("doc_id"), round(col("p"), 4).as("p"), col("y"))
        .transform(Queries.presentSorted(_, "doc_id"))),

    "q_lr_distill_auc" -> ((s, d) =>
      graft.operators.Classifier.auc(lrDistillScores(s, d), "p", "y")
        .withColumn("meets_floor", col("auc") >= 0.85)
        .where(col("meets_floor"))),

    // PCA priced under the ann_rp_recall candidate-generator contract
    // (project 64→16, top-k in the projected space, exact full-dim
    // rerank, cut to 5) at the same 0.9 floor. One honest difference:
    // this fixture's planted neighbors sit at cosine ≈ 0.3 in the LOW-
    // variance directions — the one regime variance-ranked projection is
    // systematically blind to (it keeps the axes the neighbors DON'T use)
    // — so PCA needs oversample 24 where oblivious JL gets away with 16
    // (measured: 0.89 at 16, 0.95 at 24). On corpora whose similarity
    // lives in the high-variance subspace (the common real-embedding
    // case; this synthetic one is the adversary) the roles flip.
    "ann_pca_recall" -> ((s, d) => {
      val all = embs(s, d)
      val m = graft.operators.Pca.fit(all, "embedding", k = 16)
      val proj = graft.operators.Pca.project(all, "embedding", m, "emb_pca")
      val corpus = proj.filter(pmod(col("vec_id"), lit(40)) =!= 0)
      val queries = proj.filter(pmod(col("vec_id"), lit(40)) === 0)
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("query_id").orderBy(col("score").desc, col("vec_id"))
      val reranked = Similarity.bruteForceBatchTopK(corpus, "vec_id",
          "emb_pca", queries, "vec_id", "emb_pca", k = 5 * 24)
        .select("query_id", "vec_id")
        .join(corpus.select(col("vec_id"), col("embedding")), "vec_id")
        .join(broadcast(queries.select(col("vec_id").as("query_id"),
          col("embedding").as("__qv"))), "query_id")
        .select(col("query_id"), col("vec_id"),
          graft.functions.Vectors.cosine(col("embedding"), col("__qv"))
            .as("score"))
        .withColumn("__rank", row_number().over(w))
        .where(col("__rank") <= 5)
      recallOf(
        Similarity.bruteForceBatchTopK(corpus, "vec_id", "embedding",
          queries, "vec_id", "embedding", k = 5)
          .select("query_id", "vec_id"),
        reranked.select("query_id", "vec_id"),
        Seq("query_id", "vec_id"), floor = 0.9)
    }),

    // the variance side of that trade: how much of the corpus's total
    // variance the 16 kept components retain (an isotropic corpus floors
    // at 16/64 = 0.25; structure can only raise it)
    "pca_variance" -> ((s, d) => {
      val m = graft.operators.Pca.fit(embs(s, d), "embedding", k = 16)
      import s.implicits._
      Seq((16, math.rint(m.explained * 1e6) / 1e6)).toDF("k", "explained")
        .withColumn("meets_floor", col("explained") >= 0.25)
        .where(col("meets_floor"))
    }),

    // dataset versioning: the content-addressed manifest (md5 — the one
    // hash every engine computes identically, so the whole family stays
    // value-oracled) and the diff between two deterministic snapshots of
    // the documents table (drop %7 ids → old, drop %5 ids + mutate %11
    // texts → new: all four statuses exercised)
    "q_manifest" -> ((s, d) =>
      graft.operators.Versioning.manifest(docs(s, d), "doc_id", "text")
        .transform(Queries.presentSorted(_, "doc_id"))),

    "q_manifest_diff" -> ((s, d) =>
      graft.operators.Versioning.diff(
          manifestOld(s, d), manifestNew(s, d), "doc_id")
        .transform(Queries.presentSorted(_, "doc_id"))),

    "q_manifest_diff_summary" -> ((s, d) =>
      graft.operators.Versioning.diffSummary(
          manifestOld(s, d), manifestNew(s, d), "doc_id")
        .transform(Queries.presentSorted(_, "status"))),

    // ---- round 16: index-backed retrieval, record linkage, history ----

    // BM25 served from the persisted inverted index (built as 3
    // incremental appends): reads only the query terms' tp partitions
    // plus the O(#appends)-row stats sidecar — never the corpus — and
    // must still hash-match q_bm25_topk's oracle VERBATIM (same
    // tokenizer, same score tree, same rounding and tie-break)
    "q_bm25_indexed" -> ((s, d) =>
      graft.sources.TextIndex.bm25TopK(s, textIndexFor(s, d), "doc_id",
          query = Seq("hash", "join", "vector"), k = 20)
        .transform(Queries.presentSorted(_, "doc_id"))),

    // index health from the sidecars (no corpus scan): doc/token mass
    // and postings/vocabulary counts — full oracle, DuckDB recomputes
    // the same facts from the raw documents
    "q_text_index_stats" -> ((s, d) =>
      graft.sources.TextIndex.stats(s, textIndexFor(s, d))
        .select(col("n_docs"), col("sum_len"),
          round(col("avgdl"), 6).as("avgdl"),
          col("n_postings"), col("n_terms"))),

    // conjunctive retrieval from the same index: top-k among docs
    // containing EVERY query term (the high-precision mode) — one
    // HAVING over the per-doc group on top of the pruned serve
    "q_bm25_indexed_and" -> ((s, d) =>
      graft.sources.TextIndex.bm25TopKAll(s, textIndexFor(s, d), "doc_id",
          query = Seq("hash", "join", "vector"), k = 20)
        .transform(Queries.presentSorted(_, "doc_id"))),

    // the batched serve from the same index — q_bm25_batched's query
    // table answered from pruned postings, same oracle verbatim
    "q_bm25_indexed_batched" -> ((s, d) => {
      import s.implicits._
      val qdf = Seq((1L, Seq("hash", "join")), (2L, Seq("vector", "spark")),
        (3L, Seq("customer"))).toDF("query_id", "terms")
      graft.sources.TextIndex.bm25BatchTopK(s, textIndexFor(s, d),
          "doc_id", qdf, "query_id", "terms", k = 10)
        .transform(Queries.presentSorted(_, "query_id", "doc_id"))
    }),

    // exact-phrase retrieval from the POSITIONAL index (round 17): docs
    // containing "hash join" consecutively, BM25-ranked over the phrase
    // terms with the occurrence count alongside — served from the two
    // terms' tp partitions, adjacency decided by position-array
    // arithmetic, never a text re-scan. Full oracle: DuckDB re-derives
    // positions with generate_subscripts and joins pos+1
    "q_bm25_phrase" -> ((s, d) =>
      graft.sources.TextIndex.phraseTopK(s, textIndexFor(s, d), "doc_id",
          phrase = Seq("hash", "join"), k = 20)
        .select(col("doc_id"), col("bm25"), col("n_occurrences"))
        .transform(Queries.presentSorted(_, "doc_id"))),

    // SNIPPET extraction for the BM25 top-20: the index serves the cut,
    // only the 20 winners join back to the corpus for text, and each
    // returns its densest 8-token query-term window (earliest on ties).
    // Full oracle: DuckDB recomputes the argmax over hit-anchored
    // windows and slices the same token stream
    "q_snippets" -> ((s, d) =>
      graft.sources.TextIndex.snippetTopK(s, textIndexFor(s, d),
          docs(s, d), "doc_id", "text",
          query = Seq("hash", "join", "vector"), window = 8, k = 20)
        .transform(Queries.presentSorted(_, "doc_id"))),

    // PROXIMITY retrieval (NEAR operator) from the positional index:
    // docs where "hash" and "vector" co-occur within a 3-token window,
    // any order, BM25-ranked — the middle ground between the
    // conjunctive face and the exact phrase. Full oracle: DuckDB
    // re-derives positions and checks the leftmost-anchor window with
    // two EXISTS clauses, BM25 arithmetic verbatim
    "q_proximity" -> ((s, d) =>
      graft.sources.TextIndex.proximityTopK(s, textIndexFor(s, d),
          "doc_id", terms = Seq("hash", "vector"), window = 3, k = 20)
        .transform(Queries.presentSorted(_, "doc_id"))),

    // position-aware decontamination served from the positional index:
    // docs NOT containing any benchmark phrase exactly — |phrases|
    // pruned tp= reads decide membership (never a corpus text re-scan;
    // the n-gram Contamination operator is the ingest-time scan form).
    // One phrase repeats a term ("table table") to pin the shifted-
    // intersection algebra under the oracle too. Full oracle: DuckDB
    // NOT IN over the pos+1 adjacency join
    "q_phrase_decontam" -> ((s, d) => {
      val members = graft.sources.TextIndex.phraseMembers(s,
        textIndexFor(s, d), "doc_id",
        Seq(Seq("hash", "join"), Seq("table", "table")))
      docs(s, d).select("doc_id")
        .join(members, Seq("doc_id"), "left_anti")
        .transform(Queries.presentSorted(_, "doc_id"))
    }),

    // ---- round 17: takedown / retraction ----

    // the text index's health stats AFTER retraction: the compensating
    // NEGATIVE (n_docs, sum_len) row must land the additive sidecar
    // exactly on the surviving corpus's facts — DuckDB recomputes them
    // from the surviving documents directly
    "q_takedown_stats" -> ((s, d) =>
      graft.sources.TextIndex.stats(s, takedownFor(s, d).text)
        .select(col("n_docs"), col("sum_len"),
          round(col("avgdl"), 6).as("avgdl"),
          col("n_postings"), col("n_terms"))),

    // BM25 served from the text index AFTER doc_id % 83 == 0 was
    // retracted ([[takedownFor]]): the pruned-partition excision + the
    // compensating negative stats row must leave the serve bit-identical
    // to an index that never held those docs — the oracle is the scan
    // path's own BM25 SQL over the SURVIVING documents (CTE-shadowed
    // view), scores included (df/N/avgdl all shift with the retraction)
    "q_takedown" -> ((s, d) =>
      graft.sources.TextIndex.bm25TopK(s, takedownFor(s, d).text,
          "doc_id", query = Seq("hash", "join", "vector"), k = 20)
        .transform(Queries.presentSorted(_, "doc_id"))),

    // the surviving corpus itself after the anti-join rewrite
    "q_takedown_corpus" -> ((s, d) =>
      s.read.parquet(takedownFor(s, d).corpus)
        .select(col("doc_id"), col("lang"), col("n_chars"))
        .transform(Queries.presentSorted(_, "doc_id"))),

    // machine-enforced takedown contract across every serving artifact:
    // no retracted id comes back from the BM25 serve, the ANN serve
    // (probed with a retracted doc's own embedding — its nearest
    // neighbor would be itself if the code row survived), or the
    // MinHash gate's corpus side; AND the gates re-admit a re-submitted
    // copy (bloom gate routes it suspect, the keys table confirms it
    // gone → novel; the MinHash gate holds no signature). A takedown
    // that bans instead of forgets, or forgets partially, zeroes this
    // row out.
    "q_takedown_serves" -> ((s, d) => {
      import s.implicits._
      val fx = takedownFor(s, d)
      val gone = docs(s, d).where(pmod(col("doc_id"), lit(83)) === 0)
      val goneIds = gone.select("doc_id")
      val nGone = gone.count()
      val bmHits = graft.sources.TextIndex.bm25TopK(s, fx.text, "doc_id",
          Seq("hash", "join", "vector"), k = 1000)
        .join(goneIds, Seq("doc_id"), "left_semi").count()
      val annHits = CellIndex(fx.ann, Voronoi(nprobe = 8), Exact)
        .topK(s, "vec_id", "embedding",
          Tables.load(s, d, "embeddings").where(col("vec_id") === 83L),
          "embedding", k = 500)
        .join(goneIds.select(col("doc_id").as("vec_id")), Seq("vec_id"),
          "left_semi").count()
      // the index side of the gate: no batch may ever match AGAINST a
      // retracted corpus doc (matching a surviving twin is fine)
      val mhHits = graft.operators.Dedup.dedupAgainstIndex(docs(s, d),
          "doc_id", "text", fx.minhash, threshold = 0.8)
        .join(goneIds.select(col("doc_id").as("corpus_id")),
          Seq("corpus_id"), "left_semi").count()
      val readmitted = graft.sources.BloomKeyIndex.novelRows(gone, fx.bloom)
        .count()
      Seq((bmHits, annHits, mhHits, readmitted, nGone))
        .toDF("bm25_hits", "ann_hits", "minhash_hits", "bloom_readmitted",
          "n_retracted")
        .withColumn("meets_floor",
          col("bm25_hits") === 0 && col("ann_hits") === 0 &&
            col("minhash_hits") === 0 &&
            col("bloom_readmitted") === col("n_retracted") &&
            col("n_retracted") > 0)
        .where(col("meets_floor"))
    }),

    // ---- round 18: lazy takedown, satellite re-closure, forward
    //      store, takedown throughput, incremental local PPR ----

    // LAZY takedown floor: after tombstoneDocs — O(ids) overlay writes,
    // NO physical rewrite anywhere — every serving face already
    // excludes the ids, machine-enforced: BM25, ANN and the MinHash
    // gate answer without them WHILE the postings and corpus still
    // physically hold every retracted row (the not-rewritten clauses
    // are the proof of laziness; a serve that still leaks the ids, or
    // an overlay that physically rewrote after all, zeroes the row)
    "q_takedown_lazy" -> ((s, d) => {
      import s.implicits._
      val fx = tombstoneFor(s, d)
      val gone = docs(s, d).where(pmod(col("doc_id"), lit(83)) === 0)
      val goneIds = gone.select("doc_id")
      val nGone = gone.count()
      val bmHits = graft.sources.TextIndex.bm25TopK(s, fx.text, "doc_id",
          Seq("hash", "join", "vector"), k = 1000)
        .join(goneIds, Seq("doc_id"), "left_semi").count()
      val annHits = CellIndex(fx.ann, Voronoi(nprobe = 8), Exact)
        .topK(s, "vec_id", "embedding",
          Tables.load(s, d, "embeddings").where(col("vec_id") === 83L),
          "embedding", k = 500)
        .join(goneIds.select(col("doc_id").as("vec_id")), Seq("vec_id"),
          "left_semi").count()
      val mhHits = graft.operators.Dedup.dedupAgainstIndex(docs(s, d),
          "doc_id", "text", fx.minhash, threshold = 0.8)
        .join(goneIds.select(col("doc_id").as("corpus_id")),
          Seq("corpus_id"), "left_semi").count()
      val postingsLeft = s.read
        .parquet(s"${fx.text.indexPath}/postings")
        .join(goneIds, Seq("doc_id"), "left_semi")
        .select(countDistinct(col("doc_id"))).as[Long].collect().head
      val corpusLeft = s.read.parquet(fx.corpus)
        .join(goneIds, Seq("doc_id"), "left_semi").count()
      Seq((bmHits, annHits, mhHits, postingsLeft, corpusLeft, nGone))
        .toDF("bm25_hits", "ann_hits", "minhash_hits",
          "postings_docs_still_present", "corpus_rows_still_present",
          "n_tombstoned")
        .withColumn("meets_floor",
          col("bm25_hits") === 0 && col("ann_hits") === 0 &&
            col("minhash_hits") === 0 &&
            col("postings_docs_still_present") === col("n_tombstoned") &&
            col("corpus_rows_still_present") === col("n_tombstoned") &&
            col("n_tombstoned") > 0)
        .where(col("meets_floor"))
    }),

    // SATELLITE RE-CLOSURE floor: retracting a duplicate cluster's
    // CANONICAL re-derives the survivors' mutual pairs from the stored
    // MinHash signatures and re-closes the label store — provenance
    // queries for the survivors keep answering (co-labeled under the
    // new minimum) instead of falling back to orphan singletons
    "q_takedown_reclosure" -> ((s, d) => {
      import s.implicits._
      val fx = reclosureFor(s, d)
      val m = graft.operators.Components.lookupComponents(s,
          fx.labels, Seq(fx.satA, fx.satB))
        .as[(Long, Long)].collect().toMap
      Seq((fx.satA, fx.satB, m(fx.satA), m(fx.satB)))
        .toDF("sat_a", "sat_b", "comp_a", "comp_b")
        .withColumn("meets_floor",
          col("comp_a") === col("comp_b") &&
            col("comp_a") === least(col("sat_a"), col("sat_b")))
        .where(col("meets_floor"))
    }),

    // q_snippets over the KEY-BUCKETED forward store: identical output
    // (same oracle verbatim) but the text fetch prunes to the k
    // winners' kb= buckets instead of scanning the corpus's (id, text)
    // projection — the 100 TB point-fetch layout
    "q_snippets_stored" -> ((s, d) =>
      graft.sources.TextIndex.snippetTopKStored(s, textIndexFor(s, d),
          forwardStoreFor(s, d), "doc_id", "text",
          query = Seq("hash", "join", "vector"), window = 8, k = 20)
        .transform(Queries.presentSorted(_, "doc_id"))),

    // direct point fetch from the forward store — full oracle: the
    // bucket-pruned read returns exactly the requested rows
    "q_forward_fetch" -> ((s, d) =>
      graft.sources.Bucketing.readKeys(s, forwardStoreFor(s, d),
          "doc_id", Seq(1L, 83L, 250L, 499L))
        .select(col("doc_id"), col("text"))
        .transform(Queries.presentSorted(_, "doc_id"))),

    // TAKEDOWN THROUGHPUT: the physical excision verb as a timed row —
    // a pristine artifact set (corpus + positional text index + MinHash
    // index + exact-key gate), buildOnce-gated, is COPIED to a scratch
    // dir and retractDocs excises doc_id % 97 == 0 across every
    // artifact. The copy is staged OUTSIDE the timed region when the
    // harness supports it (the bench runs `prepares` before the clock;
    // the row self-stages only if no pristine copy is waiting), so the
    // measured wall time is the pruned leaf rewrites ALONE — a pruning
    // regression (an accidental full-index rewrite) shows up here as
    // time with the constant copy cost no longer drowning the signal.
    // Full oracle on the Report scalars.
    "q_takedown_apply" -> ((s, d) => {
      import s.implicits._
      val work = takedownWork(s, d, takedownApplyPrefix)
      val r = graft.operators.Retraction.retractDocs(s,
        docs(s, d).where(pmod(col("doc_id"), lit(97)) === 0)
          .select("doc_id"),
        "doc_id", takedownApplyArtifacts(work))
      Seq((r.requested, r.found)).toDF("requested", "found")
    }),

    // TAKEDOWN SLA: the LAZY verb as a timed row next to
    // q_takedown_apply's physical pass — tombstoneDocs over the same
    // pristine artifact copy is O(ids) overlay writes, and its wall
    // time IS the takedown SLA (invisibility latency); the physical
    // row above prices the deferred excision. Same untimed staging as
    // q_takedown_apply. Full oracle on the Report scalars.
    "q_takedown_tombstone" -> ((s, d) => {
      import s.implicits._
      val work = takedownWork(s, d, takedownTombstonePrefix)
      val r = graft.operators.Retraction.tombstoneDocs(s,
        docs(s, d).where(pmod(col("doc_id"), lit(97)) === 0)
          .select("doc_id"),
        "doc_id", takedownApplyArtifacts(work))
      Seq((r.requested, r.found)).toDF("requested", "found")
    }),

    // TAKEDOWN EXPORT floor: during the lazy window a TRAINING-DATA
    // EXPORT must not ship tombstoned docs — the corpus itself carries
    // an overlay and readCorpusServed is its serving face — while the
    // RAW corpus scan (the physical pass's view) still shows every row,
    // proving nothing was rewritten. The reference contrast: a Postgres
    // DELETE is invisible to full scans too; this row pins that the
    // lazy path matches it on the one surface where "serving face" and
    // "corpus scan" coincide.
    "q_takedown_export" -> ((s, d) => {
      import s.implicits._
      val fx = tombstoneFor(s, d)
      val gone = docs(s, d).where(pmod(col("doc_id"), lit(83)) === 0)
        .select("doc_id")
      val nGone = gone.count()
      val served = graft.operators.Retraction.readCorpusServed(s,
        lazyArtifacts(fx))
      val exportHits = served.join(gone, Seq("doc_id"), "left_semi")
        .count()
      val exportRows = served.count()
      val rawRows = s.read.parquet(fx.corpus).count()
      Seq((exportHits, exportRows, rawRows, nGone))
        .toDF("export_hits", "export_rows", "raw_rows", "n_tombstoned")
        .withColumn("meets_floor",
          col("export_hits") === 0 &&
            col("raw_rows") === col("export_rows") + col("n_tombstoned") &&
            col("n_tombstoned") > 0)
        .where(col("meets_floor"))
    }),

    // INCREMENTAL local PPR: rank state maintained across two edge
    // batches by delta push (Ohsaka-style residual injection at the new
    // edges' endpoints, then the push loop to tolerance) — served from
    // the store, every row carrying its own unsettled residual.
    // Engine-defined estimates (rows-only); the _gap twin below
    // machine-enforces the pricing bound vs a from-scratch push
    "q_ppr_incremental" -> ((s, d) => {
      val store = pprStoreFor(s, d)
      graft.operators.Graph.readLocalPprState(s, store)
        .join(broadcast(Tables.load(s, d, "nation")
            .select(col("n_nationkey").as("id"),
              col("n_name").as("nation"))),
          Seq("id"))
        .select(col("nation"), round(col("ppr"), 6).as("ppr_inc"),
          round(col("resid"), 6).as("resid"))
        .transform(Queries.presentSorted(_, "nation"))
    }),

    // the delta-push pricing bound as a floor: ‖p_inc − p_scratch‖₁ ≤
    // Σ|resid_inc| + Σ|resid_scratch| (+ float slack) — both sides
    // approximate the SAME full-graph PPR (the store pins its seed set
    // at creation and the fixture requires it to equal the full
    // graph's), so their gap is bounded by their residual mass by
    // linearity of ppr = p + Σ r(u)·ppr_u. A correction-formula bug
    // (wrong scale, wrong dangling routing, missed source) breaks the
    // bound and the row vanishes
    "q_ppr_incremental_gap" -> ((s, d) => {
      val store = pprStoreFor(s, d)
      val inc = graft.operators.Graph.readLocalPprState(s, store)
        .select(col("id"), col("ppr").as("p_inc"),
          col("resid").as("r_inc"))
      val seeds = Tables.load(s, d, "nation")
        .where(pmod(col("n_nationkey"), lit(5)) === 0)
        .select(col("n_nationkey").as("id"))
      val scratch = graft.operators.Graph.localPersonalizedPageRank(
          Queries.tradeEdges(s, d), "src", "dst", seeds, "id",
          eps = 5e-4)
        .select(col("id"), col("ppr").as("p_fs"),
          col("resid").as("r_fs"))
      inc.join(scratch, Seq("id"), "full_outer")
        .agg(
          sum(abs(coalesce(col("p_inc"), lit(0.0)) -
            coalesce(col("p_fs"), lit(0.0)))).as("l1"),
          sum(abs(coalesce(col("r_inc"), lit(0.0)))).as("resid_inc"),
          sum(abs(coalesce(col("r_fs"), lit(0.0)))).as("resid_fs"))
        .select(round(col("l1"), 6).as("l1"),
          round(col("resid_inc"), 6).as("resid_inc"),
          round(col("resid_fs"), 6).as("resid_fs"),
          (col("l1") <= col("resid_inc") + col("resid_fs") + lit(1e-9))
            .as("meets_floor"))
        .where(col("meets_floor"))
    }),

    // INCREMENTAL FULL-GRAPH PageRank: the uniform-teleport rank
    // maintained across two edge batches by the same delta-push store
    // discipline — q_pagerank re-pays whole-graph rounds per batch,
    // this store folds the batch at its blast radius (plus the O(n)
    // teleport re-aim when new nodes arrive). Engine-defined estimates
    // (rows-only); the _gap twin machine-enforces the pricing bound
    "q_pagerank_incremental" -> ((s, d) => {
      val store = pagerankStoreFor(s, d)
      graft.operators.Graph.readPageRankState(s, store)
        .join(broadcast(Tables.load(s, d, "nation")
            .select(col("n_nationkey").as("id"),
              col("n_name").as("nation"))),
          Seq("id"))
        .select(col("nation"), round(col("rank"), 6).as("rank_inc"),
          round(col("resid"), 6).as("resid"))
        .transform(Queries.presentSorted(_, "nation"))
    }),

    // the delta-push pricing bound for the uniform store: ‖p_inc −
    // p_scratch‖₁ ≤ Σ|resid_inc| + Σ|resid_scratch| (+ float slack) —
    // both sides approximate the SAME stationary rank (uniform teleport
    // over the full node set), so a correction-formula bug (wrong
    // scale, wrong dangling withdrawal, missed teleport shift) breaks
    // the bound and the row vanishes
    "q_pagerank_incremental_gap" -> ((s, d) => {
      val store = pagerankStoreFor(s, d)
      val inc = graft.operators.Graph.readPageRankState(s, store)
        .select(col("id"), col("rank").as("p_inc"),
          col("resid").as("r_inc"))
      val scratch = graft.operators.Graph.pageRankPush(
          Queries.tradeEdges(s, d), "src", "dst", eps = 5e-4)
        .select(col("id"), col("ppr").as("p_fs"),
          col("resid").as("r_fs"))
      inc.join(scratch, Seq("id"), "full_outer")
        .agg(
          sum(abs(coalesce(col("p_inc"), lit(0.0)) -
            coalesce(col("p_fs"), lit(0.0)))).as("l1"),
          sum(abs(coalesce(col("r_inc"), lit(0.0)))).as("resid_inc"),
          sum(abs(coalesce(col("r_fs"), lit(0.0)))).as("resid_fs"))
        .select(round(col("l1"), 6).as("l1"),
          round(col("resid_inc"), 6).as("resid_inc"),
          round(col("resid_fs"), 6).as("resid_fs"),
          (col("l1") <= col("resid_inc") + col("resid_fs") + lit(1e-9))
            .as("meets_floor"))
        .where(col("meets_floor"))
    }),

    // IVF index RE-CLUSTERING priced as a floor row: the index doubles
    // under appends into frozen seed geometry, then reclusterIvfIndex
    // (Lloyd over current contents + whole-root swap) rewrites it.
    // Machine-enforced floor: no vector lost through the swap, the
    // swapped index serves at the family recall floor, and the
    // post-recluster geometry stays within the balanced band
    // (imbalance < 1.5 — a degenerate retrain that collapsed cells
    // measured 4.5+ while developing this row). NOTE the floor is
    // deliberately NOT "imbalance decreases": this corpus is isotropic
    // on the unit sphere (within-label cosine ≈ 0.017), where max-dot
    // partitioning is balanced by construction for ANY seed set —
    // there is no hot cell to fix; the hot-cell-reduction behavior is
    // pinned in SimilaritySpec on a fixture with real direction
    // structure. Round 20: the decayed index AND the brute-force truth
    // stage UNTIMED (prepares / the takedownWork convention — the truth
    // depends only on the corpus, never on the index layout), so the
    // timed body prices recluster + post-swap serve alone instead of
    // paying its own fixture build and floor machinery inside the
    // clock; the floor itself is asserted on every run, Verify and
    // Bench alike.
    "q_ivf_recluster" -> ((s, d) => {
      import s.implicits._
      val work = ivfReclusterWork(s, d)
      val idx = new java.io.File(work, "idx").toString
      // independent bounded actions overlap on driver threads (§2.6) —
      // the verb's phases stay strictly ordered around the swap
      var before = 0.0; var total = 0L
      graft.sources.Compaction.parEach(Seq(
        () => before = Similarity.ivfIndexStats(s, idx)
          .select("imbalance").first().getDouble(0),
        () => total = s.read.parquet(s"$idx/data").count()
      ))(_.apply())
      Similarity.reclusterIvfIndex(s, idx, "vec_id", "embedding",
        kmeansIters = 5)
      val truth = s.read.parquet(
        new java.io.File(work, "truth").toString)
      val queries = embs(s, d)
        .filter(pmod(col("vec_id"), lit(40)) === 0)
        .select("vec_id", "embedding")
      // the post-swap audit reads (stats, kept, truth) AND the recall
      // serve are all independent bounded actions over the swapped
      // index — overlap the serve with the audits too (§2.6)
      var after = 0.0; var kept = 0L; var nTruth = 0L; var found = 0L
      graft.sources.Compaction.parEach(Seq(
        () => after = Similarity.ivfIndexStats(s, idx)
          .select("imbalance").first().getDouble(0),
        () => kept = s.read.parquet(s"$idx/data").count(),
        () => nTruth = truth.count(),
        () => found = truth.join(
          CellIndex(idx, Voronoi(nprobe = 4), Exact).batchTopK(s, "vec_id",
              "embedding", queries, "vec_id", "embedding", k = 5)
            .select("query_id", "vec_id"),
          Seq("query_id", "vec_id"), "left_semi").count()
      ))(_.apply())
      val recall = found.toDouble / nTruth
      Seq((math.rint(before * 10000) / 10000,
          math.rint(after * 10000) / 10000,
          math.rint(recall * 1000000) / 1000000, total))
        .toDF("imbalance_before", "imbalance_after", "recall", "vectors")
        .withColumn("meets_floor",
          col("imbalance_after") < 1.5 &&
            col("recall") >= 0.5 && lit(kept) === col("vectors"))
        .where(col("meets_floor"))
    }),

    // cross-artifact CONSISTENCY AUDIT over the post-takedown
    // deployment: the independent auditor proving the crash-windowed
    // verbs CONVERGED — per artifact, distinct-id drift vs the corpus
    // (missing split by pending corpus tombstones, extra split by the
    // artifact's own overlay). On the q_takedown fixture (full
    // admission + physical retraction cycle) every artifact must come
    // back clean: one row per artifact, all-zero drift, machine-
    // enforced (any leak, strand or pending residue drops its row).
    "q_artifact_audit" -> ((s, d) => {
      val fx = takedownFor(s, d)
      graft.operators.Retraction.audit(s,
          graft.operators.Retraction.Artifacts(fx.corpus,
            minhashIndexPath = Some(fx.minhash), textIndex = Some(fx.text),
            annIndexPath = Some(fx.ann), annIdCol = "vec_id"))
        .withColumn("meets_floor",
          col("missing") <= 0 && col("missing_pending") <= 0 &&
            col("extra_leaked") === 0 && col("extra_pending") === 0 &&
            col("ids") > 0)
        .where(col("meets_floor"))
        .transform(Queries.presentSorted(_, "artifact"))
    }),

    // Z-ORDER LAYOUT MAINTENANCE priced as a floor row (the lakehouse
    // OPTIMIZE ZORDER BY story): a clustered table decays under
    // unclustered appends (each appended file spans the whole clustered
    // domain — min-max skipping degrades exactly where the layout was
    // bought), clusterStats puts a number on the decay, recluster
    // (staged rewrite + whole-root swap) must restore the healthy
    // per-file bounding-box fraction with content identical. Machine-
    // enforced: no decay measured, no restoration, or a row lost in the
    // swap ⇒ 0 rows.
    "q_zorder_maintain" -> ((s, d) => {
      import s.implicits._
      val (dir, frac) = zorderDecayFixture(s, d, "graft_zorder_maint_")
      val healthy = frac()
      appendZorderDecay(s, d, dir)
      // the post-append audit pair and the post-recluster audit pair
      // are independent bounded reads of the same tree — overlap each
      // pair (§2.6); the recluster stays the strict barrier between them
      var decayed = 0.0; var total = 0L
      graft.sources.Compaction.parEach(Seq(
        () => decayed = frac(),
        () => total = s.read.parquet(dir).count()
      ))(_.apply())
      graft.sources.ZOrder.recluster(s, dir, Seq("a", "b"),
        bits = 8, partitions = 8)
      var restored = 0.0; var kept = 0L
      graft.sources.Compaction.parEach(Seq(
        () => restored = frac(),
        () => kept = s.read.parquet(dir).count()
      ))(_.apply())
      Seq((math.rint(healthy * 1e6) / 1e6, math.rint(decayed * 1e6) / 1e6,
          math.rint(restored * 1e6) / 1e6, total))
        .toDF("healthy_frac", "decayed_frac", "restored_frac", "rows")
        .withColumn("meets_floor",
          col("decayed_frac") > col("restored_frac") &&
            col("restored_frac") < 0.4 && lit(kept) === col("rows"))
        .where(col("meets_floor"))
    }),

    // PARTIAL z-order recluster floor: the 100 TB form of the verb
    // above — after unclustered appends decay the layout, rewrite ONLY
    // the decayed files (still-tight files hardlink-carried untouched)
    // and land under the same health bar. Machine-enforced: the pass
    // must be genuinely partial (rewritten < files seen, kept > 0), the
    // layout restored (< 0.4 avg box frac), and no row lost — a
    // regression to whole-table rewriting or a dropped carry-over file
    // zeroes the row
    "q_zorder_incremental" -> ((s, d) => {
      import s.implicits._
      val (dir, frac) = zorderDecayFixture(s, d, "graft_zorder_inc_")
      appendZorderDecay(s, d, dir)
      // same overlapped audit pairs as q_zorder_maintain (§2.6)
      var decayed = 0.0; var total = 0L
      graft.sources.Compaction.parEach(Seq(
        () => decayed = frac(),
        () => total = s.read.parquet(dir).count()
      ))(_.apply())
      val r = graft.sources.ZOrder.reclusterDecayed(s, dir,
        Seq("a", "b"), bits = 8, decayFrac = 0.5,
        rewritePartitions = Some(8))
      var restored = 0.0; var kept = 0L
      graft.sources.Compaction.parEach(Seq(
        () => restored = frac(),
        () => kept = s.read.parquet(dir).count()
      ))(_.apply())
      Seq((math.rint(decayed * 1e6) / 1e6,
          math.rint(restored * 1e6) / 1e6, total,
          r.files, r.rewritten, r.kept))
        .toDF("decayed_frac", "restored_frac", "rows",
          "files", "rewritten", "carried")
        .withColumn("meets_floor",
          col("decayed_frac") > col("restored_frac") &&
            col("restored_frac") < 0.4 && lit(kept) === col("rows") &&
            col("rewritten") > 0 && col("rewritten") < col("files") &&
            col("carried") > 0)
        .where(col("meets_floor"))
    }),

    // TRAINING-SHARD EXPORT — the whole "ship to the trainer" verb in
    // one hash-checked row: served corpus → Knuth-multiplicative
    // pseudo-shuffle (plain integer arithmetic, so DuckDB recomputes the
    // identical assignment — no RNG shuffle can be oracled) → shard =
    // h mod 8 → token-budget packing within shard in h-order → sharded
    // write + swap. The oracle twin reproduces doc→(shard, seq)
    // bit-for-bit; the overlay-awareness half is spec'd
    // (RetractionSpec: a tombstoned doc never ships)
    "q_export_shards" -> ((s, d) => {
      val out = new java.io.File(
        sys.props("java.io.tmpdir"),
        "graft_export_" + d.replaceAll("[^A-Za-z0-9]", "_")).toString
      graft.operators.Retraction.exportTrainingShards(s,
        graft.operators.Retraction.Artifacts(s"$d/documents.parquet"),
        out, shards = 8, tokenBudget = 512)
      s.read.parquet(out)
        .select(col("doc_id"), col("n_tokens"),
          col("shard").cast("int").as("shard"), col("seq_id"))
        .transform(Queries.presentSorted(_, "doc_id"))
    }),

    // INCREMENTAL export — the daily delta ship, fully hash-checked:
    // day 1 ships two thirds of the corpus as epoch=0, day 2's
    // admissions ship as epoch=1 ONLY (the ledger anti-join), shard =
    // the same Knuth hash in both epochs (trainer's shard K = union of
    // epoch=*/shard=K), packing per epoch. The DuckDB twin recomputes
    // BOTH epochs' (shard, seq) bit-for-bit
    "q_export_delta" -> ((s, d) => {
      val base = new java.io.File(
        sys.props("java.io.tmpdir"),
        "graft_export_delta_" + d.replaceAll("[^A-Za-z0-9]", "_"))
      graft.sources.Compaction.rm(base)
      val corpus = new java.io.File(base, "corpus").toString
      val out = new java.io.File(base, "out").toString
      val docsDf = s.read.parquet(s"$d/documents.parquet")
      docsDf.where(pmod(col("doc_id"), lit(3)) =!= 0)
        .write.parquet(corpus)
      val a = graft.operators.Retraction.Artifacts(corpus)
      graft.operators.Retraction.exportTrainingShardsIncremental(
        s, a, out, shards = 8, tokenBudget = 512)
      docsDf.where(pmod(col("doc_id"), lit(3)) === 0)
        .write.mode("append").parquet(corpus)
      graft.operators.Retraction.exportTrainingShardsIncremental(
        s, a, out, shards = 8, tokenBudget = 512)
      s.read.parquet(out)
        .select(col("doc_id"), col("n_tokens"),
          col("shard").cast("int").as("shard"), col("seq_id"),
          col("epoch").cast("int").as("epoch"))
        .transform(Queries.presentSorted(_, "doc_id"))
    }),

    // COMMUNITY DETECTION by deterministic synchronous label propagation
    // (fixed smallest-label tie-break + self-vote — vanilla LPA's random
    // tie-break would make this row unhashable run-to-run) over the
    // planted block graph: one community per 20-id block is the designed
    // answer. Rows-only (labels are engine-side), sizes fully
    // deterministic; quality machine-enforced by the _gap twin.
    "q_communities" -> ((s, d) =>
      graft.operators.Graph.labelPropagation(docBlockGraph(s, d),
          "src", "dst", maxIters = 20)
        .groupBy("community").agg(count(lit(1)).as("size"))
        .transform(Queries.presentSorted(_, "community"))),

    // Newman modularity of the LPA partition — the machine-checkable
    // floor for otherwise engine-specific community labels: the planted
    // blocks score ≈ (1 − 1/B) − boundary losses; a collapsed or
    // shattered partition scores near 0 and zeroes the row
    "q_communities_gap" -> ((s, d) => {
      val g = docBlockGraph(s, d)
      val labels = graft.operators.Graph.labelPropagation(g, "src", "dst",
        maxIters = 20)
      graft.operators.Graph.modularity(g, "src", "dst", labels,
          "id", "community")
        .withColumn("meets_floor", col("modularity") >= 0.6)
        .where(col("meets_floor"))
    }),

    // INCREMENTAL LPA communities: the partition maintained across two
    // edge batches by the frontier store (stored fixed point re-voted
    // only around the batch's blast radius) — q_communities re-pays
    // whole-graph propagation per run, this serves from the store.
    // Rows-only (labels are engine-side); quality machine-enforced by
    // the _gap twin below
    "q_communities_incremental" -> ((s, d) =>
      graft.operators.Graph.readCommunityState(s,
          communityStoreFor(s, d))
        .groupBy("community").agg(count(lit(1)).as("size"))
        .transform(Queries.presentSorted(_, "community"))),

    // the incremental partition's quality floor: LPA fixed points are
    // not unique, so the store can land a DIFFERENT valid partition
    // than from-scratch LPA on the merged graph — but it must score
    // the same modularity band (the planted blocks) and stay within
    // tolerance of the from-scratch score; a store that shattered or
    // collapsed under the delta pass zeroes the row
    "q_communities_incremental_gap" -> ((s, d) => {
      val g = docBlockGraph(s, d)
      val qInc = graft.operators.Graph.modularity(g, "src", "dst",
          graft.operators.Graph.readCommunityState(s,
            communityStoreFor(s, d)), "id", "community")
        .select("modularity").first().getDouble(0)
      val qFs = graft.operators.Graph.modularity(g, "src", "dst",
          graft.operators.Graph.labelPropagation(g, "src", "dst",
            maxIters = 20), "id", "community")
        .select("modularity").first().getDouble(0)
      import s.implicits._
      Seq((qInc, qFs)).toDF("q_incremental", "q_scratch")
        .withColumn("meets_floor",
          col("q_incremental") >= 0.6 &&
            col("q_incremental") >= col("q_scratch") - 0.02)
        .where(col("meets_floor"))
    }),

    // TAKEDOWN FOR SHIPPED EPOCHS floor: ids tombstoned AFTER they
    // shipped are excised from the immutable export tree by the
    // ledger-pruned retractFromExport pass (wired into the cadence via
    // Artifacts.exportRoots). Machine-enforced: the taken ids are
    // absent from every epoch's data AND every _ids ledger, every
    // epoch's _manifest receipt re-derives exactly from its rewritten
    // data, and the untouched shard leaves are byte-identical to the
    // pre-takedown snapshot (same file set, sizes and mtimes — the
    // pruning claim made physical); the pass must also be genuinely
    // partial (untouched leaves exist) or the row zeroes
    "q_export_takedown" -> ((s, d) => {
      import s.implicits._
      val fx = exportTakedownFor(s, d)
      val taken = s.read.parquet(fx.taken)
      val nTaken = taken.count()
      val shipped = s.read.parquet(fx.out)
      val dataHits = shipped.join(taken, Seq("doc_id"), "left_semi")
        .count()
      val epochDirs = Option(new java.io.File(fx.out).listFiles())
        .getOrElse(Array.empty)
        .filter(f => f.isDirectory && f.getName.startsWith("epoch="))
      val ledgerHits = epochDirs.map { e =>
        graft.sources.Compaction.readParquet(s, Seq(s"$e/_ids"))
          .join(taken, Seq("doc_id"), "left_semi").count()
      }.sum
      // receipt consistency: manifests vs a full re-derivation from
      // the shipped data — exact equality, every (epoch, shard) row
      val manifests = epochDirs.map(e =>
          graft.sources.Compaction.readParquet(s, Seq(s"$e/_manifest")))
        .reduce(_ unionByName _)
      val rederived = shipped.groupBy("epoch", "shard")
        .agg(count(lit(1)).as("n_docs"), sum("n_tokens").as("n_tokens"),
          countDistinct("seq_id").as("n_sequences"))
      val manifestDrift = manifests
        .join(rederived, Seq("epoch", "shard"), "full_outer")
        .where(manifests("n_docs") <=> rederived("n_docs") === false ||
          manifests("n_tokens") <=> rederived("n_tokens") === false ||
          manifests("n_sequences") <=> rederived("n_sequences") === false)
        .count()
      // byte-identity of the untouched leaves vs the pre-takedown
      // snapshot: same file set, same sizes, same mtimes. Touched is a
      // PER-EPOCH (epoch, shard) set — the verb prunes per epoch, so a
      // shard touched only in epoch 0 must NOT exempt its same-numbered
      // (untouched) leaf in epoch 1 from the byte-identity check; epoch
      // membership re-derives from the fixture's own day split
      val now = exportLeafListing(s, fx.out)
      val pre = s.read.parquet(fx.pre)
      val touchedPairs = taken.select(
          when(pmod(col("doc_id"), lit(3)) === 0, lit(1)).otherwise(lit(0))
            .as("epoch"),
          graft.operators.Retraction.exportShard(
            graft.operators.Retraction.exportHash(col("doc_id")), 8)
            .as("shard"))
        .distinct().localCheckpoint(true)
      val nTouched = touchedPairs.count()
      val untouchedPre = pre.join(touchedPairs, Seq("epoch", "shard"),
        "left_anti")
      val untouchedNow = now.join(touchedPairs, Seq("epoch", "shard"),
        "left_anti")
      val listingDrift = untouchedPre.join(untouchedNow,
          Seq("epoch", "shard", "name", "size", "mtime"), "full_outer")
        .where(untouchedPre("epoch").isNull || untouchedNow("epoch").isNull)
        .count()
      val untouchedLeaves = untouchedPre
        .select("epoch", "shard").distinct().count()
      org.apache.spark.sql.GraftBridge.unpersistCheckpoint(touchedPairs)
      Seq((nTaken, dataHits, ledgerHits, manifestDrift, listingDrift,
          untouchedLeaves, nTouched))
        .toDF("n_taken", "data_hits", "ledger_hits", "manifest_drift",
          "untouched_drift", "untouched_leaves", "touched_shards")
        .withColumn("meets_floor",
          col("n_taken") > 0 && col("data_hits") === 0 &&
            col("ledger_hits") === 0 && col("manifest_drift") === 0 &&
            col("untouched_drift") === 0 &&
            col("untouched_leaves") > 0 && col("touched_shards") > 0)
        .where(col("meets_floor"))
    }),

    // BOOTSTRAP QUANTILE CI — the deterministic Poisson bootstrap
    // extended past the mean: per replicate the WEIGHTED type-1 median
    // of o_totalprice (integer-exact cut over decimal values — no
    // interpolation formula between the engines), percentile interval
    // over the replicate medians, point estimate riding the same
    // inflated scan as a sentinel replicate. Full oracle: DuckDB
    // replays the draw chain, the running-weight window and the cut
    // bit-for-bit
    "q_bootstrap_quantile" -> ((s, d) =>
      graft.operators.Sampling.poissonBootstrapQuantile(
        Tables.load(s, d, "orders"), "o_orderkey", "o_totalprice",
        qNum = 1, qDen = 2)),

    // the per-domain quantile twin: one median CI per order-priority
    // class from the same inflated scan — "did domain X's p50 move
    // outside its error bars?", the distributional half of the
    // mixture-monitoring pair q_bootstrap_ci_by_group opened. Same
    // full oracle
    "q_bootstrap_quantile_by_group" -> ((s, d) =>
      graft.operators.Sampling.poissonBootstrapQuantileByGroup(
          Tables.load(s, d, "orders"), Seq("o_orderpriority"),
          "o_orderkey", "o_totalprice", qNum = 1, qDen = 2)
        .transform(Queries.presentSorted(_, "o_orderpriority"))),

    // the A/B quantile twin: CI on median(URGENT) − median(LOW) — the
    // distribution's-middle significance call a mean difference is
    // blind to when heavy tails pin the mean. Full oracle
    "q_bootstrap_quantile_diff" -> ((s, d) =>
      graft.operators.Sampling.poissonBootstrapQuantileDiff(
        Tables.load(s, d, "orders"), "o_orderpriority",
        "1-URGENT", "5-LOW", "o_orderkey", "o_totalprice",
        qNum = 1, qDen = 2)),

    // BOOTSTRAP RATIO CI — Σ extendedprice / Σ quantity per replicate
    // under the shared draws (revenue per unit, the ratio-of-sums
    // metric a row-wise mean would mis-weight); same one-scan shape
    // and decimal discipline as the mean rows. Full oracle
    "q_bootstrap_ratio" -> ((s, d) =>
      graft.operators.Sampling.poissonBootstrapRatio(
        Tables.load(s, d, "lineitem")
          .select((col("l_orderkey") * 8 + col("l_linenumber"))
            .as("rid"),
            col("l_extendedprice"), col("l_quantity")),
        "rid", "l_extendedprice", "l_quantity")),

    // fuzzy join with BOTH sides corpus-scale — the cell the broadcast
    // fuzzyJoin excludes: typo'd probe names (3rd char deleted) matched
    // against the part catalog through the PassJoin composition (one
    // self-join over the parity-tagged union, cross pairs kept). Full
    // oracle: DuckDB recomputes the same join with its own levenshtein
    "q_fuzzy_cross" -> ((s, d) => {
      val part = Tables.load(s, d, "part")
      val probes = part.where(pmod(col("p_partkey"), lit(37)) === 0)
        .select(col("p_partkey").as("probe_id"),
          concat(col("p_name").substr(lit(1), lit(2)),
            col("p_name").substr(lit(4), lit(Int.MaxValue)))
            .as("pname"))
      graft.operators.Joins.fuzzyCrossJoin(
          probes, "probe_id", "pname",
          part.select("p_partkey", "p_name"), "p_partkey", "p_name",
          maxDistance = 1)
        .transform(Queries.presentSorted(_, "probe_id", "p_partkey"))
    }),

    // SCD2 (type-2 dimension history) fold of the orders stream: one
    // row per (customer, status/priority CHANGE) with its validity
    // interval — the reproducibility ledger behind "what did this
    // dimension say when batch X was ingested"
    "q_scd2" -> ((s, d) =>
      graft.operators.Merge.scd2(Tables.load(s, d, "orders"),
          Seq("o_custkey"), "o_orderkey",
          Seq("o_orderstatus", "o_orderpriority"))
        .transform(Queries.presentSorted(_, "o_custkey", "valid_from"))),

    // the same history maintained INCREMENTALLY: three version-ordered
    // batches folded by scd2Apply (closed intervals pass through
    // untouched; the work is the batch fold + one key-join against the
    // current rows) — must equal the one-shot fold, so it carries the
    // same oracle verbatim
    "q_scd2_incremental" -> ((s, d) => {
      val o = Tables.load(s, d, "orders")
      val keyCols = Seq("o_custkey")
      val attrs = Seq("o_orderstatus", "o_orderpriority")
      // deterministic version-range cuts from the data itself (two
      // scalars — bounded driver state)
      val mm = o.agg(min("o_orderkey"), max("o_orderkey")).collect().head
      val (lo, hi) = (mm.getLong(0), mm.getLong(1))
      val (t1, t2) = (lo + (hi - lo) / 3, lo + 2 * ((hi - lo) / 3))
      val h0 = graft.operators.Merge.scd2(
        o.where(col("o_orderkey") <= t1), keyCols, "o_orderkey", attrs)
      val h1 = graft.operators.Merge.scd2Apply(h0,
        o.where(col("o_orderkey") > t1 && col("o_orderkey") <= t2),
        keyCols, "o_orderkey", attrs)
      graft.operators.Merge.scd2Apply(h1,
          o.where(col("o_orderkey") > t2), keyCols, "o_orderkey", attrs)
        .transform(Queries.presentSorted(_, "o_custkey", "valid_from"))
    }),

    // the PATH-BACKED history: closed intervals live in the
    // is_current=false partition and are never rewritten; three
    // version-ordered applies land in the store (buildOnce fixture) and
    // the read-back must STILL equal the one-shot fold's oracle
    "q_scd2_stored" -> ((s, d) =>
      graft.operators.Merge.scd2ReadStored(s, scd2StoreFor(s, d))
        .transform(Queries.presentSorted(_, "o_custkey", "valid_from"))),

    // point-in-time lookup over the history: the dimension state AS OF
    // the mid-stream version X — valid_from <= X < valid_to (null-open).
    // The reproducibility question SCD2 exists to answer; full oracle
    "q_scd2_asof" -> ((s, d) => {
      val o = Tables.load(s, d, "orders")
      val x = o.agg(max("o_orderkey")).collect().head.getLong(0) / 2
      graft.operators.Merge.scd2(o, Seq("o_custkey"), "o_orderkey",
          Seq("o_orderstatus", "o_orderpriority"))
        .where(col("valid_from") <= x &&
          (col("valid_to").isNull || col("valid_to") > x))
        .select(col("o_custkey"), col("valid_from"),
          col("o_orderstatus"), col("o_orderpriority"))
        .transform(Queries.presentSorted(_, "o_custkey"))
    }),

    // CUSUM mean-shift trace over the daily order-count series (the
    // monitor runs on the bounded post-aggregation series; the
    // distributed work is the daily groupBy) — exact long running sums,
    // one float at the mean, full oracle
    "q_cusum" -> ((s, d) =>
      graft.operators.Profile.cusum(dailyOrders(s, d), "day", "v")
        .transform(Queries.presentSorted(_, "day"))),

    // the located changepoint: the |cusum| extremum, earliest on ties
    "q_changepoint" -> ((s, d) =>
      graft.operators.Profile.changepoint(dailyOrders(s, d), "day",
        "v")),

    // seasonal-baseline anomaly: each day scored against ITS weekday's
    // mean/σ (season = epoch-day mod 7 — calendar-function-free, so
    // both engines derive the identical season id). Full oracle: exact
    // double moment sums, fixed-order z formula, round 6
    "q_seasonal_anomaly" -> ((s, d) =>
      graft.operators.Profile.seasonalAnomaly(
          dailyOrders(s, d)
            .withColumn("season",
              pmod(datediff(col("day"), lit("1970-01-01")), lit(7))
                .cast("long")),
          "day", "season", "v")
        .select(col("day"), col("season"), col("value"),
          round(col("season_mean"), 6).as("season_mean"),
          round(col("z"), 6).as("z"))
        .transform(Queries.presentSorted(_, "day"))))

  /** The q_bm25_indexed fixture: documents ingested into the persisted
    * inverted index as 3 batches (pmod on doc_id), so the serve
    * exercises the incremental-append path end to end. Built once per
    * sf dir ([[buildOnce]]); the bench row times the pruned-partition
    * serve alone.
    */
  private def textIndexFor(s: SparkSession, d: String)
      : graft.sources.TextIndex.Cfg = {
    // dir renamed (…_pos_) with the positional upgrade: the layout is
    // part of the fixture config, and a stale non-positional fixture
    // under the old name must not satisfy the marker gate
    val path = new java.io.File(
      sys.props("java.io.tmpdir"),
      "graft_text_index_pos_" + d.replaceAll("[^A-Za-z0-9]", "_"))
    val cfg = graft.sources.TextIndex.Cfg(
      new java.io.File(path, "ti").toString, partitions = 16,
      positional = true)
    buildOnce(path) {
      (0 until 3).foreach { b =>
        graft.sources.TextIndex.appendBatch(
          docs(s, d).filter(pmod(col("doc_id"), lit(3)) === b),
          "doc_id", "text", cfg)
      }
    }
    cfg
  }

  /** The q_takedown fixture: the documents corpus with its serving
    * artifacts — positional text index (3 incremental appends), MinHash
    * index, exact-key bloom gate, IVF index over the embeddings table
    * (vec_id shares the doc id space) — built once per sf dir, then
    * `doc_id % 83 == 0` (7 docs at sf0.01, doc 0 included) RETRACTED
    * through [[graft.operators.Retraction.retractDocs]]. The takedown
    * rows all serve from this post-retraction state, so the fixture IS
    * the operator under test: q_takedown/q_takedown_corpus carry full
    * DuckDB oracles over the surviving documents, q_takedown_serves
    * machine-enforces that no serve answers with a retracted id and
    * that the gates re-admit.
    */
  /** Planted-partition graph derived from the documents table's id
    * column: ids chain in 20-id blocks with +1/+2/+3 intra-block edges
    * and a single +1 bridge between consecutive blocks (intra-density 3
    * vs bridge 1). Planted because NO TPC-H-derived graph has community
    * structure — the generator is uniform (trade touches every nation
    * pair, co-purchase is an expander, within-label embedding cosine
    * ≈ 0.017), so natural fixtures score modularity ≈ 0 for any
    * partition and cannot exercise a community detector.
    */
  private def docBlockGraph(s: SparkSession, d: String): DataFrame = {
    val ids = docs(s, d).select(col("doc_id").cast("long").as("id"))
    val cand = ids.select(col("id").as("src"),
        explode(array(lit(1L), lit(2L), lit(3L))).as("__o"))
      .select(col("src"), (col("src") + col("__o")).as("dst"), col("__o"))
    val sameBlock = (col("src") - pmod(col("src"), lit(20))) ===
      (col("dst") - pmod(col("dst"), lit(20)))
    cand.where(col("__o") === 1 || sameBlock)
      .join(ids.select(col("id").as("dst")), Seq("dst"), "left_semi")
      .select("src", "dst")
  }

  private case class TakedownFx(corpus: String,
                                text: graft.sources.TextIndex.Cfg,
                                minhash: String,
                                bloom: graft.sources.BloomKeyIndex.Cfg,
                                ann: String)

  private def takedownFor(s: SparkSession, d: String): TakedownFx = {
    val root = new java.io.File(
      sys.props("java.io.tmpdir"),
      "graft_takedown_" + d.replaceAll("[^A-Za-z0-9]", "_"))
    val fx = TakedownFx(
      new java.io.File(root, "corpus").toString,
      graft.sources.TextIndex.Cfg(
        new java.io.File(root, "ti").toString, partitions = 16,
        positional = true),
      new java.io.File(root, "mh").toString,
      graft.sources.BloomKeyIndex.Cfg(
        new java.io.File(root, "bk").toString, keyExpr = "text"),
      new java.io.File(root, "ann").toString)
    buildOnce(root) {
      val all = docs(s, d)
      all.write.mode("overwrite").parquet(fx.corpus)
      (0 until 3).foreach { b =>
        graft.sources.TextIndex.appendBatch(
          all.filter(pmod(col("doc_id"), lit(3)) === b),
          "doc_id", "text", fx.text)
      }
      graft.operators.Dedup.writeMinhashIndex(all, "doc_id", "text",
        fx.minhash)
      graft.sources.BloomKeyIndex.appendBatch(all, fx.bloom)
      CellIndex(fx.ann, Voronoi(nlist = 8), Exact).write(
        Tables.load(s, d, "embeddings"), "vec_id", "embedding")
      graft.operators.Retraction.retractDocs(s,
        all.where(pmod(col("doc_id"), lit(83)) === 0).select("doc_id"),
        "doc_id",
        graft.operators.Retraction.Artifacts(fx.corpus,
          minhashIndexPath = Some(fx.minhash), textIndex = Some(fx.text),
          exactKeys = Some(fx.bloom), annIndexPath = Some(fx.ann),
          annIdCol = "vec_id"))
    }
    fx
  }

  /** The q_takedown_lazy fixture: the same artifact shapes as
    * [[takedownFor]] but the takedown is the TOMBSTONE overlay alone —
    * nothing physical rewrites, which is exactly what the row asserts.
    */
  private case class LazyFx(corpus: String,
                            text: graft.sources.TextIndex.Cfg,
                            minhash: String, ann: String)

  /** The fixture's artifact wiring, shared with the rows that read it
    * (`q_takedown_lazy`, `q_takedown_export`) so the two can't drift. */
  private def lazyArtifacts(fx: LazyFx): graft.operators.Retraction.Artifacts =
    graft.operators.Retraction.Artifacts(fx.corpus,
      minhashIndexPath = Some(fx.minhash), textIndex = Some(fx.text),
      annIndexPath = Some(fx.ann), annIdCol = "vec_id")

  private def tombstoneFor(s: SparkSession, d: String): LazyFx = {
    // dir renamed r19 (…tombstone2…): the corpus became an overlay root,
    // so the fixture's on-disk shape changed — a stale pre-r19 fixture
    // (no corpus overlay) must not survive the marker gate
    val root = new java.io.File(
      sys.props("java.io.tmpdir"),
      "graft_tombstone2_" + d.replaceAll("[^A-Za-z0-9]", "_"))
    val fx = LazyFx(
      new java.io.File(root, "corpus").toString,
      graft.sources.TextIndex.Cfg(
        new java.io.File(root, "ti").toString, partitions = 16),
      new java.io.File(root, "mh").toString,
      new java.io.File(root, "ann").toString)
    buildOnce(root) {
      val all = docs(s, d)
      all.write.mode("overwrite").parquet(fx.corpus)
      graft.sources.TextIndex.writeIndex(all, "doc_id", "text", fx.text)
      graft.operators.Dedup.writeMinhashIndex(all, "doc_id", "text",
        fx.minhash)
      CellIndex(fx.ann, Voronoi(nlist = 8), Exact).write(
        Tables.load(s, d, "embeddings"), "vec_id", "embedding")
      graft.operators.Retraction.tombstoneDocs(s,
        all.where(pmod(col("doc_id"), lit(83)) === 0).select("doc_id"),
        "doc_id", lazyArtifacts(fx))
    }
    fx
  }

  /** The q_takedown_reclosure fixture: three docs planted with
    * IDENTICAL text (a true duplicate cluster, canonical = the id
    * minimum 7), label store built from the signature index's OWN pairs
    * (gate-consistent), then the canonical retracted through
    * retractDocs — the surviving satellites (11, 13) must stay
    * co-labeled via signature-index re-closure.
    */
  private case class ReclosureFx(labels: String, satA: Long, satB: Long)

  private def reclosureFor(s: SparkSession, d: String): ReclosureFx = {
    val root = new java.io.File(
      sys.props("java.io.tmpdir"),
      "graft_reclosure_" + d.replaceAll("[^A-Za-z0-9]", "_"))
    val labels = new java.io.File(root, "lbl").toString
    val fx = ReclosureFx(labels, 11L, 13L)
    buildOnce(root) {
      val corpusPath = new java.io.File(root, "corpus").toString
      val mh = new java.io.File(root, "mh").toString
      val planted = lit("graft reclosure cluster text alpha beta gamma " +
        "delta epsilon zeta eta theta")
      val all = docs(s, d).select(col("doc_id"),
        when(col("doc_id").isin(7L, 11L, 13L), planted)
          .otherwise(col("text")).as("text"))
      all.write.mode("overwrite").parquet(corpusPath)
      graft.operators.Dedup.writeMinhashIndex(all, "doc_id", "text", mh)
      // the store from the index's own pairs — the same evidence the
      // re-closure will re-derive from
      val pairs = graft.operators.Dedup.pairsFromMinhashIndex(s, mh,
        all.select("doc_id"), "doc_id", threshold = 0.8)
      graft.operators.Components.updateLabelStore(s, labels, pairs,
        "id_a", "id_b")
      graft.operators.Retraction.retractDocs(s,
        s.range(7, 8).select(col("id").as("doc_id")), "doc_id",
        graft.operators.Retraction.Artifacts(corpusPath,
          minhashIndexPath = Some(mh), dupLabelsPath = Some(labels)))
    }
    fx
  }

  /** The q_snippets_stored / q_forward_fetch fixture: the documents'
    * (doc_id, text) projection laid out key-bucketed (16 buckets,
    * [[graft.sources.Bucketing.writeKeyBucketed]]).
    */
  private def forwardStoreFor(s: SparkSession, d: String): String = {
    val root = new java.io.File(
      sys.props("java.io.tmpdir"),
      "graft_fwd_store_" + d.replaceAll("[^A-Za-z0-9]", "_"))
    val path = new java.io.File(root, "fs").toString
    buildOnce(root) {
      graft.sources.Bucketing.writeKeyBucketed(
        docs(s, d).select("doc_id", "text"), path, "doc_id",
        partitions = 16)
    }
    path
  }

  /** The pristine artifact set behind q_takedown_apply, copied to a
    * scratch dir per invocation so the timed verb always excises from
    * the same state. */
  private def takedownApplySrc(s: SparkSession, d: String): java.io.File = {
    val root = new java.io.File(
      sys.props("java.io.tmpdir"),
      "graft_takedown_src_" + d.replaceAll("[^A-Za-z0-9]", "_"))
    buildOnce(root) {
      val all = docs(s, d)
      val a = takedownApplyArtifacts(root)
      all.write.mode("overwrite").parquet(a.corpusPath)
      graft.sources.TextIndex.writeIndex(all, "doc_id", "text",
        a.textIndex.get)
      graft.operators.Dedup.writeMinhashIndex(all, "doc_id", "text",
        a.minhashIndexPath.get)
      graft.sources.BloomKeyIndex.appendBatch(all, a.exactKeys.get)
    }
    root
  }

  /** The z-order decay fixture shared by `q_zorder_maintain` and
    * `q_zorder_incremental` — ONE definition so the two rows stay the
    * comparable pair SparkEntry.benchQueries claims (whole-root vs
    * partial rewrite of the SAME decay): even-`b` orders projection
    * z-clustered at bits=8 into 8 files under a per-sf tmp dir.
    * Returns (dir, avg-box-frac probe). */
  private def zorderDecayFixture(s: SparkSession, d: String,
                                 prefix: String): (String, () => Double) = {
    val o = zorderOrders(s, d)
    val dir = new java.io.File(
      sys.props("java.io.tmpdir"),
      prefix + d.replaceAll("[^A-Za-z0-9]", "_"))
    graft.sources.Compaction.rm(dir)
    graft.sources.ZOrder.clusteredWrite(o.where(col("b") % 2 === 0),
      dir.toString, Seq("a", "b"), bits = 8, partitions = 8)
    (dir.toString, () => graft.sources.ZOrder
      .clusterStats(s, dir.toString, Seq("a", "b"))
      .select("avg_box_frac").first().getDouble(0))
  }

  /** The decay half: odd-`b` rows appended UNCLUSTERED (round-robin
    * repartition — each new file spans the whole (a, b) domain). */
  private def appendZorderDecay(s: SparkSession, d: String,
                                dir: String): Unit =
    zorderOrders(s, d).where(col("b") % 2 =!= 0).repartition(2)
      .write.mode("append").parquet(dir)

  private def zorderOrders(s: SparkSession, d: String) =
    Tables.load(s, d, "orders").select(
      (col("o_custkey") % 256).cast("long").as("a"),
      (col("o_orderkey") % 256).cast("long").as("b"))

  /** The two scratch-tree prefixes, shared by [[prepares]] and the row
    * bodies — ONE definition each: if they drifted apart, prep would
    * stage one directory while the timed body looked for the marker in
    * another, found none, and silently self-staged INSIDE the clock,
    * re-adding the copy noise [[prepares]] exists to remove. */
  private val takedownApplyPrefix = "graft_takedown_work_"
  private val takedownTombstonePrefix = "graft_tombstone_work_"

  /** Stage a pristine scratch copy of `src` under `prefix` and mark it
    * `_PRISTINE` — the untimed half of every mutate-the-fixture row
    * (q_takedown_apply, q_takedown_tombstone, q_ivf_recluster). The
    * bench calls this through [[prepares]] BEFORE starting the clock,
    * so the timed body prices the verb alone (the copy is constant,
    * but its noise was 7× the signal the takedown rows exist to
    * catch). ONE implementation for every scratch pair — the marker
    * lifecycle below is flake-prone enough (r19) that a second copy to
    * keep in sync would be a regression waiting. */
  private def stageScratch(src: java.io.File, d: String,
                           prefix: String): java.io.File = {
    val work = new java.io.File(
      sys.props("java.io.tmpdir"),
      prefix + d.replaceAll("[^A-Za-z0-9]", "_"))
    graft.sources.Compaction.rm(work)
    copyTree(src, work)
    java.nio.file.Files.writeString(
      new java.io.File(work, "_PRISTINE").toPath, "staged")
    work
  }

  /** The scratch tree a mutating row consumes: take the pristine copy
    * a prior [[prepares]] call staged (delete the marker — each timed
    * pass must mutate a fresh tree), or self-stage when none is
    * waiting (the Verify path, where nothing is being timed). The
    * marker is consumed on BOTH branches: the self-stage branch used
    * to return with its own freshly-written marker still in place, so
    * the run ended with marker + ALREADY-MUTATED tree — and the NEXT
    * verify run consumed that stale marker, ran on a spent copy, and
    * reported found=0: consecutive full-suite runs alternated
    * pass/fail with zero code change (caught as a CORRECTNESS flake,
    * r19). */
  private def consumeScratch(d: String, prefix: String)
                            (stage: => java.io.File): java.io.File = {
    val work = new java.io.File(
      sys.props("java.io.tmpdir"),
      prefix + d.replaceAll("[^A-Za-z0-9]", "_"))
    val marker = new java.io.File(work, "_PRISTINE")
    if (!marker.exists()) stage
    marker.delete()
    work
  }

  private def stageTakedownWork(s: SparkSession, d: String,
                                prefix: String): java.io.File =
    stageScratch(takedownApplySrc(s, d), d, prefix)

  private def takedownWork(s: SparkSession, d: String,
                           prefix: String): java.io.File =
    consumeScratch(d, prefix)(stageTakedownWork(s, d, prefix))

  /** Untimed per-pass setup hooks: the bench invokes `prepares(name)`
    * outside its clock before every timed pass of `name`; rows without
    * an entry need no staging. Verify ignores this map — the row
    * bodies self-stage. */
  val prepares: Map[String, (SparkSession, String) => Unit] = Map(
    "q_takedown_apply" ->
      ((s, d) => { stageTakedownWork(s, d, takedownApplyPrefix); () }),
    "q_takedown_tombstone" ->
      ((s, d) => { stageTakedownWork(s, d, takedownTombstonePrefix); () }),
    "q_ivf_recluster" ->
      ((s, d) => { stageIvfReclusterWork(s, d); () }),
    // buildOnce fixture, not a scratch pair: the media bytes are
    // read-only to the row, so staging is a no-op after the first call
    "mm_dhash_dedup" ->
      ((s, d) => { dhashMediaPathFor(s, d); () }))

  /** The q_takedown_apply artifact layout under a given root — shared
    * by the fixture build and the scratch-copy excision so the two can
    * never drift. */
  private def takedownApplyArtifacts(root: java.io.File)
      : graft.operators.Retraction.Artifacts =
    graft.operators.Retraction.Artifacts(
      new java.io.File(root, "corpus").toString,
      minhashIndexPath = Some(new java.io.File(root, "mh").toString),
      textIndex = Some(graft.sources.TextIndex.Cfg(
        new java.io.File(root, "ti").toString, partitions = 16,
        positional = true)),
      exactKeys = Some(graft.sources.BloomKeyIndex.Cfg(
        new java.io.File(root, "bk").toString, keyExpr = "text")))

  private def copyTree(src: java.io.File, dst: java.io.File): Unit = {
    if (src.isDirectory) {
      dst.mkdirs()
      Option(src.listFiles()).getOrElse(Array.empty)
        .foreach(f => copyTree(f, new java.io.File(dst, f.getName)))
    } else java.nio.file.Files.copy(src.toPath, dst.toPath,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
  }

  /** The q_ppr_incremental store: the trade graph split into two
    * PAIR-DISJOINT batches (hash of (src, dst) — a pair lands wholly in
    * one batch, so summed weights equal the one-shot graph's and the
    * store's re-sent-pair dedup never drops mass) folded by two
    * [[graft.operators.Graph.updateLocalPprStore]] calls. The
    * creation-time seed pin must equal the full graph's in-graph seed
    * set — required loudly, since the gap twin compares against a
    * from-scratch push whose teleport comes from the full graph.
    */
  private def pprStoreFor(s: SparkSession, d: String): String = {
    val root = new java.io.File(
      sys.props("java.io.tmpdir"),
      "graft_ppr_store_" + d.replaceAll("[^A-Za-z0-9]", "_"))
    val store = new java.io.File(root, "st").toString
    buildOnce(root) {
      val e = Queries.tradeEdges(s, d)
      val seeds = Tables.load(s, d, "nation")
        .where(pmod(col("n_nationkey"), lit(5)) === 0)
        .select(col("n_nationkey").as("id"))
      val cut = pmod(xxhash64(col("src"), col("dst")), lit(3))
      val b1 = e.where(cut < 2)
      val b2 = e.where(cut === 2)
      def seedCount(g: DataFrame): Long = seeds.join(
        g.select(col("src").as("id"))
          .union(g.select(col("dst").as("id"))).distinct(),
        Seq("id"), "left_semi").count()
      require(seedCount(b1) == seedCount(e),
        "ppr fixture: batch 1 must already contain every in-graph seed")
      graft.operators.Graph.updateLocalPprStore(s, store, b1,
        "src", "dst", seeds, "id", eps = 5e-4)
      graft.operators.Graph.updateLocalPprStore(s, store, b2,
        "src", "dst", seeds, "id", eps = 5e-4)
    }
    store
  }

  /** The q_communities_incremental store: the planted block graph
    * split by GROWTH — day 1 is the graph over the first two thirds of
    * the id space, day 2 appends the remaining docs' blocks and their
    * chain edges into the old region — folded by two
    * [[graft.operators.Graph.updateCommunityStore]] calls. Growth is
    * the cadence the store exists for (new documents, new blocks); a
    * uniformly RANDOM edge split would instead seed LPA with the
    * sparsified subgraph's locally-stable fragments, a known LPA
    * seeding sensitivity ([[graft.operators.Graph.updateCommunityStore]]
    * doc) that no delta pass can vote its way out of — and not how a
    * corpus link graph ever arrives.
    */
  private def communityStoreFor(s: SparkSession, d: String): String = {
    val root = new java.io.File(
      sys.props("java.io.tmpdir"),
      "graft_lpa_store_" + d.replaceAll("[^A-Za-z0-9]", "_"))
    val store = new java.io.File(root, "st").toString
    buildOnce(root) {
      val e = docBlockGraph(s, d)
      val cut = docs(s, d).agg(max("doc_id")).collect().head
        .getLong(0) * 2 / 3
      graft.operators.Graph.updateCommunityStore(s, store,
        e.where(col("src") <= cut && col("dst") <= cut), "src", "dst",
        maxIters = 20)
      graft.operators.Graph.updateCommunityStore(s, store,
        e.where(col("src") > cut || col("dst") > cut), "src", "dst",
        maxIters = 20)
    }
    store
  }

  /** The q_export_takedown fixture: a two-epoch incremental export,
    * then a lazy takedown of SHIPPED ids (chosen to land in shards
    * {0, 1} only, so most leaves must survive byte-identical) applied
    * through the cadence with the export root wired into
    * [[graft.operators.Retraction.Artifacts.exportRoots]]. The
    * pre-takedown leaf listing and the taken id set persist beside the
    * tree so the floor row can prove absence, receipt consistency and
    * untouched-leaf byte-identity on every later run.
    */
  private case class ExportTakedownFx(out: String, taken: String,
                                      pre: String)

  private def exportTakedownFor(s: SparkSession,
                                d: String): ExportTakedownFx = {
    val root = new java.io.File(
      sys.props("java.io.tmpdir"),
      "graft_export_td_" + d.replaceAll("[^A-Za-z0-9]", "_"))
    val fx = ExportTakedownFx(
      new java.io.File(root, "out").toString,
      new java.io.File(root, "taken").toString,
      new java.io.File(root, "pre").toString)
    buildOnce(root) {
      val corpusPath = new java.io.File(root, "corpus").toString
      val docsDf = docs(s, d).select("doc_id", "text")
      docsDf.where(pmod(col("doc_id"), lit(3)) =!= 0)
        .write.parquet(corpusPath)
      val a = graft.operators.Retraction.Artifacts(corpusPath,
        exportRoots = Seq(fx.out))
      graft.operators.Retraction.exportTrainingShardsIncremental(
        s, a, fx.out, shards = 8, tokenBudget = 512)
      docsDf.where(pmod(col("doc_id"), lit(3)) === 0)
        .write.mode("append").parquet(corpusPath)
      graft.operators.Retraction.exportTrainingShardsIncremental(
        s, a, fx.out, shards = 8, tokenBudget = 512)
      // shipped ids whose Knuth shard is 0 or 1 — the takedown set,
      // bounded to two shard leaves per epoch by construction (the
      // verb's OWN shared deal expression, so fixture and verb cannot
      // drift)
      val taken = docsDf
        .where(graft.operators.Retraction.exportShard(
          graft.operators.Retraction.exportHash(col("doc_id")), 8) < 2 &&
          pmod(col("doc_id"), lit(17)) === 0)
        .select("doc_id")
      taken.write.parquet(fx.taken)
      exportLeafListing(s, fx.out).write.parquet(fx.pre)
      // the cadence: lazy takedown filed, then the physical pass —
      // which reaches the shipped epochs through exportRoots
      graft.operators.Retraction.tombstoneDocs(s, taken, "doc_id", a)
      graft.operators.Retraction.applyTombstones(s, a)
    }
    fx
  }

  /** Driver-side (epoch, shard, name, size, mtime) listing of every
    * shard leaf file under an incremental export root — bounded
    * metadata (one row per data file), the byte-identity witness for
    * q_export_takedown.
    */
  private def exportLeafListing(s: SparkSession,
                                outRoot: String): DataFrame = {
    import s.implicits._
    val rows = for {
      e <- Option(new java.io.File(outRoot).listFiles())
        .getOrElse(Array.empty).toSeq
      if e.isDirectory && e.getName.startsWith("epoch=")
      sh <- Option(e.listFiles()).getOrElse(Array.empty).toSeq
      if sh.isDirectory && sh.getName.startsWith("shard=")
      f <- Option(sh.listFiles()).getOrElse(Array.empty).toSeq
      if f.isFile
    } yield (e.getName.stripPrefix("epoch=").toInt,
      sh.getName.stripPrefix("shard=").toInt,
      f.getName, f.length(), f.lastModified())
    rows.toDF("epoch", "shard", "name", "size", "mtime")
  }

  /** The q_ivf_recluster pristine SOURCE (buildOnce): the decayed index
    * (seed-frozen base write + drifted append into the frozen
    * geometry) plus the brute-force recall TRUTH — the truth depends
    * only on the corpus, never on the index layout, so it is computed
    * once here and the timed row pays recluster + serve + one
    * semi-join against it.
    */
  private def ivfReclusterSrc(s: SparkSession, d: String): java.io.File = {
    val root = new java.io.File(
      sys.props("java.io.tmpdir"),
      "graft_ivf_rc_src_" + d.replaceAll("[^A-Za-z0-9]", "_"))
    buildOnce(root) {
      val all = embs(s, d)
      val base = all.filter(pmod(col("vec_id"), lit(2)) === 0)
        .select("vec_id", "embedding")
      val drifted = all.filter(pmod(col("vec_id"), lit(2)) === 1)
        .select("vec_id", "embedding")
      val idx = new java.io.File(root, "idx").toString
      val ix = CellIndex(idx, Voronoi(nlist = 8), Exact)
      ix.write(base, "vec_id", "embedding")
      ix.append(drifted, "vec_id", "embedding")
      val corpus = base.unionByName(drifted)
      val queries = corpus.filter(pmod(col("vec_id"), lit(40)) === 0)
      Similarity.bruteForceBatchTopK(corpus, "vec_id", "embedding",
          queries, "vec_id", "embedding", k = 5)
        .select("query_id", "vec_id")
        .write.mode("overwrite")
        .parquet(new java.io.File(root, "truth").toString)
    }
    root
  }

  private val ivfReclusterPrefix = "graft_ivf_rc_work_"

  /** The q_ivf_recluster scratch pair — [[stageScratch]] /
    * [[consumeScratch]] over the decayed-index fixture (recluster
    * MUTATES the index by whole-root swap, so each timed pass needs a
    * fresh decayed copy). */
  private def stageIvfReclusterWork(s: SparkSession,
                                    d: String): java.io.File =
    stageScratch(ivfReclusterSrc(s, d), d, ivfReclusterPrefix)

  private def ivfReclusterWork(s: SparkSession, d: String): java.io.File =
    consumeScratch(d, ivfReclusterPrefix)(stageIvfReclusterWork(s, d))

  /** The q_pagerank_incremental store: the trade graph split into the
    * same two PAIR-DISJOINT batches as [[pprStoreFor]], folded by two
    * [[graft.operators.Graph.updatePageRankStore]] calls. No seed pin —
    * uniform teleport derives from the node set, and a batch that
    * introduces new nodes re-aims it (the correction the spec
    * exercises; the trade graph's batches here both cover all 25
    * nations, so the row prices the steady-state delta path).
    */
  private def pagerankStoreFor(s: SparkSession, d: String): String = {
    val root = new java.io.File(
      sys.props("java.io.tmpdir"),
      "graft_pr_store_" + d.replaceAll("[^A-Za-z0-9]", "_"))
    val store = new java.io.File(root, "st").toString
    buildOnce(root) {
      val e = Queries.tradeEdges(s, d)
      val cut = pmod(xxhash64(col("src"), col("dst")), lit(3))
      graft.operators.Graph.updatePageRankStore(s, store,
        e.where(cut < 2), "src", "dst", eps = 5e-4)
      graft.operators.Graph.updatePageRankStore(s, store,
        e.where(cut === 2), "src", "dst", eps = 5e-4)
    }
    store
  }

  /** The q_scd2_stored fixture: the orders history folded into the
    * partitioned SCD2 store as three version-ordered applies (the same
    * tertile cuts as q_scd2_incremental). Built once per sf dir
    * ([[buildOnce]]).
    */
  private def scd2StoreFor(s: SparkSession, d: String): String = {
    val root = new java.io.File(
      sys.props("java.io.tmpdir"),
      "graft_scd2_store_" + d.replaceAll("[^A-Za-z0-9]", "_"))
    val path = new java.io.File(root, "h").toString
    buildOnce(root) {
      val o = Tables.load(s, d, "orders")
      val keyCols = Seq("o_custkey")
      val attrs = Seq("o_orderstatus", "o_orderpriority")
      val mm = o.agg(min("o_orderkey"), max("o_orderkey")).collect().head
      val (lo, hi) = (mm.getLong(0), mm.getLong(1))
      val (t1, t2) = (lo + (hi - lo) / 3, lo + 2 * ((hi - lo) / 3))
      graft.operators.Merge.scd2WriteStored(
        o.where(col("o_orderkey") <= t1), path, keyCols, "o_orderkey",
        attrs)
      graft.operators.Merge.scd2ApplyStored(s, path,
        o.where(col("o_orderkey") > t1 && col("o_orderkey") <= t2),
        keyCols, "o_orderkey", attrs)
      graft.operators.Merge.scd2ApplyStored(s, path,
        o.where(col("o_orderkey") > t2), keyCols, "o_orderkey", attrs)
    }
    path
  }

  /** The daily order-count series behind q_cusum/q_changepoint. */
  private def dailyOrders(s: SparkSession, d: String): DataFrame =
    Tables.load(s, d, "orders")
      .groupBy(to_date(col("o_orderdate")).as("day"))
      .agg(count(lit(1)).as("v"))

  /** The two deterministic snapshot manifests behind q_manifest_diff*. */
  private def manifestOld(s: SparkSession, d: String): DataFrame =
    graft.operators.Versioning.manifest(
      docs(s, d).where(col("doc_id") % 7 =!= 0), "doc_id", "text")
  private def manifestNew(s: SparkSession, d: String): DataFrame =
    graft.operators.Versioning.manifest(
      docs(s, d).where(col("doc_id") % 5 =!= 0)
        .withColumn("text", when(col("doc_id") % 11 === 0,
          concat(col("text"), lit(" v2"))).otherwise(col("text"))),
      "doc_id", "text")

  /** Gate-funnel labels → trained LR → full-corpus scores: the shared
    * frame behind q_lr_distill and its AUC twin. Training runs on the
    * whole slice here (500–60k docs); at 100 TB the label+train side is a
    * [[graft.operators.Sampling.hashSplit]] sample and only scoring sees
    * the corpus.
    */
  private def lrDistillScores(s: SparkSession, d: String): DataFrame = {
    val labeled = docs(s, d).withColumn("y",
      corpusGates.map { case (_, c) => coalesce(c, lit(false)) }
        .reduce(_ && _).cast("int"))
    val w = graft.operators.Classifier.trainLogReg(labeled, "doc_id",
      "text", "y", buckets = 2048, iterations = 20, lr = 0.5)
    graft.operators.Classifier.scoreLogReg(labeled, "doc_id", "text", w,
      buckets = 2048)
  }

  /** Shared gate CTE for the corpus_filter_* twins — per-doc measures and
    * gate booleans p0..p4, each formula copied verbatim from the oracle
    * already hash-proven for its own query (text_stats / text_langid /
    * text_repetition / text_pii).
    */
  private val corpusGatesSqlPrefix: String =
    """WITH t AS (SELECT doc_id, text, trim(text) AS tt FROM documents),
      |m AS (
      |  SELECT doc_id, text,
      |    CASE WHEN length(tt) = 0 THEN 0
      |      ELSE len(string_split_regex(tt, '\s+')) END AS n_tokens,
      |    CASE WHEN length(text) = 0 THEN 0.0
      |      ELSE CAST(length(regexp_replace(text,
      |        '[^.,;:!?''"()\[\]-]', '', 'g')) AS DOUBLE) / length(text)
      |      END AS punct_ratio,
      |    CASE WHEN length(text) = 0 THEN 0.0
      |      ELSE CAST(length(regexp_replace(text,
      |        '[^\p{L}]', '', 'g')) AS DOUBLE) / length(text)
      |      END AS alpha_ratio,
      |    CASE WHEN length(tt) = 0 THEN 0.0
      |      ELSE CAST(len(list_filter(string_split_regex(lower(tt), '\s+'),
      |        x -> list_contains(['the','a','an','and','or','of','to','in',
      |          'is','it','for','on','with','as','at','by','be','this',
      |          'that','are'], x))) AS DOUBLE)
      |        / len(string_split_regex(lower(tt), '\s+')) END AS stop_ratio,
      |    string_split_regex(lower(tt), '\s+') AS tk,
      |    list_filter(string_split_regex(lower(tt), '\s+'), x -> x <> '')
      |      AS w,
      |    len(regexp_extract_all(text,
      |      '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS n_emails,
      |    len(regexp_extract_all(text,
      |      '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b')) AS n_ips,
      |    len(regexp_extract_all(text, '\b\d{3}[-. ]\d{3}[-. ]\d{4}\b')) +
      |    len(regexp_extract_all(regexp_replace(regexp_replace(text,
      |      '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '', 'g'),
      |      '\b\d{3}[-. ]\d{3}[-. ]\d{4}\b', '', 'g'),
      |      '\+?\d{9,15}')) AS n_phones
      |  FROM t),
      |m2 AS (
      |  SELECT *,
      |    len(list_filter(tk, x -> list_contains(
      |      ['the','and','of','to','is','with','that','this'], x))) AS s_en,
      |    len(list_filter(tk, x -> list_contains(
      |      ['der','die','und','das','ist','nicht','mit','ein'], x))) AS s_de,
      |    len(list_filter(tk, x -> list_contains(
      |      ['le','la','et','les','des','est','une','dans'], x))) AS s_fr,
      |    len(list_filter(tk, x -> list_contains(
      |      ['el','los','las','es','una','por','con','para'], x))) AS s_es,
      |    len(list_filter(tk, x -> list_contains(
      |      ['và','của','là','có','không','người','được','trong'], x)))
      |      AS s_vi,
      |    CASE WHEN len(w) >= 2 THEN
      |      list_transform(generate_series(1, len(w) - 1),
      |        i -> w[i] || ' ' || w[i + 1])
      |      ELSE CAST([] AS VARCHAR[]) END AS g2
      |  FROM m),
      |g AS (
      |  SELECT doc_id,
      |    (n_tokens BETWEEN 16 AND 512) AS p0,
      |    ((CASE
      |      WHEN length(regexp_replace(text, '[^\p{Han}]', '', 'g')) > 0
      |        THEN 'zh'
      |      WHEN s_en > 0 AND s_en >= greatest(s_de, s_fr, s_es, s_vi)
      |        THEN 'en'
      |      WHEN s_de > 0 AND s_de >= greatest(s_fr, s_es, s_vi) THEN 'de'
      |      WHEN s_fr > 0 AND s_fr >= greatest(s_es, s_vi) THEN 'fr'
      |      WHEN s_es > 0 AND s_es >= s_vi THEN 'es'
      |      WHEN s_vi > 0 THEN 'vi'
      |      ELSE 'und' END) = 'en') AS p1,
      |    (round(greatest(0.0,
      |      least(CAST(n_tokens AS DOUBLE) / 64.0, 1.0) * 0.3
      |      + least(stop_ratio * 4.0, 1.0) * 0.3
      |      + alpha_ratio * 0.4
      |      - least(punct_ratio * 4.0, 1.0) * 0.2), 4) >= 0.5) AS p2,
      |    ((CASE WHEN len(g2) = 0 THEN 0.0
      |      ELSE 1.0 - CAST(len(list_distinct(g2)) AS DOUBLE) / len(g2)
      |      END) <= 0.2) AS p3,
      |    (n_emails + n_ips + n_phones = 0) AS p4
      |  FROM m2)""".stripMargin

  /** Split twin GENERATED from the same thresholds the operator computes
    * ([[graft.operators.Sampling.splitThresholds]]), so the integer cut
    * points can't drift between the engine and the oracle.
    */
  private val oracleHashSplit: String = {
    val thr = graft.operators.Sampling.splitThresholds(Seq(0.8, 0.1, 0.1))
    s"""SELECT doc_id,
       |  CASE WHEN (doc_id * 2654435761) % 4294967296 < ${thr(0)}
       |    THEN 'train'
       |  WHEN (doc_id * 2654435761) % 4294967296 < ${thr(1)}
       |    THEN 'val'
       |  ELSE 'test' END AS split
       |FROM documents ORDER BY doc_id""".stripMargin
  }

  /** The recursive-CTE closure over the ngram-Jaccard pair set — the
    * shared prefix of every component-family twin (`dedup_components`,
    * `dedup_components_incremental`, `dedup_provenance_lookup`): tokens
    * → 3-gram sets → Jaccard-thresholded pairs → symmetric edges →
    * reachability.
    */
  private val componentsClosureCte: String =
    """WITH RECURSIVE toks AS (
      |  SELECT doc_id, lang, n_chars // 64 AS nb,
      |         string_split_regex(lower(trim(text)), '\s+') AS tk
      |  FROM documents),
      |t AS (
      |  SELECT doc_id, lang, nb,
      |    list_distinct(list_transform(
      |      generate_series(1, greatest(len(tk) - 2, 0)),
      |      i -> array_to_string(list_slice(tk, i, i + 2), ' '))) AS ngrams
      |  FROM toks),
      |pairs AS (
      |  SELECT a.doc_id AS id_a, b.doc_id AS id_b
      |  FROM t a, t b
      |  WHERE a.doc_id < b.doc_id AND a.lang = b.lang AND a.nb = b.nb
      |    AND len(list_distinct(list_concat(a.ngrams, b.ngrams))) > 0
      |    AND CAST(len(list_intersect(a.ngrams, b.ngrams)) AS DOUBLE)
      |      / len(list_distinct(list_concat(a.ngrams, b.ngrams))) >= 0.5),
      |edges AS (
      |  SELECT id_a AS s, id_b AS d FROM pairs
      |  UNION
      |  SELECT id_b AS s, id_a AS d FROM pairs),
      |reach AS (
      |  SELECT s AS id, d AS r FROM edges
      |  UNION
      |  SELECT reach.id, e.d FROM reach JOIN edges e ON reach.r = e.s)""".stripMargin

  /** Shared by `dedup_components` and `dedup_components_incremental`:
    * both must produce the labels of the transitive closure over the
    * ngram-Jaccard pair set, so both hash against one recursive-CTE twin.
    */
  private val componentsOracleSql: String =
    componentsClosureCte +
      """
      |SELECT id, least(min(r), id) AS component FROM reach
      |GROUP BY id ORDER BY id""".stripMargin

  /** The `dedup_provenance_lookup` twin: the same closure, probed at the
    * smallest and largest labeled ids — each probe's full component
    * membership, exactly what two [[graft.operators.Components
    * .lookupMembers]] point-reads serve from the partitioned store.
    */
  private val provenanceOracleSql: String =
    componentsClosureCte +
      """,
      |closure AS (
      |  SELECT id, least(min(r), id) AS component FROM reach GROUP BY id),
      |probes AS (
      |  SELECT min(id) AS probe FROM closure
      |  UNION
      |  SELECT max(id) AS probe FROM closure)
      |SELECT p.probe, c.id, c.component
      |FROM probes p
      |JOIN closure pc ON pc.id = p.probe
      |JOIN closure c ON c.component = pc.component
      |ORDER BY p.probe, c.id""".stripMargin

  /** The `dedup_attribution` twin: the closure left-joined to every
    * document — canonical id = component for labeled docs, the doc's
    * own id otherwise.
    */
  private val attributionOracleSql: String =
    componentsClosureCte +
      """,
      |closure AS (
      |  SELECT id, least(min(r), id) AS component FROM reach GROUP BY id)
      |SELECT d.doc_id, coalesce(c.component, d.doc_id) AS canonical_id
      |FROM documents d LEFT JOIN closure c ON c.id = d.doc_id
      |ORDER BY d.doc_id""".stripMargin

  /** The three `dedup_clean_*` twins (r19): the same closure prefix as
    * `dedup_components`, with each survivor policy expressed over it —
    * greedy (drop every pair's id_b side), component minima, and the
    * quality-window representative (n_chars DESC, id tie-break). The
    * `reach` CTE goes unused by the greedy twin; DuckDB evaluates only
    * referenced CTEs.
    */
  private val cleanGreedyOracleSql: String =
    componentsClosureCte +
      """
        |SELECT doc_id FROM documents
        |WHERE doc_id NOT IN (SELECT id_b FROM pairs)
        |ORDER BY doc_id""".stripMargin

  private val cleanTransitiveOracleSql: String =
    componentsClosureCte +
      """,
        |closure AS (
        |  SELECT id, least(min(r), id) AS component FROM reach GROUP BY id)
        |SELECT doc_id FROM documents
        |WHERE doc_id NOT IN (SELECT id FROM closure WHERE id <> component)
        |ORDER BY doc_id""".stripMargin

  private val cleanBestOracleSql: String =
    componentsClosureCte +
      """,
        |closure AS (
        |  SELECT id, least(min(r), id) AS component FROM reach GROUP BY id),
        |members AS (
        |  SELECT c.id,
        |    row_number() OVER (PARTITION BY c.component
        |      ORDER BY d.n_chars DESC, c.id) AS rn
        |  FROM closure c JOIN documents d ON d.doc_id = c.id)
        |SELECT doc_id FROM documents
        |WHERE doc_id NOT IN (SELECT id FROM members WHERE rn <> 1)
        |ORDER BY doc_id""".stripMargin

  val oracles: Map[String, String] = Map(
    "q_hash_split" -> oracleHashSplit,
    // the r19 full-oracle flip of the clean family — pair set, closure,
    // and survivor policy all cross-engine-checked
    "dedup_clean_corpus" -> cleanGreedyOracleSql,
    "dedup_clean_transitive" -> cleanTransitiveOracleSql,
    "dedup_clean_best" -> cleanBestOracleSql,
    // the incremental store's census must equal the one-shot count —
    // the SAME oracle as the single-pass query
    "q_graph_triangles_incremental" ->
      Queries.oracles("q_graph_triangles"),
    // the moments face merges EXACTLY, so the sidecar serve must equal
    // a direct scan — same double formula on both engines (exact
    // integer sums below 2^53 make the arithmetic order-independent)
    "q_sketch_moments" ->
      """SELECT count(n_chars) AS vn,
        |  CAST(sum(n_chars) AS DOUBLE) AS vsum,
        |  CAST(min(n_chars) AS DOUBLE) AS vmin,
        |  CAST(max(n_chars) AS DOUBLE) AS vmax,
        |  ROUND(CAST(sum(n_chars) AS DOUBLE) / count(n_chars), 6) AS mean,
        |  ROUND(CAST(sum(CAST(n_chars AS BIGINT) * n_chars) AS DOUBLE)
        |      / count(n_chars)
        |    - (CAST(sum(n_chars) AS DOUBLE) / count(n_chars))
        |      * (CAST(sum(n_chars) AS DOUBLE) / count(n_chars)), 6)
        |    AS variance
        |FROM documents""".stripMargin,
    "q_sketch_moments_by_group" ->
      """SELECT source AS grp, count(n_chars) AS vn,
        |  CAST(sum(n_chars) AS DOUBLE) AS vsum,
        |  CAST(min(n_chars) AS DOUBLE) AS vmin,
        |  CAST(max(n_chars) AS DOUBLE) AS vmax,
        |  ROUND(CAST(sum(n_chars) AS DOUBLE) / count(n_chars), 6) AS mean,
        |  ROUND(CAST(sum(CAST(n_chars AS BIGINT) * n_chars) AS DOUBLE)
        |      / count(n_chars)
        |    - (CAST(sum(n_chars) AS DOUBLE) / count(n_chars))
        |      * (CAST(sum(n_chars) AS DOUBLE) / count(n_chars)), 6)
        |    AS variance
        |FROM documents GROUP BY source ORDER BY source""".stripMargin,
    // the bucketed layout must not change range-predicate membership:
    // the twin is the PLAIN table under the same value predicate
    "q_range_bucketed" ->
      """SELECT doc_id, n_chars FROM documents
        |WHERE n_chars >= 128 AND n_chars <= 256
        |ORDER BY doc_id""".stripMargin,
    // exact novelty of the arriving batch vs the indexed corpus text —
    // NOT EXISTS (null-safe like the gate: a null text never equals, so
    // null-keyed rows stay novel on both engines)
    "q_bloom_gate" ->
      """SELECT b.doc_id FROM documents b
        |WHERE b.doc_id % 5 = 0
        |  AND NOT EXISTS (SELECT 1 FROM documents c
        |    WHERE c.doc_id % 5 <> 0 AND c.text = b.text)
        |ORDER BY b.doc_id""".stripMargin,
    "q_exact_quantiles" ->
      """SELECT event_type,
        |  ROUND(quantile_cont(value, 0.5), 6) AS p50,
        |  ROUND(quantile_cont(value, 0.9), 6) AS p90,
        |  ROUND(quantile_cont(value, 0.99), 6) AS p99
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    "corpus_filter_funnel" -> (corpusGatesSqlPrefix +
      """
        |SELECT CAST(stage AS INT) AS stage, gate, surviving FROM (
        |  SELECT 0 AS stage, 'total' AS gate, count(*) AS surviving FROM g
        |  UNION ALL SELECT 1, 'tokens',
        |    count(*) FILTER (WHERE p0) FROM g
        |  UNION ALL SELECT 2, 'lang',
        |    count(*) FILTER (WHERE p0 AND p1) FROM g
        |  UNION ALL SELECT 3, 'quality',
        |    count(*) FILTER (WHERE p0 AND p1 AND p2) FROM g
        |  UNION ALL SELECT 4, 'repetition',
        |    count(*) FILTER (WHERE p0 AND p1 AND p2 AND p3) FROM g
        |  UNION ALL SELECT 5, 'pii',
        |    count(*) FILTER (WHERE p0 AND p1 AND p2 AND p3 AND p4) FROM g)
        |ORDER BY stage""".stripMargin),
    "corpus_filter_kept" -> (corpusGatesSqlPrefix +
      """
        |SELECT doc_id FROM g
        |WHERE p0 AND p1 AND p2 AND p3 AND p4 ORDER BY doc_id""".stripMargin),
    // identical semantics to the window-function sessionization
    "q_stateful_sessions" -> Queries.oracles("q_sessionize"),
    // centroid twin: 1-based generate_series vs Spark's 0-based posexplode
    // — the dim index only groups, never surfaces, so the offset is moot
    "q_emb_centroid" ->
      """WITH e AS (
        |  SELECT vec_id % 4 AS grp, i AS dim, embedding[i] AS x
        |  FROM embeddings,
        |    LATERAL unnest(generate_series(1, len(embedding))) AS t(i)),
        |m AS (SELECT grp, dim, avg(x) AS m FROM e GROUP BY grp, dim)
        |SELECT grp, count(*) AS n_dims,
        |  round(sqrt(sum(m * m)), 6) AS centroid_norm,
        |  round(sum(m), 6) AS centroid_sum
        |FROM m GROUP BY grp ORDER BY grp""".stripMargin,
    // anomaly-screen twin: identical Welch arithmetic, batch slice vs
    // the whole table (the fixture sidecar holds every document)
    "q_moments_anomaly" ->
      """WITH b AS (SELECT count(n_chars) AS n_batch,
        |    sum(CAST(n_chars AS DOUBLE)) AS bs,
        |    sum(CAST(n_chars AS DOUBLE) * n_chars) AS bs2
        |  FROM documents WHERE doc_id % 5 = 0),
        |c AS (SELECT count(n_chars) AS n_corpus,
        |    sum(CAST(n_chars AS DOUBLE)) AS cs,
        |    sum(CAST(n_chars AS DOUBLE) * n_chars) AS cs2
        |  FROM documents),
        |z AS (SELECT n_batch, n_corpus,
        |    bs / n_batch AS mb, cs / n_corpus AS mc,
        |    (bs / n_batch - cs / n_corpus)
        |      / sqrt((bs2 / n_batch - (bs / n_batch) * (bs / n_batch))
        |          / n_batch
        |        + (cs2 / n_corpus - (cs / n_corpus) * (cs / n_corpus))
        |          / n_corpus) AS wz
        |  FROM b, c)
        |SELECT n_batch, n_corpus, round(mb, 6) AS mean_batch,
        |  round(mc, 6) AS mean_corpus, round(wz, 6) AS welch_z,
        |  abs(wz) > 4.0 AS anomalous
        |FROM z""".stripMargin,
    // drift twin: identical Welch arithmetic from exact window sums
    // (population variance, same operation order)
    "q_moments_drift" ->
      """WITH e AS (SELECT CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day,
        |    value FROM events),
        |a AS (SELECT CAST(count(DISTINCT day) AS BIGINT)
        |        AS a_groups_covered,
        |      CAST(count(value) AS BIGINT) AS n_a,
        |      sum(value) AS sa, sum(value * value) AS sa2
        |    FROM e WHERE day BETWEEN '2024-01-07' AND '2024-01-10'),
        |b AS (SELECT CAST(count(DISTINCT day) AS BIGINT)
        |        AS b_groups_covered,
        |      CAST(count(value) AS BIGINT) AS n_b,
        |      sum(value) AS sb, sum(value * value) AS sb2
        |    FROM e WHERE day BETWEEN '2024-01-11' AND '2024-01-13')
        |SELECT a_groups_covered, b_groups_covered, n_a, n_b,
        |  round(sa / n_a, 6) AS mean_a,
        |  round(sb / n_b, 6) AS mean_b,
        |  round((sa / n_a - sb / n_b) /
        |    sqrt((sa2 / n_a - (sa / n_a) * (sa / n_a)) / n_a
        |       + (sb2 / n_b - (sb / n_b) * (sb / n_b)) / n_b), 6)
        |    AS welch_z
        |FROM a, b""".stripMargin,
    // Poisson-bootstrap twin: identical per-(row, replicate) hash →
    // uniform → inverse-CDF count (same decimal literals), exact
    // DECIMAL sums per replicate, same 6dp rounding BEFORE the
    // continuous-quantile interpolation (quantile_cont and Spark's
    // percentile share the (n-1)p linear-interp definition)
    "q_bootstrap_ci" ->
      """WITH base AS (
        |  SELECT o_orderkey AS id,
        |    CAST(o_totalprice AS DECIMAL(18,2)) AS v FROM orders),
        |h1 AS (
        |  SELECT r, v,
        |    (id * 2654435761 + r * 40503) % 4294967296 AS a
        |  FROM base CROSS JOIN range(0, 64) t(r)),
        |h2 AS (SELECT r, v, xor(a, a >> 16) AS b FROM h1),
        |h3 AS (SELECT r, v, (b * 1540483477) % 4294967296 AS c FROM h2),
        |draws AS (
        |  SELECT r, v, xor(c, c >> 13) / 4294967296.0 AS u FROM h3),
        |ks AS (
        |  SELECT r, v,
        |    CASE WHEN u < 0.36787944117144233 THEN 0
        |         WHEN u < 0.7357588823428847 THEN 1
        |         WHEN u < 0.9196986029286058 THEN 2
        |         WHEN u < 0.9810118431238463 THEN 3
        |         WHEN u < 0.9963401531726563 THEN 4
        |         WHEN u < 0.9994058151824183 THEN 5
        |         WHEN u < 0.999916758850712 THEN 6
        |         WHEN u < 0.9999897508033253 THEN 7
        |         WHEN u < 0.999998874797402 THEN 8
        |         ELSE 9 END AS k
        |  FROM draws),
        |means AS (
        |  SELECT r, ROUND(CAST(SUM(k * v) AS DOUBLE)
        |    / NULLIF(SUM(k), 0), 6) AS m
        |  FROM ks GROUP BY r),
        |pt AS (
        |  SELECT COUNT(*) AS n_rows,
        |    ROUND(CAST(SUM(v) AS DOUBLE) / COUNT(*), 6) AS point_mean
        |  FROM base)
        |SELECT 64 AS replicates, n_rows, point_mean,
        |  ROUND(quantile_cont(m, 0.025), 6) AS ci_lo,
        |  ROUND(quantile_cont(m, 0.5), 6) AS ci_median,
        |  ROUND(quantile_cont(m, 0.975), 6) AS ci_hi
        |FROM means CROSS JOIN pt
        |GROUP BY n_rows, point_mean""".stripMargin,

    // A/B-difference twin: both cohort means from the same draw table,
    // ONE rounding of the difference (matching the Spark expression),
    // quantile over the per-replicate differences
    "q_bootstrap_diff" ->
      """WITH base AS (
        |  SELECT o_orderpriority AS c, o_orderkey AS id,
        |    CAST(o_totalprice AS DECIMAL(18,2)) AS v FROM orders
        |  WHERE o_orderpriority IN ('1-URGENT', '5-LOW')),
        |h1 AS (
        |  SELECT c, r, v,
        |    (id * 2654435761 + r * 40503) % 4294967296 AS a
        |  FROM base CROSS JOIN range(0, 64) t(r)),
        |h2 AS (SELECT c, r, v, xor(a, a >> 16) AS b FROM h1),
        |h3 AS (SELECT c, r, v, (b * 1540483477) % 4294967296 AS cc
        |  FROM h2),
        |draws AS (
        |  SELECT c, r, v, xor(cc, cc >> 13) / 4294967296.0 AS u FROM h3),
        |ks AS (
        |  SELECT c, r, v,
        |    CASE WHEN u < 0.36787944117144233 THEN 0
        |         WHEN u < 0.7357588823428847 THEN 1
        |         WHEN u < 0.9196986029286058 THEN 2
        |         WHEN u < 0.9810118431238463 THEN 3
        |         WHEN u < 0.9963401531726563 THEN 4
        |         WHEN u < 0.9994058151824183 THEN 5
        |         WHEN u < 0.999916758850712 THEN 6
        |         WHEN u < 0.9999897508033253 THEN 7
        |         WHEN u < 0.999998874797402 THEN 8
        |         ELSE 9 END AS k
        |  FROM draws),
        |diffs AS (
        |  SELECT r, ROUND(
        |    CAST(SUM(CASE WHEN c = '1-URGENT' THEN k * v END) AS DOUBLE)
        |      / NULLIF(SUM(CASE WHEN c = '1-URGENT' THEN k END), 0)
        |    - CAST(SUM(CASE WHEN c = '5-LOW' THEN k * v END) AS DOUBLE)
        |      / NULLIF(SUM(CASE WHEN c = '5-LOW' THEN k END), 0), 6)
        |    AS m
        |  FROM ks GROUP BY r),
        |pt AS (
        |  SELECT
        |    COUNT(CASE WHEN c = '1-URGENT' THEN 1 END) AS n_a,
        |    COUNT(CASE WHEN c = '5-LOW' THEN 1 END) AS n_b,
        |    ROUND(
        |      CAST(SUM(CASE WHEN c = '1-URGENT' THEN v END) AS DOUBLE)
        |        / SUM(CASE WHEN c = '1-URGENT' THEN 1 END)
        |      - CAST(SUM(CASE WHEN c = '5-LOW' THEN v END) AS DOUBLE)
        |        / SUM(CASE WHEN c = '5-LOW' THEN 1 END), 6)
        |      AS point_diff
        |  FROM base)
        |SELECT 64 AS replicates, n_a, n_b, point_diff,
        |  ROUND(quantile_cont(m, 0.025), 6) AS ci_lo,
        |  ROUND(quantile_cont(m, 0.5), 6) AS ci_median,
        |  ROUND(quantile_cont(m, 0.975), 6) AS ci_hi
        |FROM diffs CROSS JOIN pt
        |GROUP BY n_a, n_b, point_diff""".stripMargin,

    // grouped-bootstrap twin: group keys ride the replicate aggregate;
    // identical draw arithmetic
    "q_bootstrap_ci_by_group" ->
      """WITH base AS (
        |  SELECT o_orderpriority AS g, o_orderkey AS id,
        |    CAST(o_totalprice AS DECIMAL(18,2)) AS v FROM orders),
        |h1 AS (
        |  SELECT g, r, v,
        |    (id * 2654435761 + r * 40503) % 4294967296 AS a
        |  FROM base CROSS JOIN range(0, 64) t(r)),
        |h2 AS (SELECT g, r, v, xor(a, a >> 16) AS b FROM h1),
        |h3 AS (SELECT g, r, v, (b * 1540483477) % 4294967296 AS c
        |  FROM h2),
        |draws AS (
        |  SELECT g, r, v, xor(c, c >> 13) / 4294967296.0 AS u FROM h3),
        |ks AS (
        |  SELECT g, r, v,
        |    CASE WHEN u < 0.36787944117144233 THEN 0
        |         WHEN u < 0.7357588823428847 THEN 1
        |         WHEN u < 0.9196986029286058 THEN 2
        |         WHEN u < 0.9810118431238463 THEN 3
        |         WHEN u < 0.9963401531726563 THEN 4
        |         WHEN u < 0.9994058151824183 THEN 5
        |         WHEN u < 0.999916758850712 THEN 6
        |         WHEN u < 0.9999897508033253 THEN 7
        |         WHEN u < 0.999998874797402 THEN 8
        |         ELSE 9 END AS k
        |  FROM draws),
        |means AS (
        |  SELECT g, r, ROUND(CAST(SUM(k * v) AS DOUBLE)
        |    / NULLIF(SUM(k), 0), 6) AS m
        |  FROM ks GROUP BY g, r),
        |pt AS (
        |  SELECT g, COUNT(*) AS n_rows,
        |    ROUND(CAST(SUM(v) AS DOUBLE) / COUNT(*), 6) AS point_mean
        |  FROM base GROUP BY g),
        |ci AS (
        |  SELECT g,
        |    ROUND(quantile_cont(m, 0.025), 6) AS ci_lo,
        |    ROUND(quantile_cont(m, 0.5), 6) AS ci_median,
        |    ROUND(quantile_cont(m, 0.975), 6) AS ci_hi
        |  FROM means GROUP BY g)
        |SELECT ci.g AS o_orderpriority, 64 AS replicates, n_rows,
        |  point_mean, ci_lo, ci_median, ci_hi
        |FROM ci JOIN pt ON ci.g = pt.g
        |ORDER BY o_orderpriority""".stripMargin,

    // bootstrap-quantile twin: same draw chain, then the type-1 cut —
    // a running-weight window ordered (v, id) and the integer-exact
    // `cum * qDen >= tot * qNum` threshold; the point estimate is the
    // sentinel replicate r = -1 with weight 1, exactly as in Spark
    "q_bootstrap_quantile" ->
      """WITH base AS (
        |  SELECT o_orderkey AS id,
        |    CAST(o_totalprice AS DECIMAL(18,2)) AS v FROM orders),
        |h1 AS (
        |  SELECT r, id, v,
        |    (id * 2654435761 + r * 40503) % 4294967296 AS a
        |  FROM base CROSS JOIN range(0, 64) t(r)),
        |h2 AS (SELECT r, id, v, xor(a, a >> 16) AS b FROM h1),
        |h3 AS (SELECT r, id, v, (b * 1540483477) % 4294967296 AS c
        |  FROM h2),
        |draws AS (
        |  SELECT r, id, v, xor(c, c >> 13) / 4294967296.0 AS u FROM h3),
        |ks AS (
        |  SELECT r, id, v,
        |    CASE WHEN u < 0.36787944117144233 THEN 0
        |         WHEN u < 0.7357588823428847 THEN 1
        |         WHEN u < 0.9196986029286058 THEN 2
        |         WHEN u < 0.9810118431238463 THEN 3
        |         WHEN u < 0.9963401531726563 THEN 4
        |         WHEN u < 0.9994058151824183 THEN 5
        |         WHEN u < 0.999916758850712 THEN 6
        |         WHEN u < 0.9999897508033253 THEN 7
        |         WHEN u < 0.999998874797402 THEN 8
        |         ELSE 9 END AS k
        |  FROM draws),
        |u AS (
        |  SELECT r, id, v, k FROM ks
        |  UNION ALL SELECT -1 AS r, id, v, 1 AS k FROM base),
        |c AS (
        |  SELECT r, v, k,
        |    SUM(k) OVER (PARTITION BY r ORDER BY v, id
        |      ROWS UNBOUNDED PRECEDING) AS cum,
        |    SUM(k) OVER (PARTITION BY r) AS tot
        |  FROM u),
        |q AS (
        |  SELECT r, MIN(v) AS qv, MAX(tot) AS t
        |  FROM c WHERE tot > 0 AND cum * 2 >= tot * 1
        |  GROUP BY r),
        |pt AS (
        |  SELECT ROUND(CAST(qv AS DOUBLE), 6) AS point_q,
        |    CAST(t AS BIGINT) AS n_rows
        |  FROM q WHERE r = -1)
        |SELECT 64 AS replicates, n_rows, point_q,
        |  ROUND(quantile_cont(CAST(qv AS DOUBLE), 0.025), 6) AS ci_lo,
        |  ROUND(quantile_cont(CAST(qv AS DOUBLE), 0.5), 6) AS ci_median,
        |  ROUND(quantile_cont(CAST(qv AS DOUBLE), 0.975), 6) AS ci_hi
        |FROM q CROSS JOIN pt WHERE r >= 0
        |GROUP BY n_rows, point_q""".stripMargin,

    // grouped bootstrap-quantile twin: the type-1 cut windowed by
    // (group, replicate); point estimate = the sentinel replicate per
    // group
    "q_bootstrap_quantile_by_group" ->
      """WITH base AS (
        |  SELECT o_orderpriority AS g, o_orderkey AS id,
        |    CAST(o_totalprice AS DECIMAL(18,2)) AS v FROM orders),
        |h1 AS (
        |  SELECT g, r, id, v,
        |    (id * 2654435761 + r * 40503) % 4294967296 AS a
        |  FROM base CROSS JOIN range(0, 64) t(r)),
        |h2 AS (SELECT g, r, id, v, xor(a, a >> 16) AS b FROM h1),
        |h3 AS (SELECT g, r, id, v, (b * 1540483477) % 4294967296 AS c
        |  FROM h2),
        |draws AS (
        |  SELECT g, r, id, v, xor(c, c >> 13) / 4294967296.0 AS u
        |  FROM h3),
        |ks AS (
        |  SELECT g, r, id, v,
        |    CASE WHEN u < 0.36787944117144233 THEN 0
        |         WHEN u < 0.7357588823428847 THEN 1
        |         WHEN u < 0.9196986029286058 THEN 2
        |         WHEN u < 0.9810118431238463 THEN 3
        |         WHEN u < 0.9963401531726563 THEN 4
        |         WHEN u < 0.9994058151824183 THEN 5
        |         WHEN u < 0.999916758850712 THEN 6
        |         WHEN u < 0.9999897508033253 THEN 7
        |         WHEN u < 0.999998874797402 THEN 8
        |         ELSE 9 END AS k
        |  FROM draws),
        |u AS (
        |  SELECT g, r, id, v, k FROM ks
        |  UNION ALL SELECT g, -1 AS r, id, v, 1 AS k FROM base),
        |c AS (
        |  SELECT g, r, v, k,
        |    SUM(k) OVER (PARTITION BY g, r ORDER BY v, id
        |      ROWS UNBOUNDED PRECEDING) AS cum,
        |    SUM(k) OVER (PARTITION BY g, r) AS tot
        |  FROM u),
        |q AS (
        |  SELECT g, r, MIN(v) AS qv, MAX(tot) AS t
        |  FROM c WHERE tot > 0 AND cum * 2 >= tot * 1
        |  GROUP BY g, r),
        |pt AS (
        |  SELECT g, ROUND(CAST(qv AS DOUBLE), 6) AS point_q,
        |    CAST(t AS BIGINT) AS n_rows
        |  FROM q WHERE r = -1),
        |ci AS (
        |  SELECT g,
        |    ROUND(quantile_cont(CAST(qv AS DOUBLE), 0.025), 6) AS ci_lo,
        |    ROUND(quantile_cont(CAST(qv AS DOUBLE), 0.5), 6) AS ci_median,
        |    ROUND(quantile_cont(CAST(qv AS DOUBLE), 0.975), 6) AS ci_hi
        |  FROM q WHERE r >= 0 GROUP BY g)
        |SELECT ci.g AS o_orderpriority, 64 AS replicates, n_rows,
        |  point_q, ci_lo, ci_median, ci_hi
        |FROM ci JOIN pt ON ci.g = pt.g
        |ORDER BY o_orderpriority""".stripMargin,

    // quantile-difference twin: both cohorts' type-1 cuts from the
    // same draw table (windows partitioned by (cohort, replicate)),
    // one rounding of the per-replicate difference of doubles
    "q_bootstrap_quantile_diff" ->
      """WITH base AS (
        |  SELECT o_orderpriority AS c, o_orderkey AS id,
        |    CAST(o_totalprice AS DECIMAL(18,2)) AS v FROM orders
        |  WHERE o_orderpriority IN ('1-URGENT', '5-LOW')),
        |h1 AS (
        |  SELECT c, r, id, v,
        |    (id * 2654435761 + r * 40503) % 4294967296 AS a
        |  FROM base CROSS JOIN range(0, 64) t(r)),
        |h2 AS (SELECT c, r, id, v, xor(a, a >> 16) AS b FROM h1),
        |h3 AS (SELECT c, r, id, v, (b * 1540483477) % 4294967296 AS cc
        |  FROM h2),
        |draws AS (
        |  SELECT c, r, id, v, xor(cc, cc >> 13) / 4294967296.0 AS u
        |  FROM h3),
        |ks AS (
        |  SELECT c, r, id, v,
        |    CASE WHEN u < 0.36787944117144233 THEN 0
        |         WHEN u < 0.7357588823428847 THEN 1
        |         WHEN u < 0.9196986029286058 THEN 2
        |         WHEN u < 0.9810118431238463 THEN 3
        |         WHEN u < 0.9963401531726563 THEN 4
        |         WHEN u < 0.9994058151824183 THEN 5
        |         WHEN u < 0.999916758850712 THEN 6
        |         WHEN u < 0.9999897508033253 THEN 7
        |         WHEN u < 0.999998874797402 THEN 8
        |         ELSE 9 END AS k
        |  FROM draws),
        |u AS (
        |  SELECT c, r, id, v, k FROM ks
        |  UNION ALL SELECT c, -1 AS r, id, v, 1 AS k FROM base),
        |cw AS (
        |  SELECT c, r, v, k,
        |    SUM(k) OVER (PARTITION BY c, r ORDER BY v, id
        |      ROWS UNBOUNDED PRECEDING) AS cum,
        |    SUM(k) OVER (PARTITION BY c, r) AS tot
        |  FROM u),
        |q AS (
        |  SELECT c, r, MIN(v) AS qv, MAX(tot) AS t
        |  FROM cw WHERE tot > 0 AND cum * 2 >= tot * 1
        |  GROUP BY c, r),
        |p AS (
        |  SELECT r,
        |    ROUND(CAST(MAX(CASE WHEN c = '1-URGENT' THEN qv END)
        |        AS DOUBLE) -
        |      CAST(MAX(CASE WHEN c = '5-LOW' THEN qv END) AS DOUBLE), 6)
        |      AS m,
        |    MAX(CASE WHEN c = '1-URGENT' THEN t END) AS ta,
        |    MAX(CASE WHEN c = '5-LOW' THEN t END) AS tb
        |  FROM q GROUP BY r),
        |pt AS (
        |  SELECT m AS point_diff,
        |    CAST(COALESCE(ta, 0) AS BIGINT) AS n_a,
        |    CAST(COALESCE(tb, 0) AS BIGINT) AS n_b
        |  FROM p WHERE r = -1)
        |SELECT 64 AS replicates, n_a, n_b, point_diff,
        |  ROUND(quantile_cont(m, 0.025), 6) AS ci_lo,
        |  ROUND(quantile_cont(m, 0.5), 6) AS ci_median,
        |  ROUND(quantile_cont(m, 0.975), 6) AS ci_hi
        |FROM p CROSS JOIN pt WHERE r >= 0
        |GROUP BY n_a, n_b, point_diff""".stripMargin,

    // bootstrap-ratio twin: Σ(k·num)/Σ(k·den) per replicate from the
    // same draw table, one rounding of the quotient, decimal sums cast
    // to double only at the division (matching the Spark expression)
    "q_bootstrap_ratio" ->
      """WITH base AS (
        |  SELECT l_orderkey * 8 + l_linenumber AS id,
        |    CAST(l_extendedprice AS DECIMAL(18,2)) AS v,
        |    CAST(l_quantity AS DECIMAL(18,2)) AS v2 FROM lineitem),
        |h1 AS (
        |  SELECT r, v, v2,
        |    (id * 2654435761 + r * 40503) % 4294967296 AS a
        |  FROM base CROSS JOIN range(0, 64) t(r)),
        |h2 AS (SELECT r, v, v2, xor(a, a >> 16) AS b FROM h1),
        |h3 AS (SELECT r, v, v2, (b * 1540483477) % 4294967296 AS c
        |  FROM h2),
        |draws AS (
        |  SELECT r, v, v2, xor(c, c >> 13) / 4294967296.0 AS u FROM h3),
        |ks AS (
        |  SELECT r, v, v2,
        |    CASE WHEN u < 0.36787944117144233 THEN 0
        |         WHEN u < 0.7357588823428847 THEN 1
        |         WHEN u < 0.9196986029286058 THEN 2
        |         WHEN u < 0.9810118431238463 THEN 3
        |         WHEN u < 0.9963401531726563 THEN 4
        |         WHEN u < 0.9994058151824183 THEN 5
        |         WHEN u < 0.999916758850712 THEN 6
        |         WHEN u < 0.9999897508033253 THEN 7
        |         WHEN u < 0.999998874797402 THEN 8
        |         ELSE 9 END AS k
        |  FROM draws),
        |means AS (
        |  SELECT r, ROUND(CAST(SUM(k * v) AS DOUBLE) /
        |    NULLIF(CAST(SUM(k * v2) AS DOUBLE), 0), 6) AS m
        |  FROM ks GROUP BY r),
        |pt AS (
        |  SELECT COUNT(*) AS n_rows,
        |    ROUND(CAST(SUM(v) AS DOUBLE) /
        |      NULLIF(CAST(SUM(v2) AS DOUBLE), 0), 6) AS point_ratio
        |  FROM base)
        |SELECT 64 AS replicates, n_rows, point_ratio,
        |  ROUND(quantile_cont(m, 0.025), 6) AS ci_lo,
        |  ROUND(quantile_cont(m, 0.5), 6) AS ci_median,
        |  ROUND(quantile_cont(m, 0.975), 6) AS ci_hi
        |FROM means CROSS JOIN pt
        |GROUP BY n_rows, point_ratio""".stripMargin,

    // priority-sampling twin: identical priority arithmetic (w divided
    // by the scramble-uniform), identical (priority desc, id) ranking,
    // tau = the (k+1)-th priority, HT weight = greatest(w, tau)
    "q_priority_sample" ->
      """WITH p AS (
        |  SELECT o_orderkey, o_totalprice,
        |    o_totalprice / (((o_orderkey * 2654435761) % 4294967296 + 1)
        |      / 4294967296.0) AS q
        |  FROM orders WHERE o_totalprice > 0),
        |r AS (SELECT *, row_number() OVER (ORDER BY q DESC, o_orderkey)
        |        AS rn FROM p),
        |t AS (SELECT coalesce(max(CASE WHEN rn = 513 THEN q END), 0.0)
        |        AS tau FROM r)
        |SELECT o_orderkey, o_totalprice,
        |  round(greatest(o_totalprice, tau), 6) AS ht_weight
        |FROM r, t WHERE rn <= 512 ORDER BY o_orderkey""".stripMargin,
    // per-stratum priority twin: same arithmetic with the ranking and
    // the (k+1)-th-priority threshold partitioned by the class
    "q_priority_sample_by_class" ->
      """WITH p AS (
        |  SELECT o_orderkey, o_orderpriority, o_totalprice,
        |    o_totalprice / (((o_orderkey * 2654435761) % 4294967296 + 1)
        |      / 4294967296.0) AS q
        |  FROM orders WHERE o_totalprice > 0),
        |r AS (SELECT *, row_number() OVER (PARTITION BY o_orderpriority
        |        ORDER BY q DESC, o_orderkey) AS rn FROM p),
        |t AS (SELECT o_orderpriority,
        |        coalesce(max(CASE WHEN rn = 65 THEN q END), 0.0) AS tau
        |      FROM r GROUP BY 1)
        |SELECT o_orderkey, o_orderpriority, o_totalprice,
        |  round(greatest(o_totalprice, tau), 6) AS ht_weight
        |FROM r JOIN t USING (o_orderpriority)
        |WHERE rn <= 64 ORDER BY o_orderkey""".stripMargin,
    // deterministic sampling twin: the scramble is plain integer
    // arithmetic, so the SAME ranking runs in both engines
    "q_stratified_sample" ->
      """SELECT doc_id, lang FROM (
        |  SELECT doc_id, lang,
        |    row_number() OVER (PARTITION BY lang
        |      ORDER BY (doc_id * 2654435761) % 4294967296, doc_id) AS rn
        |  FROM documents)
        |WHERE rn <= 20 ORDER BY doc_id""".stripMargin,
    // chunking twin: same chunk-count arithmetic (1 + ceil-div), same
    // inclusive word slices (stride 56 = 64 - 8)
    "q_chunk_windows" ->
      """WITH w AS (
        |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS words
        |  FROM documents),
        |n AS (
        |  SELECT doc_id, words,
        |    1 + (greatest(len(words) - 64, 0) + 55) // 56 AS n_chunks
        |  FROM w),
        |c AS (
        |  SELECT doc_id, unnest(generate_series(0, n_chunks - 1)) AS k,
        |    words FROM n)
        |SELECT doc_id, CAST(k AS INT) AS chunk_idx,
        |  array_to_string(words[k * 56 + 1 : k * 56 + 64], ' ')
        |    AS chunk_text,
        |  CAST(len(words[k * 56 + 1 : k * 56 + 64]) AS BIGINT)
        |    AS n_chunk_tokens
        |FROM c ORDER BY doc_id, chunk_idx""".stripMargin,
    // chunk-BM25 twin: the 32/0 chunking CTE feeding the BM25 CTE keyed
    // by chunk_uid; same idf/decimal-sum arithmetic as q_bm25_topk
    "q_chunk_bm25" ->
      """WITH w AS (
        |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS words
        |  FROM documents),
        |n AS (
        |  SELECT doc_id, words,
        |    1 + (greatest(len(words) - 32, 0) + 31) // 32 AS n_chunks
        |  FROM w),
        |c AS (
        |  SELECT doc_id, unnest(generate_series(0, n_chunks - 1)) AS k,
        |    words FROM n),
        |ch AS (
        |  SELECT doc_id * 1000 + k AS chunk_uid, doc_id,
        |    CAST(k AS INT) AS chunk_idx,
        |    array_to_string(words[k * 32 + 1 : k * 32 + 32], ' ')
        |      AS chunk_text
        |  FROM c),
        |toks AS (
        |  SELECT chunk_uid, unnest(list_filter(
        |    string_split_regex(lower(trim(chunk_text)), '\s+'),
        |    x -> x <> '')) AS token
        |  FROM ch),
        |lens AS (
        |  SELECT chunk_uid, count(*) AS blen FROM toks GROUP BY chunk_uid),
        |stats AS (
        |  SELECT count(*) AS n_docs,
        |    avg(coalesce(blen, 0)) AS avgdl
        |  FROM ch LEFT JOIN lens USING (chunk_uid)),
        |tf AS (
        |  SELECT chunk_uid, token, count(*) AS tfreq FROM toks
        |  WHERE token IN ('hash', 'join', 'vector')
        |  GROUP BY chunk_uid, token),
        |dfreq AS (SELECT token, count(*) AS dfc FROM tf GROUP BY token),
        |scored AS (
        |  SELECT chunk_uid,
        |    ln(1.0 + (n_docs - dfc + 0.5) / (dfc + 0.5)) *
        |      (tfreq * (1.2 + 1.0)) /
        |      (tfreq + 1.2 * (0.25 + 0.75 * blen / avgdl)) AS term_score
        |  FROM tf JOIN dfreq USING (token) JOIN lens USING (chunk_uid)
        |  CROSS JOIN stats),
        |agg AS (
        |  SELECT chunk_uid,
        |    CAST(sum(CAST(round(term_score, 6) AS DECIMAL(18,6)))
        |      AS DOUBLE) AS bm25
        |  FROM scored GROUP BY chunk_uid),
        |topk AS (
        |  SELECT chunk_uid, bm25 FROM agg
        |  ORDER BY bm25 DESC, chunk_uid LIMIT 20)
        |SELECT chunk_uid, doc_id, chunk_idx, bm25
        |FROM topk JOIN ch USING (chunk_uid) ORDER BY chunk_uid""".stripMargin,
    // boilerplate twin: the chunking CTE + a HAVING-filtered aggregate
    "q_chunk_boilerplate" ->
      """WITH w AS (
        |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS words
        |  FROM documents),
        |n AS (
        |  SELECT doc_id, words,
        |    1 + (greatest(len(words) - 64, 0) + 55) // 56 AS n_chunks
        |  FROM w),
        |c AS (
        |  SELECT doc_id, unnest(generate_series(0, n_chunks - 1)) AS k,
        |    words FROM n),
        |ch AS (
        |  SELECT doc_id,
        |    array_to_string(words[k * 56 + 1 : k * 56 + 64], ' ')
        |      AS chunk_text
        |  FROM c)
        |SELECT min(doc_id) AS first_doc,
        |  count(*) AS n_occurrences,
        |  count(DISTINCT doc_id) AS n_docs,
        |  CAST(length(chunk_text) AS BIGINT) AS chunk_chars
        |FROM ch GROUP BY chunk_text HAVING count(*) > 1
        |ORDER BY first_doc, chunk_chars, n_occurrences, n_docs""".stripMargin,
    // spans twin: the chunking CTE at stride 1 (overlap 15) + the
    // boilerplate HAVING aggregate — the sliding-window form
    "dedup_spans" ->
      """WITH w AS (
        |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS words
        |  FROM documents),
        |n AS (
        |  SELECT doc_id, words,
        |    1 + greatest(len(words) - 16, 0) AS n_chunks
        |  FROM w),
        |c AS (
        |  SELECT doc_id, unnest(generate_series(0, n_chunks - 1)) AS k,
        |    words FROM n),
        |ch AS (
        |  SELECT doc_id,
        |    array_to_string(words[k + 1 : k + 16], ' ') AS chunk_text
        |  FROM c)
        |SELECT min(doc_id) AS first_doc,
        |  count(*) AS n_occurrences,
        |  count(DISTINCT doc_id) AS n_docs,
        |  CAST(length(chunk_text) AS BIGINT) AS span_chars
        |FROM ch GROUP BY chunk_text HAVING count(*) > 1
        |ORDER BY first_doc, span_chars, n_occurrences, n_docs""".stripMargin,
    // span-removal twin: dedup_spans' window CTE with start positions,
    // canonical = first (doc_id, start) per window text via row_number,
    // covered positions unioned by DISTINCT, anti-joined off the token
    // stream, re-aggregated in position order
    "dedup_span_removal" ->
      """WITH w AS (
        |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS words
        |  FROM documents),
        |wins AS (
        |  SELECT doc_id, unnest(generate_series(0, len(words) - 16)) AS s,
        |    words
        |  FROM w WHERE len(words) >= 16),
        |ch AS (
        |  SELECT doc_id, s,
        |    array_to_string(words[s + 1 : s + 16], ' ') AS wtext
        |  FROM wins),
        |occ AS (
        |  SELECT doc_id, s,
        |    row_number() OVER (PARTITION BY wtext ORDER BY doc_id, s) AS rn,
        |    count(*) OVER (PARTITION BY wtext) AS c
        |  FROM ch),
        |cov AS (
        |  SELECT DISTINCT doc_id, s + g AS pos
        |  FROM occ, generate_series(0, 15) t(g) WHERE c > 1 AND rn > 1),
        |toks AS (
        |  SELECT doc_id, unnest(fw) AS tok,
        |    generate_subscripts(fw, 1) - 1 AS pos
        |  FROM (SELECT doc_id, list_filter(words, x -> x <> '') AS fw
        |        FROM w)),
        |kept AS (
        |  SELECT t.doc_id, t.pos, t.tok
        |  FROM toks t ANTI JOIN cov
        |    ON t.doc_id = cov.doc_id AND t.pos = cov.pos),
        |clean AS (
        |  SELECT doc_id, string_agg(tok, ' ' ORDER BY pos) AS text_clean,
        |    count(*) AS n_kept
        |  FROM kept GROUP BY doc_id)
        |SELECT d.doc_id,
        |  coalesce(c.text_clean, '') AS text_clean,
        |  coalesce(c.n_kept, 0) AS n_kept,
        |  len(list_filter(string_split_regex(trim(d.text), '\s+'),
        |    x -> x <> '')) - coalesce(c.n_kept, 0) AS n_removed
        |FROM documents d LEFT JOIN clean c USING (doc_id)
        |ORDER BY doc_id""".stripMargin,
    // domain-mix twin: same scramble ranking, same arithmetic quota over
    // the source suffix
    "q_domain_mix" ->
      """SELECT doc_id, source FROM (
        |  SELECT doc_id, source,
        |    row_number() OVER (PARTITION BY source
        |      ORDER BY (doc_id * 2654435761) % 4294967296, doc_id) AS rn,
        |    (CAST(substr(source, 4) AS INT) % 3 + 1) * 10 AS quota
        |  FROM documents)
        |WHERE rn <= quota ORDER BY doc_id""".stripMargin,
    // nucleus twin: unique (n_chars DESC, doc_id) order makes RANGE and
    // ROWS frames identical; the p-cut is integer-exact on both engines
    "q_nucleus_head" ->
      """SELECT doc_id, source, n_chars FROM (
        |  SELECT doc_id, source, n_chars,
        |    sum(n_chars) OVER (PARTITION BY source
        |      ORDER BY n_chars DESC, doc_id
        |      ROWS UNBOUNDED PRECEDING) AS cum,
        |    sum(n_chars) OVER (PARTITION BY source) AS tot
        |  FROM documents)
        |WHERE cum * 10 <= tot * 8 ORDER BY doc_id""".stripMargin,
    // packing twin: identical shard-local cumsum; CASTs because DuckDB's
    // windowed/grouped sums of BIGINT are HUGEINT (repr breaks the hash)
    "q_export_shards" ->
      """WITH t AS (
        |  SELECT doc_id,
        |    ((doc_id * 2654435761) % 4294967296) AS h,
        |    CAST(((doc_id * 2654435761) % 4294967296) % 8 AS INT) AS shard,
        |    CASE WHEN length(trim(text)) = 0 THEN 0
        |      ELSE len(string_split_regex(trim(text), '\s+')) END AS n_tokens
        |  FROM documents)
        |SELECT doc_id, n_tokens, shard,
        |  CAST(floor((sum(n_tokens) OVER (PARTITION BY shard ORDER BY h
        |    ROWS UNBOUNDED PRECEDING) - n_tokens) / 512.0) AS BIGINT)
        |    AS seq_id
        |FROM t ORDER BY doc_id""".stripMargin,
    // incremental-export twin: epoch membership is the fixture's own
    // day split, shard/h identical to the full export, packing window
    // partitioned by (epoch, shard) — each epoch packs its delta alone
    "q_export_delta" ->
      """WITH t AS (
        |  SELECT doc_id,
        |    CAST(CASE WHEN doc_id % 3 = 0 THEN 1 ELSE 0 END AS INT)
        |      AS epoch,
        |    ((doc_id * 2654435761) % 4294967296) AS h,
        |    CAST(((doc_id * 2654435761) % 4294967296) % 8 AS INT)
        |      AS shard,
        |    CASE WHEN length(trim(text)) = 0 THEN 0
        |      ELSE len(string_split_regex(trim(text), '\s+')) END
        |      AS n_tokens
        |  FROM documents)
        |SELECT doc_id, n_tokens, shard,
        |  CAST(floor((sum(n_tokens) OVER (PARTITION BY epoch, shard
        |    ORDER BY h ROWS UNBOUNDED PRECEDING) - n_tokens) / 512.0)
        |    AS BIGINT) AS seq_id,
        |  epoch
        |FROM t ORDER BY doc_id""".stripMargin,
    "q_token_packing" ->
      """WITH t AS (
        |  SELECT doc_id, doc_id % 8 AS shard,
        |    CASE WHEN length(trim(text)) = 0 THEN 0
        |      ELSE len(string_split_regex(trim(text), '\s+')) END AS n_tokens
        |  FROM documents),
        |c AS (
        |  SELECT shard, n_tokens,
        |    sum(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
        |      ROWS UNBOUNDED PRECEDING) AS cum
        |  FROM t)
        |SELECT shard, CAST(floor((cum - n_tokens) / 512.0) AS BIGINT) AS seq_id,
        |  count(*) AS n_docs, CAST(sum(n_tokens) AS BIGINT) AS sum_tokens
        |FROM c GROUP BY shard, seq_id ORDER BY shard, seq_id""".stripMargin,
    // PII redaction twin: identical pattern strings, identical nesting
    // order (emails → IPs → dashed phones → digit runs); every construct
    // parses the same in Java regex and RE2
    "text_pii" ->
      """SELECT doc_id,
        |  regexp_replace(regexp_replace(regexp_replace(regexp_replace(text,
        |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        |    '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '<IP>', 'g'),
        |    '\b\d{3}[-. ]\d{3}[-. ]\d{4}\b', '<PHONE>', 'g'),
        |    '\+?\d{9,15}', '<PHONE>', 'g') AS redacted,
        |  len(regexp_extract_all(text,
        |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS n_emails,
        |  len(regexp_extract_all(text,
        |    '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b')) AS n_ips,
        |  len(regexp_extract_all(text, '\b\d{3}[-. ]\d{3}[-. ]\d{4}\b')) +
        |  len(regexp_extract_all(regexp_replace(regexp_replace(text,
        |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '', 'g'),
        |    '\b\d{3}[-. ]\d{3}[-. ]\d{4}\b', '', 'g'),
        |    '\+?\d{9,15}')) AS n_phones
        |FROM documents ORDER BY doc_id""".stripMargin,
    // repetition twin: the same non-distinct n-gram stream built with
    // generate_series (scalar form returns a LIST in DuckDB)
    "text_repetition" ->
      """WITH t AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(lower(trim(text)), '\s+'),
        |      x -> x <> '') AS w
        |  FROM documents),
        |g AS (
        |  SELECT doc_id,
        |    CASE WHEN len(w) >= 2 THEN
        |      list_transform(generate_series(1, len(w) - 1),
        |        i -> w[i] || ' ' || w[i + 1])
        |      ELSE CAST([] AS VARCHAR[]) END AS g2,
        |    CASE WHEN len(w) >= 3 THEN
        |      list_transform(generate_series(1, len(w) - 2),
        |        i -> w[i] || ' ' || w[i + 1] || ' ' || w[i + 2])
        |      ELSE CAST([] AS VARCHAR[]) END AS g3
        |  FROM t)
        |SELECT doc_id,
        |  round(CASE WHEN len(g2) = 0 THEN 0.0
        |    ELSE 1.0 - CAST(len(list_distinct(g2)) AS DOUBLE) / len(g2)
        |    END, 6) AS rep_bigram,
        |  round(CASE WHEN len(g3) = 0 THEN 0.0
        |    ELSE 1.0 - CAST(len(list_distinct(g3)) AS DOUBLE) / len(g3)
        |    END, 6) AS rep_trigram
        |FROM g ORDER BY doc_id""".stripMargin,
    // deterministic marker-count heuristic — same tokenization as the Spark
    // side (lower+trim, \s+ split), same tie-break (declaration order wins
    // at equal score), CJK via RE2's \p{Han} (= Java's \p{IsHan})
    "text_langid" ->
      """WITH t AS (
        |  SELECT doc_id, text,
        |    string_split_regex(lower(trim(text)), '\s+') AS tk
        |  FROM documents),
        |s AS (
        |  SELECT doc_id, text,
        |    len(list_filter(tk, x -> list_contains(
        |      ['the','and','of','to','is','with','that','this'], x))) AS s_en,
        |    len(list_filter(tk, x -> list_contains(
        |      ['der','die','und','das','ist','nicht','mit','ein'], x))) AS s_de,
        |    len(list_filter(tk, x -> list_contains(
        |      ['le','la','et','les','des','est','une','dans'], x))) AS s_fr,
        |    len(list_filter(tk, x -> list_contains(
        |      ['el','los','las','es','una','por','con','para'], x))) AS s_es,
        |    len(list_filter(tk, x -> list_contains(
        |      ['và','của','là','có','không','người','được','trong'], x))) AS s_vi
        |  FROM t)
        |SELECT doc_id,
        |  CASE
        |    WHEN length(regexp_replace(text, '[^\p{Han}]', '', 'g')) > 0
        |      THEN 'zh'
        |    WHEN s_en > 0 AND s_en >= greatest(s_de, s_fr, s_es, s_vi)
        |      THEN 'en'
        |    WHEN s_de > 0 AND s_de >= greatest(s_fr, s_es, s_vi) THEN 'de'
        |    WHEN s_fr > 0 AND s_fr >= greatest(s_es, s_vi) THEN 'fr'
        |    WHEN s_es > 0 AND s_es >= s_vi THEN 'es'
        |    WHEN s_vi > 0 THEN 'vi'
        |    ELSE 'und' END AS lang_pred
        |FROM s ORDER BY doc_id""".stripMargin,
    // confusion twin: the text_langid CASE, aggregated against the
    // ground-truth lang column
    "text_langid_confusion" ->
      """WITH t AS (
        |  SELECT lang, text,
        |    string_split_regex(lower(trim(text)), '\s+') AS tk
        |  FROM documents),
        |s AS (
        |  SELECT lang, text,
        |    len(list_filter(tk, x -> list_contains(
        |      ['the','and','of','to','is','with','that','this'], x))) AS s_en,
        |    len(list_filter(tk, x -> list_contains(
        |      ['der','die','und','das','ist','nicht','mit','ein'], x))) AS s_de,
        |    len(list_filter(tk, x -> list_contains(
        |      ['le','la','et','les','des','est','une','dans'], x))) AS s_fr,
        |    len(list_filter(tk, x -> list_contains(
        |      ['el','los','las','es','una','por','con','para'], x))) AS s_es,
        |    len(list_filter(tk, x -> list_contains(
        |      ['và','của','là','có','không','người','được','trong'], x)))
        |      AS s_vi
        |  FROM t),
        |p AS (
        |  SELECT lang,
        |    CASE
        |      WHEN length(regexp_replace(text, '[^\p{Han}]', '', 'g')) > 0
        |        THEN 'zh'
        |      WHEN s_en > 0 AND s_en >= greatest(s_de, s_fr, s_es, s_vi)
        |        THEN 'en'
        |      WHEN s_de > 0 AND s_de >= greatest(s_fr, s_es, s_vi) THEN 'de'
        |      WHEN s_fr > 0 AND s_fr >= greatest(s_es, s_vi) THEN 'fr'
        |      WHEN s_es > 0 AND s_es >= s_vi THEN 'es'
        |      WHEN s_vi > 0 THEN 'vi'
        |      ELSE 'und' END AS lang_pred
        |  FROM s)
        |SELECT lang, lang_pred, count(*) AS n FROM p
        |GROUP BY lang, lang_pred ORDER BY lang, lang_pred""".stripMargin,
    "dedup_exact" ->
      """SELECT min(doc_id) AS doc_id, count(*) AS n_copies FROM documents
        |GROUP BY text ORDER BY doc_id""".stripMargin,
    // pipeline twin: the three stages as chained CTEs — gate predicates,
    // the survivor window, the integer-exact mass cut
    "q_curation_pipeline" ->
      """WITH gated AS (
        |  SELECT * FROM documents WHERE lang = 'en' AND n_chars >= 100),
        |dd AS (
        |  SELECT * FROM (
        |    SELECT *, row_number() OVER (PARTITION BY text
        |      ORDER BY source DESC, doc_id) AS rn
        |    FROM gated) WHERE rn = 1),
        |cut AS (
        |  SELECT doc_id, source, n_chars,
        |    sum(n_chars) OVER (PARTITION BY source
        |      ORDER BY n_chars DESC, doc_id
        |      ROWS UNBOUNDED PRECEDING) AS cum,
        |    sum(n_chars) OVER (PARTITION BY source) AS tot
        |  FROM dd)
        |SELECT doc_id, source, n_chars FROM cut
        |WHERE cum * 10 <= tot * 8 ORDER BY doc_id""".stripMargin,
    // survivor-policy twin: same window, same (source DESC, doc_id)
    // ordering — both engines compare the ASCII source names bytewise
    "dedup_exact_best" ->
      """SELECT doc_id, text, lang, source, n_chars, n_copies FROM (
        |  SELECT *,
        |    row_number() OVER (PARTITION BY text
        |      ORDER BY source DESC, doc_id) AS rn,
        |    count(*) OVER (PARTITION BY text) AS n_copies
        |  FROM documents)
        |WHERE rn = 1 ORDER BY doc_id""".stripMargin,
    // components twin: the same near-dup pair set as dedup_ngram_jaccard,
    // closed transitively by a recursive CTE (symmetric edge set, then the
    // min reachable id per node — a node in a ≥2-cluster always reaches
    // itself through any neighbor, so min over reach ∪ {id} is exactly the
    // component minimum)
    "dedup_components" -> componentsOracleSql,
    // the incremental label store must land on the SAME labels as the
    // one-shot closure over every pair ever seen — so it shares the
    // one-shot row's oracle verbatim (set equality enforced by hash)
    "dedup_components_incremental" -> componentsOracleSql,
    "dedup_provenance_lookup" -> provenanceOracleSql,
    "dedup_attribution" -> attributionOracleSql,
    // tf-idf twin: identical tokenization to text_repetition's, identical
    // smoothing, ranking on the 6-decimal-ROUNDED score with the token as
    // tie-break (both engines order strings by binary collation)
    "q_tfidf_topk" ->
      """WITH toks AS (
        |  SELECT doc_id, unnest(list_filter(
        |    string_split_regex(lower(trim(text)), '\s+'), x -> x <> ''))
        |    AS token
        |  FROM documents),
        |tf AS (
        |  SELECT doc_id, token, count(*) AS tfreq FROM toks
        |  GROUP BY doc_id, token),
        |dfreq AS (SELECT token, count(*) AS dfc FROM tf GROUP BY token),
        |n AS (SELECT count(*) AS n_docs FROM documents),
        |scored AS (
        |  SELECT doc_id, token,
        |    round(tfreq * ln((n_docs + 1.0) / (dfc + 1.0)), 6) AS tfidf
        |  FROM tf JOIN dfreq USING (token) CROSS JOIN n),
        |r AS (
        |  SELECT doc_id, token, tfidf,
        |    row_number() OVER (PARTITION BY doc_id
        |      ORDER BY tfidf DESC, token ASC) AS rn
        |  FROM scored)
        |SELECT doc_id, token, tfidf FROM r WHERE rn <= 3
        |ORDER BY doc_id, token""".stripMargin,
    // BM25 twin: same tokenization, Lucene positive idf, identical
    // operator association per term, 6-decimal per-term round summed as
    // DECIMAL (order-independent), doc_id tie-break on the top-20 cut
    "q_bm25_topk" -> bm25TopkOracleSql,

    // the index-backed serve must equal the scan path bit-for-bit — the
    // SAME oracle verbatim (the q_graph_triangles_incremental stance:
    // an incremental/index path earns its keep by matching the direct
    // path's ground truth, not a weaker one)
    "q_bm25_indexed" -> bm25TopkOracleSql,

    // index-stats twin: the same facts recomputed from raw documents —
    // n_docs counts every doc, sum_len every token, avgdl their exact
    // division, n_postings the distinct (doc, token) pairs
    "q_text_index_stats" ->
      """WITH toks AS (
        |  SELECT doc_id, unnest(list_filter(
        |    string_split_regex(lower(trim(text)), '\s+'), x -> x <> ''))
        |    AS token
        |  FROM documents),
        |tf AS (SELECT doc_id, token, count(*) AS c FROM toks
        |  GROUP BY doc_id, token),
        |d AS (SELECT CAST(count(*) AS BIGINT) AS n_docs FROM documents),
        |t AS (SELECT CAST(count(*) AS BIGINT) AS sum_len FROM toks),
        |p AS (SELECT CAST(count(*) AS BIGINT) AS n_postings,
        |  CAST(count(DISTINCT token) AS BIGINT) AS n_terms FROM tf)
        |SELECT n_docs, sum_len,
        |  round(CAST(sum_len AS DOUBLE) / n_docs, 6) AS avgdl,
        |  n_postings, n_terms
        |FROM d, t, p""".stripMargin,

    // conjunctive twin: the scan-path CTEs + a HAVING all-terms filter
    // on the per-doc aggregate before the cut
    "q_bm25_indexed_and" ->
      """WITH toks AS (
        |  SELECT doc_id, unnest(list_filter(
        |    string_split_regex(lower(trim(text)), '\s+'), x -> x <> ''))
        |    AS token
        |  FROM documents),
        |lens AS (SELECT doc_id, count(*) AS blen FROM toks GROUP BY doc_id),
        |stats AS (
        |  SELECT count(*) AS n_docs,
        |    avg(coalesce(blen, 0)) AS avgdl
        |  FROM documents LEFT JOIN lens USING (doc_id)),
        |tf AS (
        |  SELECT doc_id, token, count(*) AS tfreq FROM toks
        |  WHERE token IN ('hash', 'join', 'vector')
        |  GROUP BY doc_id, token),
        |dfreq AS (SELECT token, count(*) AS dfc FROM tf GROUP BY token),
        |scored AS (
        |  SELECT doc_id,
        |    ln(1.0 + (n_docs - dfc + 0.5) / (dfc + 0.5)) *
        |      (tfreq * (1.2 + 1.0)) /
        |      (tfreq + 1.2 * (0.25 + 0.75 * blen / avgdl)) AS term_score
        |  FROM tf JOIN dfreq USING (token) JOIN lens USING (doc_id)
        |  CROSS JOIN stats),
        |agg AS (
        |  SELECT doc_id,
        |    CAST(sum(CAST(round(term_score, 6) AS DECIMAL(18,6)))
        |      AS DOUBLE) AS bm25
        |  FROM scored GROUP BY doc_id
        |  HAVING count(*) = 3)
        |SELECT * FROM (
        |  SELECT doc_id, bm25 FROM agg
        |  ORDER BY bm25 DESC, doc_id LIMIT 20)
        |ORDER BY doc_id""".stripMargin,

    // phrase twin: token positions re-derived with generate_subscripts
    // (trimmed text split on \s+ leaves no interior empties, so kept-
    // token positions equal raw subscripts), adjacency as a pos+1
    // self-join whose per-doc pair count IS the start-position count;
    // BM25 over the phrase terms with the scan-path arithmetic verbatim
    "q_bm25_phrase" ->
      """WITH toks AS (
        |  SELECT doc_id,
        |    unnest(list_filter(
        |      string_split_regex(lower(trim(text)), '\s+'), x -> x <> ''))
        |      AS token,
        |    generate_subscripts(list_filter(
        |      string_split_regex(lower(trim(text)), '\s+'), x -> x <> ''), 1)
        |      AS pos
        |  FROM documents),
        |phrase AS (
        |  SELECT a.doc_id, CAST(count(*) AS BIGINT) AS n_occurrences
        |  FROM toks a JOIN toks b
        |    ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
        |  WHERE a.token = 'hash' AND b.token = 'join'
        |  GROUP BY a.doc_id),
        |lens AS (SELECT doc_id, count(*) AS blen FROM toks GROUP BY doc_id),
        |stats AS (
        |  SELECT count(*) AS n_docs, avg(coalesce(blen, 0)) AS avgdl
        |  FROM documents LEFT JOIN lens USING (doc_id)),
        |tf AS (
        |  SELECT doc_id, token, count(*) AS tfreq FROM toks
        |  WHERE token IN ('hash', 'join')
        |  GROUP BY doc_id, token),
        |dfreq AS (SELECT token, count(*) AS dfc FROM tf GROUP BY token),
        |scored AS (
        |  SELECT doc_id,
        |    ln(1.0 + (n_docs - dfc + 0.5) / (dfc + 0.5)) *
        |      (tfreq * (1.2 + 1.0)) /
        |      (tfreq + 1.2 * (0.25 + 0.75 * blen / avgdl)) AS term_score
        |  FROM tf JOIN dfreq USING (token) JOIN lens USING (doc_id)
        |  CROSS JOIN stats),
        |agg AS (
        |  SELECT doc_id,
        |    CAST(sum(CAST(round(term_score, 6) AS DECIMAL(18,6)))
        |      AS DOUBLE) AS bm25
        |  FROM scored GROUP BY doc_id)
        |SELECT * FROM (
        |  SELECT p.doc_id, a.bm25, p.n_occurrences
        |  FROM phrase p JOIN agg a USING (doc_id)
        |  ORDER BY a.bm25 DESC, p.doc_id LIMIT 20)
        |ORDER BY doc_id""".stripMargin,

    // takedown twins: the scan-path BM25 arithmetic verbatim, over a
    // CTE that shadows `documents` with the survivors — the index-backed
    // serve after retraction must hash-match a world where the retracted
    // docs never existed (document frequencies, N and avgdl included)
    "q_takedown" ->
      """WITH surviving AS (
        |  SELECT * FROM documents WHERE doc_id % 83 <> 0),
        |toks AS (
        |  SELECT doc_id, unnest(list_filter(
        |    string_split_regex(lower(trim(text)), '\s+'), x -> x <> ''))
        |    AS token
        |  FROM surviving),
        |lens AS (SELECT doc_id, count(*) AS blen FROM toks GROUP BY doc_id),
        |stats AS (
        |  SELECT count(*) AS n_docs,
        |    avg(coalesce(blen, 0)) AS avgdl
        |  FROM surviving LEFT JOIN lens USING (doc_id)),
        |tf AS (
        |  SELECT doc_id, token, count(*) AS tfreq FROM toks
        |  WHERE token IN ('hash', 'join', 'vector')
        |  GROUP BY doc_id, token),
        |dfreq AS (SELECT token, count(*) AS dfc FROM tf GROUP BY token),
        |scored AS (
        |  SELECT doc_id,
        |    ln(1.0 + (n_docs - dfc + 0.5) / (dfc + 0.5)) *
        |      (tfreq * (1.2 + 1.0)) /
        |      (tfreq + 1.2 * (0.25 + 0.75 * blen / avgdl)) AS term_score
        |  FROM tf JOIN dfreq USING (token) JOIN lens USING (doc_id)
        |  CROSS JOIN stats),
        |agg AS (
        |  SELECT doc_id,
        |    CAST(sum(CAST(round(term_score, 6) AS DECIMAL(18,6)))
        |      AS DOUBLE) AS bm25
        |  FROM scored GROUP BY doc_id)
        |SELECT * FROM (
        |  SELECT doc_id, bm25 FROM agg
        |  ORDER BY bm25 DESC, doc_id LIMIT 20)
        |ORDER BY doc_id""".stripMargin,

    "q_takedown_corpus" ->
      """SELECT doc_id, lang, n_chars FROM documents
        |WHERE doc_id % 83 <> 0 ORDER BY doc_id""".stripMargin,

    // post-retraction index health: the q_text_index_stats facts over
    // the SURVIVING documents — the negative stats row's ground truth
    "q_takedown_stats" ->
      """WITH surviving AS (
        |  SELECT * FROM documents WHERE doc_id % 83 <> 0),
        |toks AS (
        |  SELECT doc_id, unnest(list_filter(
        |    string_split_regex(lower(trim(text)), '\s+'), x -> x <> ''))
        |    AS token
        |  FROM surviving),
        |tf AS (SELECT doc_id, token, count(*) AS c FROM toks
        |  GROUP BY doc_id, token),
        |d AS (SELECT CAST(count(*) AS BIGINT) AS n_docs FROM surviving),
        |t AS (SELECT CAST(count(*) AS BIGINT) AS sum_len FROM toks),
        |p AS (SELECT CAST(count(*) AS BIGINT) AS n_postings,
        |  CAST(count(DISTINCT token) AS BIGINT) AS n_terms FROM tf)
        |SELECT n_docs, sum_len,
        |  round(CAST(sum_len AS DOUBLE) / n_docs, 6) AS avgdl,
        |  n_postings, n_terms
        |FROM d, t, p""".stripMargin,

    // snippet twin: BM25 top-20 CTEs verbatim, then per winner the
    // hit-anchored window argmax (count desc, start asc) and the same
    // token-stream slice; engine positions are 0-based, DuckDB
    // subscripts 1-based — the start converts, the slice is identical
    "q_snippets" -> snippetsOracleSql,

    // identical output contract over the key-bucketed forward store:
    // the pruned point fetch must change nothing — same twin verbatim
    "q_snippets_stored" -> snippetsOracleSql,

    // forward-store point fetch: the bucket-pruned read returns exactly
    // the requested rows
    "q_forward_fetch" ->
      """SELECT doc_id, text FROM documents
        |WHERE doc_id IN (1, 83, 250, 499) ORDER BY doc_id""".stripMargin,

    // takedown throughput row: the Report scalars of retracting
    // doc_id % 97 == 0 from a pristine artifact copy — every id is
    // admitted in the fixture, so requested = found = the plain count
    "q_takedown_apply" ->
      """SELECT CAST(count(*) AS BIGINT) AS requested,
        |  CAST(count(*) AS BIGINT) AS found
        |FROM documents WHERE doc_id % 97 = 0""".stripMargin,

    // lazy-takedown SLA row: tombstoneDocs reports requested = found
    // (the overlay write does not consult the corpus) over the same set
    "q_takedown_tombstone" ->
      """SELECT CAST(count(*) AS BIGINT) AS requested,
        |  CAST(count(*) AS BIGINT) AS found
        |FROM documents WHERE doc_id % 97 = 0""".stripMargin,

    // proximity twin: a doc qualifies iff SOME occurrence of either
    // term (the leftmost witness) sees both terms within [pos, pos+2];
    // BM25 over the two terms with the scan-path arithmetic verbatim
    "q_proximity" ->
      """WITH toks AS (
        |  SELECT doc_id,
        |    unnest(list_filter(
        |      string_split_regex(lower(trim(text)), '\s+'), x -> x <> ''))
        |      AS token,
        |    generate_subscripts(list_filter(
        |      string_split_regex(lower(trim(text)), '\s+'), x -> x <> ''), 1)
        |      AS pos
        |  FROM documents),
        |near AS (
        |  SELECT DISTINCT a.doc_id FROM toks a
        |  WHERE a.token IN ('hash', 'vector')
        |    AND EXISTS (SELECT 1 FROM toks t WHERE t.doc_id = a.doc_id
        |      AND t.token = 'hash' AND t.pos BETWEEN a.pos AND a.pos + 2)
        |    AND EXISTS (SELECT 1 FROM toks t WHERE t.doc_id = a.doc_id
        |      AND t.token = 'vector' AND t.pos BETWEEN a.pos AND a.pos + 2)),
        |lens AS (SELECT doc_id, count(*) AS blen FROM toks GROUP BY doc_id),
        |stats AS (
        |  SELECT count(*) AS n_docs,
        |    avg(coalesce(blen, 0)) AS avgdl
        |  FROM documents LEFT JOIN lens USING (doc_id)),
        |tf AS (
        |  SELECT doc_id, token, count(*) AS tfreq FROM toks
        |  WHERE token IN ('hash', 'vector')
        |  GROUP BY doc_id, token),
        |dfreq AS (SELECT token, count(*) AS dfc FROM tf GROUP BY token),
        |scored AS (
        |  SELECT doc_id,
        |    ln(1.0 + (n_docs - dfc + 0.5) / (dfc + 0.5)) *
        |      (tfreq * (1.2 + 1.0)) /
        |      (tfreq + 1.2 * (0.25 + 0.75 * blen / avgdl)) AS term_score
        |  FROM tf JOIN dfreq USING (token) JOIN lens USING (doc_id)
        |  CROSS JOIN stats),
        |agg AS (
        |  SELECT doc_id,
        |    CAST(sum(CAST(round(term_score, 6) AS DECIMAL(18,6)))
        |      AS DOUBLE) AS bm25
        |  FROM scored GROUP BY doc_id)
        |SELECT * FROM (
        |  SELECT a.doc_id, a.bm25 FROM agg a JOIN near USING (doc_id)
        |  ORDER BY a.bm25 DESC, a.doc_id LIMIT 20)
        |ORDER BY doc_id""".stripMargin,

    // phrase-decontamination twin: survivors = docs with NO pos+1
    // adjacency hit on either benchmark phrase
    "q_phrase_decontam" ->
      """WITH toks AS (
        |  SELECT doc_id,
        |    unnest(list_filter(
        |      string_split_regex(lower(trim(text)), '\s+'), x -> x <> ''))
        |      AS token,
        |    generate_subscripts(list_filter(
        |      string_split_regex(lower(trim(text)), '\s+'), x -> x <> ''), 1)
        |      AS pos
        |  FROM documents),
        |hit AS (
        |  SELECT DISTINCT a.doc_id
        |  FROM toks a JOIN toks b
        |    ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
        |  WHERE (a.token = 'hash' AND b.token = 'join')
        |     OR (a.token = 'table' AND b.token = 'table'))
        |SELECT doc_id FROM documents
        |WHERE doc_id NOT IN (SELECT doc_id FROM hit)
        |ORDER BY doc_id""".stripMargin,

    // two-large-frames fuzzy join: DuckDB recomputes the probe
    // corruption and the levenshtein join directly (the length
    // prefilter only cuts the cross product; the distance predicate
    // decides membership)
    "q_fuzzy_cross" ->
      """WITH probes AS (
        |  SELECT p_partkey AS probe_id,
        |    substr(p_name, 1, 2) || substr(p_name, 4) AS pname
        |  FROM part WHERE p_partkey % 37 = 0)
        |SELECT probe_id, p_partkey,
        |  levenshtein(pname, p_name) AS distance
        |FROM probes, part
        |WHERE abs(length(pname) - length(p_name)) <= 1
        |  AND levenshtein(pname, p_name) <= 1
        |ORDER BY probe_id, p_partkey""".stripMargin,

    // SCD2 fold: change rows by null-safe per-column comparison against
    // the previous version, validity chained by lead over kept rows
    "q_scd2" -> scd2OracleSql,
    // the incremental fold must equal the one-shot fold — same oracle
    "q_scd2_incremental" -> scd2OracleSql,
    // and so must the partitioned store's read-back
    "q_scd2_stored" -> scd2OracleSql,

    // point-in-time state: the history filtered to valid_from <= X <
    // valid_to at the mid-stream version X, derived identically (floor
    // division of the max key) on both engines
    "q_scd2_asof" ->
      """WITH ordered AS (
        |  SELECT o_custkey, o_orderkey, o_orderstatus, o_orderpriority,
        |    row_number() OVER w AS rn,
        |    lag(o_orderstatus) OVER w AS pst,
        |    lag(o_orderpriority) OVER w AS ppr
        |  FROM orders
        |  WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderkey)),
        |kept AS (
        |  SELECT o_custkey, o_orderkey AS valid_from, o_orderstatus,
        |    o_orderpriority
        |  FROM ordered
        |  WHERE rn = 1 OR (o_orderstatus IS DISTINCT FROM pst)
        |     OR (o_orderpriority IS DISTINCT FROM ppr)),
        |hist AS (
        |  SELECT o_custkey, valid_from, o_orderstatus, o_orderpriority,
        |    lead(valid_from) OVER w2 AS valid_to
        |  FROM kept
        |  WINDOW w2 AS (PARTITION BY o_custkey ORDER BY valid_from)),
        |x AS (SELECT CAST(max(o_orderkey) AS BIGINT) // 2 AS xv
        |  FROM orders)
        |SELECT o_custkey, valid_from, o_orderstatus, o_orderpriority
        |FROM hist CROSS JOIN x
        |WHERE valid_from <= xv AND (valid_to IS NULL OR valid_to > xv)
        |ORDER BY o_custkey""".stripMargin,

    "q_cusum" -> (cusumOracleCtes +
      """SELECT day, value,
        |  round(rsum - rn * (CAST(total AS DOUBLE) / n), 6) AS cusum
        |FROM c CROSS JOIN t ORDER BY day""".stripMargin),

    "q_changepoint" -> (cusumOracleCtes +
      """SELECT day, value, cusum, abs(cusum) AS abs_cusum
        |FROM (
        |  SELECT day, value,
        |    round(rsum - rn * (CAST(total AS DOUBLE) / n), 6) AS cusum
        |  FROM c CROSS JOIN t)
        |ORDER BY abs_cusum DESC, day LIMIT 1""".stripMargin),

    // seasonal anomaly: identical moment sums (inputs cast to double up
    // front, the q_ols convention) and the identical fixed-order z
    "q_seasonal_anomaly" ->
      """WITH daily AS (
        |  SELECT CAST(o_orderdate AS DATE) AS day,
        |    (CAST(o_orderdate AS DATE) - DATE '1970-01-01') % 7 AS season,
        |    CAST(count(*) AS DOUBLE) AS v
        |  FROM orders GROUP BY 1, 2),
        |m AS (
        |  SELECT season, CAST(count(*) AS BIGINT) AS n,
        |    sum(v) AS s1, sum(v * v) AS s2
        |  FROM daily GROUP BY season)
        |SELECT day, season, v AS value,
        |  round(s1 / n, 6) AS season_mean,
        |  round(CASE WHEN n >= 2
        |      AND (s2 - s1 * s1 / n) / (n - 1) > 0
        |    THEN (v - s1 / n) / sqrt((s2 - s1 * s1 / n) / (n - 1))
        |    END, 6) AS z
        |FROM daily JOIN m USING (season)
        |ORDER BY day""".stripMargin,

    // batched-BM25 twin: the corpus CTEs are q_bm25_topk's verbatim; the
    // query table is an inline VALUES list and each query joins back its
    // own terms' tf rows
    "q_bm25_batched" -> bm25BatchedOracleSql,
    // the index-backed batched serve equals the batched scan bit-for-bit
    "q_bm25_indexed_batched" -> bm25BatchedOracleSql,
    // hybrid-RRF twin: the bm25 CTE is q_bm25_topk's verbatim, the dense
    // CTE is ann_bruteforce's cosine; ranks are integer row_numbers and
    // the fusion sums 9-decimal DECIMALs, so the whole hybrid hashes
    "q_hybrid_rrf" ->
      """WITH toks AS (
        |  SELECT doc_id, unnest(list_filter(
        |    string_split_regex(lower(trim(text)), '\s+'), x -> x <> ''))
        |    AS token
        |  FROM documents),
        |lens AS (SELECT doc_id, count(*) AS blen FROM toks GROUP BY doc_id),
        |stats AS (
        |  SELECT count(*) AS n_docs,
        |    avg(coalesce(blen, 0)) AS avgdl
        |  FROM documents LEFT JOIN lens USING (doc_id)),
        |tf AS (
        |  SELECT doc_id, token, count(*) AS tfreq FROM toks
        |  WHERE token IN ('hash', 'join', 'vector')
        |  GROUP BY doc_id, token),
        |dfreq AS (SELECT token, count(*) AS dfc FROM tf GROUP BY token),
        |scored AS (
        |  SELECT doc_id,
        |    ln(1.0 + (n_docs - dfc + 0.5) / (dfc + 0.5)) *
        |      (tfreq * (1.2 + 1.0)) /
        |      (tfreq + 1.2 * (0.25 + 0.75 * blen / avgdl)) AS term_score
        |  FROM tf JOIN dfreq USING (token) JOIN lens USING (doc_id)
        |  CROSS JOIN stats),
        |bm AS (
        |  SELECT doc_id,
        |    CAST(sum(CAST(round(term_score, 6) AS DECIMAL(18,6)))
        |      AS DOUBLE) AS bm25
        |  FROM scored GROUP BY doc_id),
        |lex AS (
        |  SELECT doc_id, row_number() OVER (ORDER BY bm25 DESC, doc_id)
        |    AS rank
        |  FROM (SELECT doc_id, bm25 FROM bm
        |        ORDER BY bm25 DESC, doc_id LIMIT 20)),
        |q AS (
        |  SELECT CAST(embedding AS DOUBLE[]) AS qv FROM embeddings
        |  WHERE vec_id = 0),
        |dscore AS (
        |  SELECT vec_id,
        |    list_dot_product(CAST(embedding AS DOUBLE[]), qv)
        |      / (sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
        |                               CAST(embedding AS DOUBLE[])))
        |         * sqrt(list_dot_product(qv, qv))) AS score
        |  FROM embeddings, q WHERE vec_id <> 0),
        |den AS (
        |  SELECT vec_id AS doc_id,
        |    row_number() OVER (ORDER BY score DESC, vec_id) AS rank
        |  FROM (SELECT vec_id, score FROM dscore
        |        ORDER BY score DESC, vec_id LIMIT 20)),
        |u AS (
        |  SELECT doc_id,
        |    CAST(round(1.0 / (60 + rank), 9) AS DECIMAL(12,9)) AS rrf
        |  FROM lex
        |  UNION ALL
        |  SELECT doc_id,
        |    CAST(round(1.0 / (60 + rank), 9) AS DECIMAL(12,9)) AS rrf
        |  FROM den),
        |f AS (
        |  SELECT doc_id, CAST(sum(rrf) AS DOUBLE) AS rrf_score,
        |    count(*) AS n_systems
        |  FROM u GROUP BY doc_id)
        |SELECT * FROM (
        |  SELECT doc_id, rrf_score, n_systems FROM f
        |  ORDER BY rrf_score DESC, doc_id LIMIT 15)
        |ORDER BY doc_id""".stripMargin,
    // keep-latest twin: same union + row_number window; o_orderkey is
    // globally unique, so (version DESC, src DESC) is already a total
    // order and the Spark side's content-hash tie-break never fires
    "q_merge_upsert" ->
      """WITH a AS (
        |  SELECT *, CASE WHEN o_orderkey % 3 = 0 THEN 1 ELSE 0 END AS src
        |  FROM orders),
        |r AS (
        |  SELECT *, row_number() OVER (PARTITION BY o_custkey
        |    ORDER BY o_orderkey DESC, src DESC) AS rn
        |  FROM a)
        |SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
        |  o_orderdate, o_orderpriority
        |FROM r WHERE rn = 1 ORDER BY o_custkey""".stripMargin,
    // contamination twin: same verbatim (no lower) \s+ tokenization, same
    // inclusive 8-gram windows, same within-row distinct for the per-doc
    // gram total — the benchmark side is the doc_id % 97 subset of the
    // same gram stream
    "text_contamination" ->
      """WITH w AS (
        |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS words
        |  FROM documents),
        |g AS (
        |  SELECT doc_id,
        |    list_transform(generate_series(1, greatest(len(words) - 7, 0)),
        |      i -> array_to_string(list_slice(words, i, i + 7), ' ')) AS grams
        |  FROM w),
        |bench AS (
        |  SELECT DISTINCT unnest(grams) AS gram FROM g WHERE doc_id % 97 = 0),
        |d AS (
        |  SELECT doc_id, len(list_distinct(grams)) AS n_grams,
        |         unnest(grams) AS gram FROM g),
        |hits AS (
        |  SELECT d.doc_id, d.n_grams, count(DISTINCT d.gram) AS n_hits
        |  FROM d JOIN bench USING (gram) GROUP BY d.doc_id, d.n_grams)
        |SELECT doc_id, n_hits, n_grams,
        |  round(CAST(n_hits AS DOUBLE) / n_grams, 6) AS contamination
        |FROM hits ORDER BY doc_id""".stripMargin,
    // novelty twin: same verbatim gram stream; distinct doc grams LEFT
    // join the even-doc reference gram set, unmatched = novel
    "text_novelty" ->
      """WITH w AS (
        |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS words
        |  FROM documents),
        |g AS (
        |  SELECT doc_id,
        |    list_transform(generate_series(1, greatest(len(words) - 7, 0)),
        |      i -> array_to_string(list_slice(words, i, i + 7), ' ')) AS grams
        |  FROM w),
        |ref AS (
        |  SELECT DISTINCT unnest(grams) AS gram, 1 AS seen
        |  FROM g WHERE doc_id % 2 = 0),
        |d AS (
        |  SELECT doc_id, len(list_distinct(grams)) AS n_grams,
        |         unnest(list_distinct(grams)) AS gram
        |  FROM g WHERE doc_id % 2 = 1 AND len(list_distinct(grams)) > 0),
        |agg AS (
        |  SELECT d.doc_id, d.n_grams,
        |    CAST(coalesce(sum(seen), 0) AS BIGINT) AS n_seen
        |  FROM d LEFT JOIN ref USING (gram) GROUP BY d.doc_id, d.n_grams)
        |SELECT doc_id, n_grams, n_seen,
        |  round(1.0 - CAST(n_seen AS DOUBLE) / n_grams, 6) AS novelty
        |FROM agg ORDER BY doc_id""".stripMargin,
    // normalize twin: identical step order (NFC, then lower, then \s+
    // collapse, then trim) — reordering lower/NFC would diverge on
    // case-fold/composition interactions
    "text_normalize" ->
      """SELECT doc_id,
        |  trim(regexp_replace(lower(nfc_normalize(text)), '\s+', ' ', 'g'))
        |    AS norm_text,
        |  length(trim(regexp_replace(lower(nfc_normalize(text)), '\s+', ' ',
        |    'g'))) AS n_norm_chars
        |FROM documents ORDER BY doc_id""".stripMargin,
    "dedup_ngram_jaccard" ->
      """WITH toks AS (
        |  SELECT doc_id, lang, n_chars // 64 AS nb,
        |         string_split_regex(lower(trim(text)), '\s+') AS tk
        |  FROM documents),
        |t AS (
        |  SELECT doc_id, lang, nb,
        |    list_distinct(list_transform(
        |      generate_series(1, greatest(len(tk) - 2, 0)),
        |      i -> array_to_string(list_slice(tk, i, i + 2), ' '))) AS ngrams
        |  FROM toks)
        |SELECT id_a, id_b, round(jac, 6) AS jaccard FROM (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |    CAST(len(list_intersect(a.ngrams, b.ngrams)) AS DOUBLE)
        |      / len(list_distinct(list_concat(a.ngrams, b.ngrams))) AS jac
        |  FROM t a, t b
        |  WHERE a.doc_id < b.doc_id AND a.lang = b.lang AND a.nb = b.nb
        |    AND len(list_distinct(list_concat(a.ngrams, b.ngrams))) > 0)
        |WHERE jac >= 0.5 ORDER BY id_a, id_b""".stripMargin,
    "ann_bruteforce" ->
      """WITH q AS (
        |  SELECT CAST(embedding AS DOUBLE[]) AS qv FROM embeddings
        |  WHERE vec_id = 0),
        |s AS (
        |  SELECT vec_id,
        |    list_dot_product(CAST(embedding AS DOUBLE[]), qv)
        |      / (sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
        |                               CAST(embedding AS DOUBLE[])))
        |         * sqrt(list_dot_product(qv, qv))) AS score
        |  FROM embeddings, q WHERE vec_id <> 0)
        |SELECT vec_id, round(score, 6) AS score FROM s
        |ORDER BY s.score DESC, vec_id LIMIT 10""".stripMargin,
    // filtered-search exact anchor: ann_bruteforce's cosine with the
    // metadata predicate applied before scoring
    "ann_filtered_exact" ->
      """WITH q AS (
        |  SELECT CAST(embedding AS DOUBLE[]) AS qv FROM embeddings
        |  WHERE vec_id = 0),
        |s AS (
        |  SELECT vec_id,
        |    list_dot_product(CAST(embedding AS DOUBLE[]), qv)
        |      / (sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
        |                               CAST(embedding AS DOUBLE[])))
        |         * sqrt(list_dot_product(qv, qv))) AS score
        |  FROM embeddings, q WHERE vec_id <> 0 AND label = 2)
        |SELECT vec_id, round(score, 6) AS score FROM s
        |ORDER BY s.score DESC, vec_id LIMIT 10""".stripMargin,
    // maxsim twin: same cosine, (doc, token)-keyed max (no ordering
    // exposure), decimal sum of 6-decimal maxes
    "q_maxsim" ->
      """WITH e AS (
        |  SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v
        |  FROM embeddings),
        |q AS (SELECT vec_id AS qt, v AS qv FROM e
        |      WHERE vec_id IN (0, 40, 80)),
        |c AS (SELECT * FROM e WHERE vec_id NOT IN (0, 40, 80)),
        |s AS (
        |  SELECT label, qt,
        |    max(list_dot_product(c.v, qv)
        |      / (sqrt(list_dot_product(c.v, c.v))
        |         * sqrt(list_dot_product(qv, qv)))) AS ms
        |  FROM c, q GROUP BY label, qt),
        |agg AS (
        |  SELECT label,
        |    CAST(sum(CAST(round(ms, 6) AS DECIMAL(18,6))) AS DOUBLE)
        |      AS maxsim
        |  FROM s GROUP BY label)
        |SELECT * FROM (
        |  SELECT label, maxsim FROM agg
        |  ORDER BY maxsim DESC, label LIMIT 3)
        |ORDER BY label""".stripMargin,
    // rank-eval twin: the q_hard_negatives ranking CTE, label-match gains,
    // closed-form binary IDCG over min(n_relevant, k) ideal positions
    "q_rank_eval" ->
      """WITH e AS (
        |  SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v
        |  FROM embeddings),
        |q AS (SELECT vec_id AS query_id, label AS qlabel, v AS qv
        |      FROM e WHERE vec_id % 40 = 0),
        |c AS (SELECT * FROM e WHERE vec_id % 40 <> 0),
        |r AS (
        |  SELECT query_id, c.vec_id,
        |    CASE WHEN c.label = qlabel THEN 1 ELSE 0 END AS g,
        |    row_number() OVER (PARTITION BY query_id ORDER BY
        |      list_dot_product(c.v, qv)
        |        / (sqrt(list_dot_product(c.v, c.v))
        |           * sqrt(list_dot_product(qv, qv))) DESC, c.vec_id) AS rnk
        |  FROM c, q),
        |topk AS (SELECT query_id, g, rnk FROM r WHERE rnk <= 10),
        |nrel AS (
        |  SELECT q.query_id, count(*) AS nrel
        |  FROM q JOIN c ON c.label = q.qlabel GROUP BY 1),
        |idcg AS (
        |  SELECT query_id, sum(1.0 / log2(i + 1)) AS idcg
        |  FROM (SELECT query_id,
        |          unnest(generate_series(1,
        |            CAST(least(nrel, 10) AS INT))) AS i
        |        FROM nrel)
        |  GROUP BY query_id),
        |m AS (
        |  SELECT query_id, sum(g / log2(rnk + 1)) AS dcg,
        |    max(CASE WHEN g > 0 THEN 1.0 / rnk ELSE 0 END) AS mrr,
        |    sum(g) AS hits, count(*) AS returned
        |  FROM topk GROUP BY query_id)
        |SELECT m.query_id,
        |  round(CASE WHEN coalesce(idcg, 0) > 0 THEN dcg / idcg
        |    ELSE 0 END, 6) AS ndcg,
        |  round(mrr, 6) AS mrr,
        |  round(hits * 1.0 / returned, 6) AS precision,
        |  round(CASE WHEN coalesce(nrel, 0) > 0 THEN hits * 1.0 / nrel
        |    ELSE 0 END, 6) AS recall
        |FROM m LEFT JOIN idcg USING (query_id) LEFT JOIN nrel USING (query_id)
        |ORDER BY query_id""".stripMargin,
    // hard-negative twin: same cosine arithmetic as ann_bruteforce, label
    // mismatch below the per-query window, vec_id tie-break on the cut
    "q_hard_negatives" ->
      """WITH e AS (
        |  SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v
        |  FROM embeddings),
        |q AS (
        |  SELECT vec_id AS query_id, label AS qlabel, v AS qv
        |  FROM e WHERE vec_id % 40 = 0),
        |c AS (SELECT * FROM e WHERE vec_id % 40 <> 0),
        |s AS (
        |  SELECT query_id, c.vec_id,
        |    list_dot_product(c.v, qv)
        |      / (sqrt(list_dot_product(c.v, c.v))
        |         * sqrt(list_dot_product(qv, qv))) AS score
        |  FROM c, q WHERE c.label <> qlabel),
        |r AS (
        |  SELECT query_id, vec_id, score,
        |    row_number() OVER (PARTITION BY query_id
        |      ORDER BY score DESC, vec_id) AS rn
        |  FROM s)
        |SELECT query_id, vec_id, round(score, 6) AS score
        |FROM r WHERE rn <= 5 ORDER BY query_id, vec_id""".stripMargin,
    "emb_neardup" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
        |           FROM embeddings)
        |SELECT id_a, id_b, round(cosine, 6) AS cosine FROM (
        |  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
        |    list_dot_product(a.v, b.v)
        |      / (sqrt(list_dot_product(a.v, a.v))
        |         * sqrt(list_dot_product(b.v, b.v))) AS cosine
        |  FROM e a, e b WHERE a.vec_id < b.vec_id)
        |WHERE cosine >= 0.4 ORDER BY id_a, id_b""".stripMargin,
    "text_stats" ->
      """WITH t AS (
        |  SELECT doc_id, text, trim(text) AS tt FROM documents),
        |m AS (
        |  SELECT doc_id, text,
        |    CASE WHEN length(tt) = 0 THEN 0
        |      ELSE len(string_split_regex(tt, '\s+')) END AS n_tokens,
        |    len(regexp_extract_all(text,
        |      '\p{L}+|\p{N}+|[^\p{L}\p{N}\s]')) AS n_subwords,
        |    CASE WHEN length(text) = 0 THEN 0.0
        |      ELSE CAST(length(regexp_replace(text,
        |        '[^.,;:!?''"()\[\]-]', '', 'g')) AS DOUBLE) / length(text)
        |      END AS punct_ratio,
        |    CASE WHEN length(text) = 0 THEN 0.0
        |      ELSE CAST(length(regexp_replace(text,
        |        '[^\p{L}]', '', 'g')) AS DOUBLE) / length(text)
        |      END AS alpha_ratio,
        |    CASE WHEN length(tt) = 0 THEN 0.0
        |      ELSE CAST(len(list_filter(string_split_regex(lower(tt), '\s+'),
        |        x -> list_contains(['the','a','an','and','or','of','to','in',
        |          'is','it','for','on','with','as','at','by','be','this',
        |          'that','are'], x))) AS DOUBLE)
        |        / len(string_split_regex(lower(tt), '\s+')) END AS stop_ratio,
        |    CASE WHEN length(tt) = 0 THEN 0
        |      ELSE len(string_split_regex(tt, '\s+')) END AS nt,
        |    regexp_replace(lower(tt), '\s+', ' ', 'g') AS norm
        |  FROM t)
        |SELECT doc_id, n_tokens, n_subwords,
        |  round(punct_ratio, 6) AS punct_ratio,
        |  round(alpha_ratio, 6) AS alpha_ratio,
        |  round(CASE WHEN n_tokens = 0 THEN 0.0
        |    ELSE CAST(length(regexp_replace(text, '\s', '', 'g')) AS DOUBLE)
        |      / n_tokens END, 6) AS avg_word_len,
        |  round(stop_ratio, 6) AS stopword_ratio,
        |  round(greatest(0.0,
        |    least(CAST(n_tokens AS DOUBLE) / 64.0, 1.0) * 0.3
        |    + least(stop_ratio * 4.0, 1.0) * 0.3
        |    + alpha_ratio * 0.4
        |    - least(punct_ratio * 4.0, 1.0) * 0.2), 4) AS quality,
        |  CASE WHEN length(norm) = 0 THEN 0
        |    ELSE list_reduce(
        |      list_transform(generate_series(1, length(norm)),
        |        i -> CAST(unicode(substr(norm, i, 1)) AS BIGINT)),
        |      (acc, x) -> (acc * 131 + x) % 1000000007) END AS fingerprint
        |FROM m ORDER BY doc_id""".stripMargin,
    "mm_decode_meta" ->
      """SELECT media_id, CAST(n AS BIGINT) AS n_bytes,
        |  CAST(n % 640 AS INT) AS width, CAST(n % 480 AS INT) AS height
        |FROM (SELECT doc_id AS media_id,
        |        octet_length(CAST(text AS BLOB)) AS n FROM documents)
        |ORDER BY media_id""".stripMargin,
    "mm_frame_sample" ->
      """SELECT media_id,
        |  CAST(CASE WHEN n < 64 THEN 0 ELSE ((n // 64) + 1) // 2 END AS INT)
        |    AS n_frames
        |FROM (SELECT doc_id AS media_id,
        |        octet_length(CAST(text AS BLOB)) AS n FROM documents)
        |ORDER BY media_id""".stripMargin,
    // imageio twin: the decoded metadata is arithmetic over doc_id by
    // construction (TYPE_INT_RGB always decodes to 3 components)
    "mm_imageio_roundtrip" ->
      """SELECT doc_id AS media_id, 'png' AS format,
        |  CAST(2 + doc_id % 7 AS INT) AS width,
        |  CAST(2 + doc_id % 5 AS INT) AS height,
        |  CAST(3 AS INT) AS n_channels
        |FROM documents ORDER BY media_id""".stripMargin,
    // perplexity twin: identical tokenization to text_repetition's, the
    // same add-one smoothed bigram estimates built from grouped counts —
    // the MODEL TRAINING is part of what the hash checks
    // DSIR twin: both feature models from the same bigram stream; target
    // ⊆ raw, so raw's support IS the union support (cr LEFT JOIN ct ≡ the
    // engine's full join); same add-one smoothing as the perplexity twin
    "dsir_weights" ->
      """WITH toks AS (
        |  SELECT doc_id, source,
        |    list_filter(string_split_regex(lower(trim(text)), '\s+'),
        |      x -> x <> '') AS w
        |  FROM documents),
        |bg AS (
        |  SELECT doc_id, source, w[i] || ' ' || w[i+1] AS g
        |  FROM toks, LATERAL unnest(generate_series(1, len(w)-1)) AS t(i)
        |  WHERE len(w) >= 2),
        |ct AS (SELECT g, count(*) AS c_t FROM bg
        |       WHERE source = 'src1' GROUP BY g),
        |cr AS (SELECT g, count(*) AS c_r FROM bg GROUP BY g),
        |tot AS (
        |  SELECT count(*) AS v, coalesce(sum(c_t), 0) AS nt,
        |    coalesce(sum(c_r), 0) AS nr
        |  FROM cr LEFT JOIN ct USING (g)),
        |sc AS (
        |  SELECT bg.doc_id,
        |    ln((coalesce(ct.c_t, 0) + 1.0) / (tot.nt + tot.v)) -
        |    ln((cr.c_r + 1.0) / (tot.nr + tot.v)) AS lw
        |  FROM bg JOIN cr USING (g) LEFT JOIN ct USING (g) CROSS JOIN tot)
        |SELECT doc_id, count(*) AS n_feats, round(sum(lw), 6) AS logw
        |FROM sc GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "text_perplexity" ->
      """WITH toks AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(lower(trim(text)), '\s+'),
        |      x -> x <> '') AS w
        |  FROM documents),
        |bg AS (
        |  SELECT doc_id, w[i] AS p, w[i+1] AS n
        |  FROM toks, LATERAL unnest(generate_series(1, len(w)-1)) AS t(i)
        |  WHERE len(w) >= 2),
        |cb AS (SELECT p, n, count(*) AS cbn FROM bg GROUP BY p, n),
        |cp AS (SELECT p, sum(cbn) AS cpn FROM cb GROUP BY p),
        |v AS (SELECT count(*) AS vocab FROM
        |  (SELECT DISTINCT p AS w FROM cb UNION SELECT DISTINCT n FROM cb)),
        |sc AS (
        |  SELECT bg.doc_id, ln((cb.cbn + 1.0) / (cp.cpn + v.vocab)) AS lp
        |  FROM bg JOIN cb USING (p, n) JOIN cp USING (p) CROSS JOIN v)
        |SELECT doc_id, count(*) AS n_bigrams,
        |  round(exp(-avg(lp)), 4) AS ppl
        |FROM sc GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    // trigram twin: every count table from the same full token stream,
    // identical join keys, identical interpolation association
    "text_perplexity_trigram" ->
      """WITH toks AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(lower(trim(text)), '\s+'),
        |      x -> x <> '') AS lst
        |  FROM documents),
        |uni AS (
        |  SELECT w, count(*) AS c1
        |  FROM (SELECT unnest(lst) AS w FROM toks) GROUP BY w),
        |tot AS (SELECT sum(c1) AS n_tokens, count(*) AS vocab FROM uni),
        |bg AS (
        |  SELECT lst[i] AS v, lst[i+1] AS w
        |  FROM toks, LATERAL unnest(generate_series(1, len(lst)-1)) AS t(i)
        |  WHERE len(lst) >= 2),
        |bi AS (SELECT v, w, count(*) AS c2 FROM bg GROUP BY v, w),
        |bictx AS (SELECT v, sum(c2) AS c2ctx FROM bi GROUP BY v),
        |tg AS (
        |  SELECT doc_id, lst[i] AS u, lst[i+1] AS v, lst[i+2] AS w
        |  FROM toks, LATERAL unnest(generate_series(1, len(lst)-2)) AS t(i)
        |  WHERE len(lst) >= 3),
        |tri AS (SELECT u, v, w, count(*) AS c3 FROM tg GROUP BY u, v, w),
        |trictx AS (SELECT u, v, sum(c3) AS c3ctx FROM tri GROUP BY u, v),
        |sc AS (
        |  SELECT tg.doc_id,
        |    ln(0.6 * ((coalesce(c3, 0) + 1.0) /
        |          (coalesce(c3ctx, 0) + vocab)) +
        |       0.3 * ((coalesce(c2, 0) + 1.0) /
        |          (coalesce(c2ctx, 0) + vocab)) +
        |       0.1 * ((coalesce(c1, 0) + 1.0) /
        |          (n_tokens + vocab))) AS lp
        |  FROM tg LEFT JOIN tri USING (u, v, w)
        |  LEFT JOIN trictx USING (u, v)
        |  LEFT JOIN bi USING (v, w) LEFT JOIN bictx USING (v)
        |  LEFT JOIN uni USING (w) CROSS JOIN tot)
        |SELECT doc_id, count(*) AS n_trigrams,
        |  round(exp(-avg(lp)), 4) AS ppl
        |FROM sc GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    // frozen-LM twin: the text_perplexity model restricted to the even-id
    // training half, scoring the odd half — left joins degrade unseen
    // bigrams to the smoothing floor exactly like the engine's sidecar path
    "text_perplexity_frozen" ->
      """WITH toks AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(lower(trim(text)), '\s+'),
        |      x -> x <> '') AS w
        |  FROM documents),
        |bg AS (
        |  SELECT doc_id, w[i] AS p, w[i+1] AS n
        |  FROM toks, LATERAL unnest(generate_series(1, len(w)-1)) AS t(i)
        |  WHERE len(w) >= 2),
        |tbg AS (SELECT * FROM bg WHERE doc_id % 2 = 0),
        |cb AS (SELECT p, n, count(*) AS cbn FROM tbg GROUP BY p, n),
        |cp AS (SELECT p, sum(cbn) AS cpn FROM cb GROUP BY p),
        |v AS (SELECT count(*) AS vocab FROM
        |  (SELECT DISTINCT p AS w FROM cb UNION SELECT DISTINCT n FROM cb)),
        |sc AS (
        |  SELECT bg.doc_id,
        |    ln((coalesce(cb.cbn, 0) + 1.0) /
        |       (coalesce(cp.cpn, 0) + v.vocab)) AS lp
        |  FROM bg LEFT JOIN cb USING (p, n) LEFT JOIN cp USING (p)
        |  CROSS JOIN v
        |  WHERE bg.doc_id % 2 = 1)
        |SELECT doc_id, count(*) AS n_bigrams,
        |  round(exp(-avg(lp)), 4) AS ppl
        |FROM sc GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    // fuzzy-join twin: the naive quadratic with the same verify predicate
    // (the length blocking is exact-complete, so the pair sets agree)
    "q_fuzzy_join" ->
      """WITH t AS (
        |  SELECT CAST(p_partkey AS BIGINT) AS id, p_name AS name FROM part),
        |probes AS (
        |  SELECT id AS probe_id, name AS probe_name FROM t
        |  WHERE id % 97 = 0)
        |SELECT probe_id, b.id AS match_id, b.name AS match_name,
        |  CAST(levenshtein(probe_name, b.name) AS INT) AS distance
        |FROM probes, t b
        |WHERE b.id <> probe_id AND levenshtein(probe_name, b.name) <= 1
        |ORDER BY probe_id, match_id""".stripMargin,
    // fuzzy-selfjoin twin: the naive quadratic with a (complete) length
    // prefilter — the segment blocking is exact-complete, so the pair
    // sets agree
    "q_fuzzy_selfjoin" ->
      """WITH t AS (
        |  SELECT CAST(c_custkey AS BIGINT) AS id, c_name AS name
        |  FROM customer)
        |SELECT a.id AS id_a, b.id AS id_b,
        |  CAST(levenshtein(a.name, b.name) AS INT) AS distance
        |FROM t a JOIN t b ON a.id < b.id
        |WHERE abs(length(a.name) - length(b.name)) <= 1
        |  AND levenshtein(a.name, b.name) <= 1
        |ORDER BY id_a, id_b""".stripMargin,
    // gif twin: frame counts are arithmetic over doc_id by construction
    // (stride 2 keeps ceil(n/2) frames)
    "mm_gif_frames" ->
      """SELECT doc_id AS media_id,
        |  CAST(1 + doc_id % 5 AS INT) AS n_frames,
        |  CAST((1 + doc_id % 5 + 1) // 2 AS INT) AS n_sampled
        |FROM documents ORDER BY media_id""".stripMargin,
    // wav twin: header fields are arithmetic over doc_id by construction
    // (fixed 8 kHz rate; javax.sound preserves frames/channels exactly)
    "mm_wav_roundtrip" ->
      """SELECT doc_id AS media_id, 'wav' AS format,
        |  CAST(8 + doc_id % 32 AS INT) AS n_frames,
        |  CAST(8000 AS INT) AS sample_rate,
        |  CAST(1 + doc_id % 2 AS INT) AS n_channels
        |FROM documents ORDER BY media_id""".stripMargin,
    // partitioned-merge twin: identical keep-latest semantics to
    // q_merge_upsert (the partition scoping changes WHICH FILES are
    // rewritten, never the surviving rows), plus the key-stable bucket
    "q_merge_partitioned" ->
      """WITH a AS (
        |  SELECT *, CASE WHEN o_orderkey % 3 = 0 THEN 1 ELSE 0 END AS src
        |  FROM orders),
        |r AS (
        |  SELECT *, row_number() OVER (PARTITION BY o_custkey
        |    ORDER BY o_orderkey DESC, src DESC) AS rn
        |  FROM a)
        |SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
        |  o_orderdate, o_orderpriority,
        |  CAST(o_custkey % 4 AS INT) AS pbucket
        |FROM r WHERE rn = 1 ORDER BY o_custkey""".stripMargin,
    // divergence twin: identical smoothing + the BM25-oracle decimal-sum
    // convention (per-token contribution rounded at 9, exact decimal sum,
    // final round at 6) so float summation order can't split the engines
    "q_token_divergence" -> (tokenCountsSqlPrefix +
      """
        |SELECT v AS vocab, na AS n_a, nb AS n_b,
        |  round(CAST(sum(CAST(round(p * ln(p / q), 9)
        |    AS DECIMAL(38,12))) AS DOUBLE), 6) AS kl_ab,
        |  round(CAST(sum(CAST(round(q * ln(q / p), 9)
        |    AS DECIMAL(38,12))) AS DOUBLE), 6) AS kl_ba,
        |  round(CAST(sum(CAST(round(p / 2 * ln(2 * p / (p + q))
        |    + q / 2 * ln(2 * q / (p + q)), 9)
        |    AS DECIMAL(38,12))) AS DOUBLE), 6) AS js
        |FROM c GROUP BY v, na, nb""".stripMargin),
    "q_token_shift" -> (tokenCountsSqlPrefix +
      """
        |SELECT * FROM (
        |  SELECT token, ca AS c_a, cb AS c_b,
        |    round(ln(p / q), 6) AS log_ratio
        |  FROM c ORDER BY abs(round(ln(p / q), 6)) DESC, token LIMIT 20)
        |ORDER BY token""".stripMargin),
    // AUC twin: distinct-score histogram + midrank Mann-Whitney, exact
    // longs until the one division
    "q_auc" ->
      """WITH s AS (SELECT n_chars AS sc,
        |    CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y FROM documents),
        |h AS (SELECT sc, CAST(sum(y) AS BIGINT) AS p,
        |    CAST(sum(1 - y) AS BIGINT) AS n FROM s GROUP BY sc),
        |w AS (SELECT p, n, coalesce(sum(n) OVER (ORDER BY sc
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cumn
        |  FROM h)
        |SELECT CAST(sum(p) AS BIGINT) AS n_pos,
        |  CAST(sum(n) AS BIGINT) AS n_neg,
        |  round(CAST(sum(p * (2 * cumn + n)) AS DOUBLE) /
        |    (2.0 * sum(p) * sum(n)), 6) AS auc
        |FROM w""".stripMargin,
    "q_pr_curve" ->
      """WITH s AS (SELECT n_chars AS sc,
        |    CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y FROM documents),
        |h AS (SELECT sc, CAST(sum(y) AS BIGINT) AS p,
        |    CAST(sum(1 - y) AS BIGINT) AS n FROM s GROUP BY sc),
        |w AS (SELECT sc AS threshold,
        |    CAST(sum(p) OVER (ORDER BY sc DESC
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |      AS tp,
        |    CAST(sum(n) OVER (ORDER BY sc DESC
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |      AS fp
        |  FROM h),
        |t AS (SELECT CAST(sum(p) AS BIGINT) AS np FROM h)
        |SELECT threshold, tp, fp,
        |  round(CAST(tp AS DOUBLE) / (tp + fp), 6) AS precision,
        |  round(CAST(tp AS DOUBLE) / np, 6) AS recall,
        |  round(2.0 * tp / (2.0 * tp + fp + (np - tp)), 6) AS f1
        |FROM w CROSS JOIN t ORDER BY threshold""".stripMargin,
    "q_manifest" ->
      """SELECT doc_id, md5(text) AS fingerprint,
        |  CAST(octet_length(CAST(text AS BLOB)) AS BIGINT) AS n_bytes
        |FROM documents ORDER BY doc_id""".stripMargin,
    "q_manifest_diff" -> (manifestDiffSqlPrefix +
      """
        |SELECT doc_id, status, old_fingerprint, new_fingerprint
        |FROM d WHERE status <> 'unchanged' ORDER BY doc_id""".stripMargin),
    "q_manifest_diff_summary" -> (manifestDiffSqlPrefix +
      """
        |SELECT status, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(coalesce(sum(CASE WHEN status = 'removed' THEN old_bytes
        |    ELSE new_bytes END), 0) AS BIGINT) AS n_bytes
        |FROM d WHERE status <> 'unchanged'
        |GROUP BY status ORDER BY status""".stripMargin))

  /** Shared CTE for the manifest-diff twins: the two snapshot manifests
    * and the statused full-outer join.
    */
  private def manifestDiffSqlPrefix: String =
    """WITH a AS (
      |  SELECT doc_id, md5(text) AS old_fingerprint,
      |    CAST(octet_length(CAST(text AS BLOB)) AS BIGINT) AS old_bytes
      |  FROM documents WHERE doc_id % 7 <> 0),
      |b AS (
      |  SELECT doc_id,
      |    md5(CASE WHEN doc_id % 11 = 0 THEN text || ' v2' ELSE text END)
      |      AS new_fingerprint,
      |    CAST(octet_length(CAST(CASE WHEN doc_id % 11 = 0
      |      THEN text || ' v2' ELSE text END AS BLOB)) AS BIGINT)
      |      AS new_bytes
      |  FROM documents WHERE doc_id % 5 <> 0),
      |d AS (
      |  SELECT coalesce(a.doc_id, b.doc_id) AS doc_id,
      |    CASE WHEN old_fingerprint IS NULL THEN 'added'
      |      WHEN new_fingerprint IS NULL THEN 'removed'
      |      WHEN old_fingerprint <> new_fingerprint THEN 'changed'
      |      ELSE 'unchanged' END AS status,
      |    old_fingerprint, new_fingerprint, old_bytes, new_bytes
      |  FROM a FULL JOIN b ON a.doc_id = b.doc_id)""".stripMargin

  /** Shared CTE prefix for the divergence twins: per-token counts of the
    * two slices, full-outer joined, with the add-one smoothed p/q.
    * (A def, not a val: it is referenced from the `oracles` initializer
    * above, and object vals initialize in declaration order.)
    */
  private def tokenCountsSqlPrefix: String =
    """WITH ta AS (SELECT unnest(list_filter(
      |    string_split_regex(lower(trim(text)), '\s+'), x -> x <> ''))
      |    AS token FROM documents WHERE lang = 'en'),
      |tb AS (SELECT unnest(list_filter(
      |    string_split_regex(lower(trim(text)), '\s+'), x -> x <> ''))
      |    AS token FROM documents WHERE lang <> 'en'),
      |ka AS (SELECT token, count(*) AS ca FROM ta GROUP BY token),
      |kb AS (SELECT token, count(*) AS cb FROM tb GROUP BY token),
      |j AS (SELECT coalesce(ka.token, kb.token) AS token,
      |    coalesce(ca, 0) AS ca, coalesce(cb, 0) AS cb
      |  FROM ka FULL JOIN kb ON ka.token = kb.token),
      |t AS (SELECT count(*) AS v, CAST(sum(ca) AS BIGINT) AS na,
      |    CAST(sum(cb) AS BIGINT) AS nb FROM j),
      |c AS (SELECT token, ca, cb, v, na, nb,
      |    (ca + 1.0) / (na + v) AS p, (cb + 1.0) / (nb + v) AS q
      |  FROM j CROSS JOIN t)""".stripMargin

  /** The BM25 ground truth shared by the scan-path row (q_bm25_topk) and
    * the index-backed row (q_bm25_indexed): same tokenization, Lucene
    * positive idf, identical operator association per term, 6-decimal
    * per-term round summed as DECIMAL, doc_id tie-break on the top-20
    * cut. (A def, not a val — object vals initialize in declaration
    * order and the oracles map above would read null.)
    */
  private def bm25TopkOracleSql: String =
    """WITH toks AS (
      |  SELECT doc_id, unnest(list_filter(
      |    string_split_regex(lower(trim(text)), '\s+'), x -> x <> ''))
      |    AS token
      |  FROM documents),
      |lens AS (SELECT doc_id, count(*) AS blen FROM toks GROUP BY doc_id),
      |stats AS (
      |  SELECT count(*) AS n_docs,
      |    avg(coalesce(blen, 0)) AS avgdl
      |  FROM documents LEFT JOIN lens USING (doc_id)),
      |tf AS (
      |  SELECT doc_id, token, count(*) AS tfreq FROM toks
      |  WHERE token IN ('hash', 'join', 'vector')
      |  GROUP BY doc_id, token),
      |dfreq AS (SELECT token, count(*) AS dfc FROM tf GROUP BY token),
      |scored AS (
      |  SELECT doc_id,
      |    ln(1.0 + (n_docs - dfc + 0.5) / (dfc + 0.5)) *
      |      (tfreq * (1.2 + 1.0)) /
      |      (tfreq + 1.2 * (0.25 + 0.75 * blen / avgdl)) AS term_score
      |  FROM tf JOIN dfreq USING (token) JOIN lens USING (doc_id)
      |  CROSS JOIN stats),
      |agg AS (
      |  SELECT doc_id,
      |    CAST(sum(CAST(round(term_score, 6) AS DECIMAL(18,6)))
      |      AS DOUBLE) AS bm25
      |  FROM scored GROUP BY doc_id)
      |SELECT * FROM (
      |  SELECT doc_id, bm25 FROM agg
      |  ORDER BY bm25 DESC, doc_id LIMIT 20)
      |ORDER BY doc_id""".stripMargin

  /** The batched-BM25 ground truth shared by q_bm25_batched (scan) and
    * q_bm25_indexed_batched (index serve): the corpus CTEs are
    * q_bm25_topk's verbatim, the query table is an inline VALUES list,
    * each query joins back its own terms' tf rows.
    */
  private def bm25BatchedOracleSql: String =
    """WITH queries(query_id, token) AS (
        |  VALUES (1, 'hash'), (1, 'join'), (2, 'vector'), (2, 'spark'),
        |    (3, 'customer')),
        |toks AS (
        |  SELECT doc_id, unnest(list_filter(
        |    string_split_regex(lower(trim(text)), '\s+'), x -> x <> ''))
        |    AS token
        |  FROM documents),
        |lens AS (SELECT doc_id, count(*) AS blen FROM toks GROUP BY doc_id),
        |stats AS (
        |  SELECT count(*) AS n_docs,
        |    avg(coalesce(blen, 0)) AS avgdl
        |  FROM documents LEFT JOIN lens USING (doc_id)),
        |tf AS (
        |  SELECT doc_id, token, count(*) AS tfreq FROM toks
        |  WHERE token IN (SELECT token FROM queries)
        |  GROUP BY doc_id, token),
        |dfreq AS (SELECT token, count(*) AS dfc FROM tf GROUP BY token),
        |scored AS (
        |  SELECT query_id, doc_id,
        |    ln(1.0 + (n_docs - dfc + 0.5) / (dfc + 0.5)) *
        |      (tfreq * (1.2 + 1.0)) /
        |      (tfreq + 1.2 * (0.25 + 0.75 * blen / avgdl)) AS term_score
        |  FROM tf JOIN dfreq USING (token) JOIN queries USING (token)
        |  JOIN lens USING (doc_id) CROSS JOIN stats),
        |agg AS (
        |  SELECT query_id, doc_id,
        |    CAST(sum(CAST(round(term_score, 6) AS DECIMAL(18,6)))
        |      AS DOUBLE) AS bm25
        |  FROM scored GROUP BY query_id, doc_id),
        |r AS (
        |  SELECT query_id, doc_id, bm25,
        |    row_number() OVER (PARTITION BY query_id
        |      ORDER BY bm25 DESC, doc_id) AS rn
        |  FROM agg)
        |SELECT CAST(query_id AS BIGINT) AS query_id, doc_id, bm25
        |FROM r WHERE rn <= 10 ORDER BY query_id, doc_id""".stripMargin

  /** The SCD2 ground truth shared by q_scd2 and q_scd2_incremental:
    * change rows by null-safe per-column comparison against the key's
    * previous version, validity chained by lead over the kept rows.
    */
  private def scd2OracleSql: String =
    """WITH ordered AS (
      |  SELECT o_custkey, o_orderkey, o_orderstatus, o_orderpriority,
      |    row_number() OVER w AS rn,
      |    lag(o_orderstatus) OVER w AS pst,
      |    lag(o_orderpriority) OVER w AS ppr
      |  FROM orders
      |  WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderkey)),
      |kept AS (
      |  SELECT o_custkey, o_orderkey AS valid_from, o_orderstatus,
      |    o_orderpriority
      |  FROM ordered
      |  WHERE rn = 1 OR (o_orderstatus IS DISTINCT FROM pst)
      |     OR (o_orderpriority IS DISTINCT FROM ppr))
      |SELECT o_custkey, valid_from, o_orderstatus, o_orderpriority,
      |  lead(valid_from) OVER w2 AS valid_to,
      |  (lead(valid_from) OVER w2) IS NULL AS is_current
      |FROM kept
      |WINDOW w2 AS (PARTITION BY o_custkey ORDER BY valid_from)
      |ORDER BY o_custkey, valid_from""".stripMargin

  /** The daily-order CUSUM CTEs shared by q_cusum and q_changepoint:
    * exact BIGINT running sums over the day-grouped series; the one
    * float enters at the mean, mirroring Profile.cusum's arithmetic
    * order exactly.
    */
  private def cusumOracleCtes: String =
    """WITH daily AS (
      |  SELECT CAST(o_orderdate AS DATE) AS day, count(*) AS value
      |  FROM orders GROUP BY 1),
      |t AS (SELECT CAST(sum(value) AS BIGINT) AS total, count(*) AS n
      |  FROM daily),
      |c AS (SELECT day, value,
      |    CAST(sum(value) OVER (ORDER BY day) AS BIGINT) AS rsum,
      |    row_number() OVER (ORDER BY day) AS rn
      |  FROM daily)
      |""".stripMargin

  /** The snippet twin shared by q_snippets (flat corpus fetch) and
    * q_snippets_stored (key-bucketed forward-store fetch): BM25
    * top-20 CTEs verbatim, then per winner the hit-anchored window
    * argmax (count desc, start asc) and the same token-stream slice;
    * engine positions are 0-based, DuckDB subscripts 1-based — the
    * start converts, the slice is identical.
    */
  private def snippetsOracleSql: String =
        """WITH toks AS (
          |  SELECT doc_id,
          |    unnest(list_filter(
          |      string_split_regex(lower(trim(text)), '\s+'), x -> x <> ''))
          |      AS token,
          |    generate_subscripts(list_filter(
          |      string_split_regex(lower(trim(text)), '\s+'), x -> x <> ''), 1)
          |      AS pos
          |  FROM documents),
          |lens AS (SELECT doc_id, count(*) AS blen FROM toks GROUP BY doc_id),
          |stats AS (
          |  SELECT count(*) AS n_docs,
          |    avg(coalesce(blen, 0)) AS avgdl
          |  FROM documents LEFT JOIN lens USING (doc_id)),
          |tf AS (
          |  SELECT doc_id, token, count(*) AS tfreq FROM toks
          |  WHERE token IN ('hash', 'join', 'vector')
          |  GROUP BY doc_id, token),
          |dfreq AS (SELECT token, count(*) AS dfc FROM tf GROUP BY token),
          |scored AS (
          |  SELECT doc_id,
          |    ln(1.0 + (n_docs - dfc + 0.5) / (dfc + 0.5)) *
          |      (tfreq * (1.2 + 1.0)) /
          |      (tfreq + 1.2 * (0.25 + 0.75 * blen / avgdl)) AS term_score
          |  FROM tf JOIN dfreq USING (token) JOIN lens USING (doc_id)
          |  CROSS JOIN stats),
          |agg AS (
          |  SELECT doc_id,
          |    CAST(sum(CAST(round(term_score, 6) AS DECIMAL(18,6)))
          |      AS DOUBLE) AS bm25
          |  FROM scored GROUP BY doc_id),
          |top AS (
          |  SELECT doc_id, bm25 FROM agg
          |  ORDER BY bm25 DESC, doc_id LIMIT 20),
          |hits AS (
          |  SELECT doc_id, pos FROM toks
          |  WHERE token IN ('hash', 'join', 'vector')
          |    AND doc_id IN (SELECT doc_id FROM top)),
          |cand AS (
          |  SELECT h.doc_id, h.pos AS s,
          |    (SELECT count(*) FROM hits h2 WHERE h2.doc_id = h.doc_id
          |      AND h2.pos BETWEEN h.pos AND h.pos + 7) AS cnt
          |  FROM hits h),
          |best AS (
          |  SELECT doc_id, s FROM (
          |    SELECT doc_id, s,
          |      row_number() OVER (PARTITION BY doc_id
          |        ORDER BY cnt DESC, s ASC) AS rn
          |    FROM cand) WHERE rn = 1),
          |lists AS (
          |  SELECT doc_id,
          |    list_filter(string_split_regex(lower(trim(text)), '\s+'),
          |      x -> x <> '') AS tl
          |  FROM documents WHERE doc_id IN (SELECT doc_id FROM top))
          |SELECT t.doc_id, t.bm25,
          |  CAST(b.s - 1 AS BIGINT) AS snippet_start,
          |  array_to_string(list_slice(l.tl, b.s, b.s + 7), ' ') AS snippet
          |FROM top t JOIN best b USING (doc_id) JOIN lists l USING (doc_id)
          |ORDER BY doc_id""".stripMargin
}
