package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Observation, SparkSession}
import org.apache.spark.sql.GraftBridge
import org.apache.spark.sql.functions._

/** An edge set on disk plus the state an incremental graph operator keeps
  * over it: the store behind [[Graph.updateLocalPprStore]],
  * [[Graph.updatePageRankStore]], [[Graph.updateTriangleCensus]] and
  * [[Graph.updateCommunityStore]]. The operators supply only a full body
  * (state from every edge) and a delta body (the stored state folded
  * forward by the new edges); the store owns the protocol.
  *
  * Layout: `edges/` holds the canonical edge rows; the state directory
  * holds the state rows plus hidden files: `_edges_sig`, the
  * `bit_xor(xxhash64(<edge columns>))` signature of the edge set the
  * state covers, and one file per pin (a parameter the state encodes,
  * such as `_damping`).
  *
  * One [[update]] is one flow:
  *  - the batch arrives canonical and is anti-joined against the stored
  *    edges; the stored edges' signature is observed on that scan, and
  *    the new edges' signature and count on the same job, so the merged
  *    signature is `sig(old) XOR sig(new)` (bit_xor is its own inverse,
  *    and the anti-join makes the two disjoint);
  *  - on creation, a missing state or a stored signature other than the
  *    stored edges', the full body rebuilds the state from every edge;
  *  - with no new edge and a matching signature, nothing is written;
  *  - otherwise the delta body folds the new edges in.
  *
  * Crash contract: the new edges are appended BEFORE the state, and the
  * state installs with its signature and pins in one
  * [[graft.sources.Compaction.replace]] rename. A crash between the two
  * leaves edges ahead of the state, whose signature then matches neither
  * the stored edges nor anything the next batch makes: the next update
  * heals by a full rebuild over every delivered edge, so no batch is
  * dropped and stale state never compounds. The reverse order would lose
  * a crashed batch: a state claiming edges the store never received.
  *
  * Re-sent edges (same key columns) dedupe against the store; a changed
  * weight on a stored edge is not folded in (rebuild the store for it).
  * Every returned state is materialized (a checkpoint or a local frame),
  * so a held result survives the next update's swap of the state files.
  */
private[operators] object EdgeStore {

  /** What a delta body folds: the stored edges before the batch (a read),
    * the batch's new edges and the union of the two (both checkpointed),
    * and a read of the stored state. */
  final case class Delta(old: DataFrame, added: DataFrame, all: DataFrame,
                         state: DataFrame)

  /** Folds `batch` (canonical rows, unique on `keys`) into the store at
    * `path` and returns the installed state with the body that made it:
    * "noop", "full" or "incremental".
    * `full` and `delta` must return a materialized frame holding exactly
    * the state's columns. A pin that differs from the stored one fails
    * before anything is read.
    */
  def update(spark: SparkSession, path: String, batch: DataFrame,
             keys: Seq[String], stateDir: String = "state",
             pins: Map[String, String] = Map.empty)
            (full: DataFrame => DataFrame, delta: Delta => DataFrame)
      : (DataFrame, String) = {
    val edgesPath = s"$path/edges"
    val statePath = s"$path/$stateDir"
    def hidden(name: String): Option[String] = {
      val f = new java.io.File(statePath, "_" + name)
      if (f.exists()) Some(java.nio.file.Files.readString(f.toPath).trim)
      else None
    }
    pins.foreach { case (k, v) => hidden(k).foreach(was => require(was == v,
      s"store at $path was created with $k=$was, not $v — the state " +
        "encodes it")) }
    val storedSig = hidden("edges_sig").map(_.toLong)
    val sigAgg = bit_xor(xxhash64(batch.columns.toSeq.map(col): _*))
    def sigOf(df: DataFrame): Long =
      Option(df.agg(sigAgg).head().get(0)).fold(0L)(_.asInstanceOf[Long])
    def install(st: DataFrame, sig: Long): Unit =
      graft.sources.Compaction.replace(statePath, "staged") { staging =>
        st.write.parquet(staging.toString)
        (pins + ("edges_sig" -> sig.toString)).foreach { case (k, v) =>
          java.nio.file.Files.writeString(
            new java.io.File(staging, "_" + k).toPath, v)
        }
        true
      }
    if (!new java.io.File(edgesPath).exists()) {
      val (all, allSig, _) = signed(batch, sigAgg)
      try {
        val st = full(all)
        all.write.mode("overwrite").parquet(edgesPath)
        install(st, allSig)
        (st, "full")
      } finally GraftBridge.unpersistCheckpoint(all)
    } else {
      val old = spark.read.parquet(edgesPath)
      val oldObs = new Observation
      val (added, addedSig, addedRows) = signed(
        batch.join(old.observe(oldObs, sigAgg.as("sig")), keys, "left_anti"),
        sigAgg)
      try {
        // the metric node is pruned when AQE folds an empty batch's
        // anti-join without scanning the store: pay the scan then
        val oldSig = GraftBridge.observedOrEmpty(oldObs).get("sig") match {
          case Some(null) => 0L
          case Some(s) => s.asInstanceOf[Long]
          case None => sigOf(old)
        }
        val current = storedSig.contains(oldSig)
        if (addedRows == 0 && current)
          (spark.read.parquet(statePath).localCheckpoint(true), "noop")
        else {
          val all = old.unionAll(added).localCheckpoint(true)
          try {
            val (st, mode) =
              if (current)
                (delta(Delta(old, added, all, spark.read.parquet(statePath))),
                  "incremental")
              else (full(all), "full")
            if (addedRows > 0) added.write.mode("append").parquet(edgesPath)
            install(st, oldSig ^ addedSig)
            (st, mode)
          } finally GraftBridge.unpersistCheckpoint(all)
        }
      } finally GraftBridge.unpersistCheckpoint(added)
    }
  }

  /** `df` checkpointed, with its signature and row count observed on the
    * checkpoint job (explicit scans of the checkpoint when the metric is
    * not delivered). */
  private def signed(df: DataFrame, sigAgg: Column)
      : (DataFrame, Long, Long) = {
    val obs = new Observation
    val t0 = System.nanoTime()
    val cp = df.observe(obs, sigAgg.as("sig"), count(lit(1)).as("n"))
      .localCheckpoint(true)
    val wait = math.max(3000L, 3L * (System.nanoTime() - t0) / 1000000L)
    val m = GraftBridge.observedOrEmpty(obs, wait)
    (m.get("sig"), m.get("n")) match {
      case (Some(s), Some(n)) =>
        (cp, Option(s).fold(0L)(_.asInstanceOf[Long]), n.asInstanceOf[Long])
      case _ =>
        val r = cp.agg(sigAgg, count(lit(1))).head()
        (cp, if (r.isNullAt(0)) 0L else r.getLong(0), r.getLong(1))
    }
  }
}
