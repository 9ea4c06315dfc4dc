package graft.sources

import java.io.File
import org.apache.spark.sql.SparkSession

/** Small-files compaction — the routine maintenance pass every append-heavy
  * table needs (ingest batches, streaming sinks, corpus appends all
  * accumulate files). Many small files are the silent scan-throughput
  * killer at 100 TB: per-file open/footer cost dominates, row groups are
  * too small for min-max stats to prune anything, and task scheduling
  * overhead swamps the actual read.
  *
  * The rewrite is `coalesce`, NOT `repartition`: no shuffle — co-located
  * splits merge on read — and existing file-internal sort order (e.g. a
  * [[ZOrder]] clustering) is concatenated, not destroyed. The swap is
  * rename-based, which is atomic on a real filesystem; object stores want
  * a manifest-commit (Delta/Iceberg) instead — this models the compute
  * side of that operation.
  */
object Compaction {

  private def parquetFiles(dir: File): Array[File] =
    Option(dir.listFiles()).getOrElse(Array.empty)
      .filter(f => f.isFile && f.getName.endsWith(".parquet"))

  private def hidden(name: String): Boolean =
    name.startsWith(".") || name.startsWith("_")

  /** The parquet part files a scan of `dir` reads: recursive, hidden
    * (`.`/`_`-prefixed) files and subdirectories skipped. */
  private[graft] def partFiles(dir: File): Seq[File] =
    Option(dir.listFiles()).getOrElse(Array.empty).toSeq
      .filterNot(f => hidden(f.getName)).sortBy(_.getName)
      .flatMap(f =>
        if (f.isDirectory) partFiles(f)
        else if (f.getName.endsWith(".parquet")) Seq(f)
        else Nil)

  /** Read parquet directories whatever their own names. Spark ignores a
    * read root whose name is hidden (`.x` staging, `_x` receipts and
    * ledgers), logs "All paths were ignored" for it and reads it anyway
    * only through a listing detail; a hidden directory is therefore read
    * by its part files ([[partFiles]]; `basePath` keeps a partitioned
    * layout's partition columns), while a file root is read as named.
    * Visible directories are read as plain roots.
    */
  def readParquet(spark: SparkSession, dirs: Seq[String],
                  options: Map[String, String] = Map.empty)
      : org.apache.spark.sql.DataFrame = {
    val reader = spark.read.options(options)
    if (!dirs.exists(d => hidden(new File(d).getName))) reader.parquet(dirs: _*)
    else
      (if (dirs.size == 1) reader.option("basePath", dirs.head) else reader)
        .parquet(dirs.flatMap(d => partFiles(new File(d))).map(_.getPath): _*)
  }

  /** Staging sibling for a rewrite of `dir`, named `.<name>__<suffix>`.
    * The dot prefix is load-bearing: staging/retired directories for a
    * PARTITION LEAF (`data/cell=3`) live inside the partitioned table
    * root, where Spark's partition discovery would otherwise pick up
    * `cell=3__compacting` as an extra conflicting partition — duplicated
    * rows (or a CONFLICTING_PARTITION_COLUMN_NAMES failure) for any
    * concurrent reader, or any reader after a crash left the dir behind.
    * It must be `.`, not `_`: Spark's listing filter exempts
    * `_`-prefixed names that CONTAIN `=` (they parse as partition dirs —
    * `_cell=3__compacting` is read as a `_cell` column), while
    * dot-prefixed names are unconditionally invisible.
    */
  private[graft] def stagingDir(dir: File, suffix: String): File =
    new File(dir.getParentFile, "." + dir.getName + "__" + suffix)

  /** Compact `path` to roughly `targetBytes`-sized files. A table
    * already at or below that file count is left as it is: no staging,
    * no Spark job, the same files. `readOptions` flow into the scan of
    * the table being rewritten, as in [[retractRows]] (a table spanning
    * schema generations must pass `mergeSchema=true`).
    * Returns (files before, files after).
    */
  def compact(spark: SparkSession, path: String,
              targetBytes: Long = 128L * 1024 * 1024,
              readOptions: Map[String, String] = Map.empty): (Int, Int) = {
    require(targetBytes > 0)
    val dir = new File(path)
    restoreRetired(dir)
    val before = parquetFiles(dir)
    val totalBytes = before.map(_.length()).sum
    val n = math.max(1L, (totalBytes + targetBytes - 1) / targetBytes).toInt
    if (before.length <= n) return (before.length, before.length)
    replace(path, "compacting") { staging =>
      readParquet(spark, Seq(path), readOptions).coalesce(n)
        .write.parquet(staging.toString)
      true
    }
    (before.length, parquetFiles(dir).length)
  }

  /** Run `f` over `xs` on a bounded thread pool — the leaf-rewrite
    * parallelizer: a pruned takedown touches K independent partition
    * leaves (disjoint directories, disjoint staging), and a sequential
    * driver loop pays K full job round-trips where the cluster could
    * overlap them. Spark schedules concurrent actions from separate
    * threads fine (FIFO interleave); `parallelism` bounds the number of
    * in-flight leaf jobs so a wide takedown cannot flood the scheduler.
    * The first failure propagates after all submitted work settles —
    * every leaf rewrite in this repo is idempotent, so a failed batch
    * re-runs safely.
    */
  private[graft] def parEach[A](xs: Seq[A], parallelism: Int = 8)
                               (f: A => Unit): Unit = {
    if (xs.sizeIs <= 1) { xs.foreach(f); return }
    val pool = java.util.concurrent.Executors
      .newFixedThreadPool(math.min(parallelism, xs.size))
    try {
      val futures = xs.map { x =>
        pool.submit(new java.util.concurrent.Callable[Unit] {
          def call(): Unit = f(x)
        })
      }
      futures.foreach(_.get()) // rethrows the first failure
    } finally pool.shutdown()
  }

  /** Recursive delete of a directory tree. */
  private[graft] def rm(f: File): Unit = {
    Option(f.listFiles()).getOrElse(Array.empty).foreach(rm)
    f.delete()
  }

  /** The one staged commit behind every artifact rewrite: replace the
    * directory at `path` with what `stage` writes into a fresh staging
    * sibling (`.<name>__<suffix>`, see [[stagingDir]]), in order:
    *
    *  1. a sole-copy `.<name>__retired` (a crash between the two renames
    *     of an earlier commit) is renamed back to `path` when `path` is
    *     missing, so the stage reads the last committed state — never an
    *     absent table, and the old copy is never deleted as garbage;
    *  2. any stale staging of the same suffix is cleared;
    *  3. `stage(staging)` writes the new contents and returns whether
    *     there is anything to install;
    *  4. `true`: the two-rename [[swapInto]] installs the staging and
    *     removes the retired copy. `false` (the result is empty): the
    *     staging is discarded and `path`, if present, is retired and
    *     removed — a rename, so readers never see it half-deleted.
    *
    * If `stage` throws, `path` is untouched; what it staged stays in the
    * dot-prefixed sibling (the state a crash leaves), which the next
    * `replace` with the same suffix clears and [[vacuum]] sweeps.
    * Returns what `stage` returned.
    */
  def replace(path: String, suffix: String)(stage: File => Boolean)
      : Boolean = {
    val dir = new File(path)
    restoreRetired(dir)
    val staging = stagingDir(dir, suffix)
    if (staging.exists()) rm(staging)
    val install = stage(staging)
    if (install) swapInto(dir, Some(staging))
    else { rm(staging); swapInto(dir, None) }
    install
  }

  /** Write a single-file sidecar (a watermark, a counter, a layout pin)
    * so no reader ever sees it truncated: the text lands in a dot-
    * prefixed temp sibling, then one atomic move replaces `path`.
    */
  def writeFile(path: String, text: String): Unit = {
    val p = java.nio.file.Paths.get(path)
    Option(p.getParent).foreach(java.nio.file.Files.createDirectories(_))
    val tmp = stagingDir(p.toFile, "writing").toPath
    java.nio.file.Files.writeString(tmp, text)
    java.nio.file.Files.move(tmp, p,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING,
      java.nio.file.StandardCopyOption.ATOMIC_MOVE)
  }

  /** Crash recovery for the rename window of [[swapInto]]: when `dir` is
    * missing but its `.<name>__retired` copy exists, that copy is the
    * only one left — rename it back.
    */
  private def restoreRetired(dir: File): Unit = {
    val retired = stagingDir(dir, "retired")
    if (!dir.exists() && retired.exists() && !retired.renameTo(dir))
      throw new java.io.IOException(s"cannot restore $retired to $dir")
  }

  /** The rename-based atomic swap: retire `dir`, move `staged` into its
    * place (none: leave `dir` absent), delete the retired copy; roll back
    * if the install rename fails (the original data wins). The retired
    * copy is dot-prefixed ([[stagingDir]]) so a crash between the renames
    * leaves a dir Spark scans ignore, which the next [[replace]] restores.
    */
  private def swapInto(dir: File, staged: Option[File]): Unit = {
    restoreRetired(dir)
    val retired = stagingDir(dir, "retired")
    if (retired.exists()) rm(retired) // garbage: the live copy exists
    if (dir.exists() && !dir.renameTo(retired))
      throw new java.io.IOException(s"cannot retire $dir")
    staged.foreach { tmp =>
      if (!tmp.renameTo(dir)) {
        retired.renameTo(dir) // roll back — the original data wins
        throw new java.io.IOException(s"cannot swap $tmp into $dir")
      }
    }
    rm(retired)
  }

  /** TAKEDOWN rewrite of an UNPARTITIONED parquet table: keep only the
    * rows NOT matching `keys` under `cond(table, keys)` (an anti-join —
    * keys broadcast, takedown lists are bounded), staged + atomically
    * swapped like [[compact]]. Shared by every flat-table artifact the
    * retraction path touches (MinHash index data, SQ8 data, media hash
    * indexes, the corpus itself). Idempotent: excising absent keys is a
    * no-op rewrite. A missing table is a no-op (nothing to excise).
    *
    * `readOptions` flow into the scan of the table being rewritten —
    * a caller whose table spans SCHEMA GENERATIONS (the sketch sidecar:
    * faces added over time, so older files lack newer columns) must pass
    * `mergeSchema=true` or the rewrite silently drops every column
    * absent from the footer Spark happens to infer from, destroying the
    * kept rows' state.
    */
  def retractRows(spark: SparkSession, path: String,
                  keys: org.apache.spark.sql.DataFrame,
                  cond: (org.apache.spark.sql.DataFrame,
                    org.apache.spark.sql.DataFrame) =>
                    org.apache.spark.sql.Column,
                  readOptions: Map[String, String] = Map.empty): Unit = {
    val dir = new File(path)
    restoreRetired(dir)
    if (!dir.exists()) return
    replace(path, "retract") { staging =>
      val table = readParquet(spark, Seq(path), readOptions)
      table.join(org.apache.spark.sql.functions.broadcast(keys),
          cond(table, keys), "left_anti")
        .write.parquet(staging.toString)
      true
    }
  }

  /** TAKEDOWN rewrite of the TOUCHED leaves of a partitioned table in
    * ONE Spark job: a pruned scan of exactly the `values` partitions
    * (PartitionFilters — untouched leaves are never opened), the
    * caller's `rewrite` (an anti-join at every call site), one dynamic
    * partitioned write into a root-level staging sibling, then per-leaf
    * atomic swaps — driver renames, no further jobs. Replaces the
    * read-rewrite-swap-per-leaf loop, whose cost was one Spark job PER
    * touched leaf (pure job-scheduling latency once leaves are small —
    * measured ~4 s for ~50 bloom-key leaves at bench scale); at 100 TB
    * a takedown touching thousands of leaves pays one job either way.
    * No shuffle is added: parquet scan tasks never span partition dirs,
    * so the dynamic write emits per-task-per-leaf files matching the
    * input granularity.
    *
    * A leaf the rewrite EMPTIES is swapped to a schema stub (the
    * behavior of the per-leaf loop this replaces — readers see zero
    * rows; the dir stays, so appenders and existence checks are
    * unaffected). Crash window unchanged in kind: some leaves swapped,
    * some not — every caller's verb is idempotent and re-derives its
    * worklist.
    */
  private[graft] def rewriteLeaves(spark: org.apache.spark.sql.SparkSession,
                                   root: String, partCol: String,
                                   values: Seq[Any],
                                   rewrite: org.apache.spark.sql.DataFrame =>
                                     org.apache.spark.sql.DataFrame): Unit =
    rewriteLeavesN(spark, root, Seq(partCol), values.map(Seq(_)), rewrite)

  /** [[rewriteLeaves]] for MULTI-LEVEL partition layouts (the LSH index's
    * `table=T/bucket=B` two-level leaves): `leaves` are (partCols-aligned)
    * value tuples; the pruned scan's predicate is the disjunction of
    * per-leaf conjunctions — still partition-only, so PartitionFilters
    * prune exactly the touched leaf directories. Everything else is the
    * single-column contract verbatim (one dynamic partitioned write,
    * per-leaf atomic swaps, schema stub for emptied leaves).
    *
    * Partition values must be CANONICAL NUMERICS: the predicate matches
    * the directory-inferred native value through its string face, and a
    * non-canonical value (a string leaf like `part=01`, inferred back as
    * int 1) would silently miss the filter — the leaf would then swap to
    * an empty stub, deleting its data. Every caller passes int/long
    * values; the require makes the contract loud instead of latent.
    */
  private[graft] def rewriteLeavesN(spark: org.apache.spark.sql.SparkSession,
                                    root: String, partCols: Seq[String],
                                    leaves: Seq[Seq[Any]],
                                    rewrite: org.apache.spark.sql.DataFrame =>
                                      org.apache.spark.sql.DataFrame): Unit = {
    require(partCols.nonEmpty)
    val rootDir = new File(root)
    def leafRel(t: Seq[Any]): String = {
      require(t.size == partCols.size,
        s"leaf tuple $t does not match partition columns $partCols")
      partCols.zip(t).map { case (c, v) => s"$c=$v" }.mkString("/")
    }
    leaves.foreach(t => restoreRetired(new File(rootDir, leafRel(t))))
    val live = leaves.filter(t => new File(rootDir, leafRel(t)).exists())
    if (live.isEmpty) return
    // Guard: the pruned scan matches partition values through their
    // STRING face against directory-INFERRED native values, so a value
    // whose string face inference would rewrite ('01' -> int 1,
    // '2024-1-2' -> date 2024-01-02, '1.50' -> decimal 1.5) would miss
    // the filter and stub-delete its leaf. Accept exactly the values
    // whose face survives inference: canonical integers, canonical
    // yyyy-MM-dd dates, and anything inference leaves as a plain string
    // (not digit-led); reject the rest loudly.
    live.flatten.foreach { v =>
      val s = v.toString
      val ok =
        if (s.matches("[+-]?\\d+")) BigInt(s).toString == s
        else if (s.matches("\\d{4}-\\d{2}-\\d{2}")) true
        else !s.matches("[+-.]?\\d.*")
      require(ok,
        s"rewriteLeaves needs partition values whose string face survives" +
          s" partition inference, got '$s' — an inference-rewritten value" +
          " would miss the pruned scan and stub-delete its leaf")
    }
    val staging = stagingDir(rootDir, "retract_batch")
    if (staging.exists()) rm(staging)
    val rewritten =
      rewrite(spark.read.parquet(root).where(leafPrune(partCols, live)))
    rewritten.write.mode("overwrite").partitionBy(partCols: _*)
      .parquet(staging.toString)
    val dataSchema = org.apache.spark.sql.types.StructType(
      rewritten.schema.filterNot(f => partCols.contains(f.name)))
    parEach(live) { t =>
      val leaf = new File(rootDir, leafRel(t))
      val stagedLeaf = new File(staging, leafRel(t))
      if (!stagedLeaf.exists()) {
        // the rewrite emptied this leaf — dynamic writes emit no dir
        // for it, so stage the schema stub the per-leaf loop produced
        spark.createDataFrame(
            spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
            dataSchema)
          .write.mode("overwrite").parquet(stagedLeaf.toString)
      }
      swapInto(leaf, Some(stagedLeaf))
    }
    rm(staging)
  }

  /** The touched-leaf scan predicate of [[rewriteLeavesN]] — partition
    * columns only, so it resolves entirely to PartitionFilters (the
    * untouched leaves are pruned driver-side and never opened). Pruning
    * goes via the STRING face of the partition columns: partition
    * filters are evaluated driver-side against the partition catalog
    * (casts included), and string-vs-native literals would otherwise
    * hit ANSI type-mismatch for callers that collect dir values as
    * strings.
    */
  private def leafPrune(partCols: Seq[String],
                        leaves: Seq[Seq[Any]])
      : org.apache.spark.sql.Column = {
    import org.apache.spark.sql.functions.col
    leaves.map { t =>
      partCols.zip(t).map { case (c, v) =>
        col(c).cast("string") === v.toString
      }.reduce(_ && _)
    }.reduce(_ || _)
  }

  /** What [[vacuum]] did: orphan staging/retired dirs removed (with their
    * byte sizes summed) and sole-copy `__retired` dirs HELD for manual
    * recovery (their live sibling is missing — deleting them would be the
    * data loss the swap discipline exists to prevent).
    */
  case class VacuumReport(removed: Seq[String], bytes: Long,
                          held: Seq[String])

  /** GC of crash orphans under `root`: every staged rewrite in the engine
    * goes through [[replace]]'s `.name__suffix` staging siblings,
    * so a crash mid-rewrite leaves a dot-prefixed directory that every
    * Spark scan ignores (correctness is unaffected — that is the point of
    * the dot) but that holds disk forever and, for partition leaves, gets
    * re-created beside on every retry. This sweep makes the crash windows
    * every verb documents actually CONVERGE on disk too.
    *
    * Safety rules, each load-bearing:
    *  - only names matching `.name__suffix` are candidates — live data,
    *    `key=value` leaves, `_`-metadata and `<root>__tombstones` overlay
    *    siblings never match;
    *  - the `triage` suffix is NEVER touched: the streaming triage claims
    *    the quarantine queue BY RENAMING it to `.q__triage` (the claimed
    *    dir IS the sole copy; a crashed claim is recovered, not garbage —
    *    [[graft.streaming.CorpusStream.rejectQuarantined]]);
    *  - a `retired` dir is removed only when its live sibling EXISTS: a
    *    crash between [[swapInto]]'s retire-rename and install-rename
    *    leaves `.name__retired` as the ONLY copy of the data — those are
    *    reported in `held`, never deleted (the next [[replace]] of that
    *    path restores them);
    *  - an age guard: a candidate whose tree was modified within
    *    `minAgeMs` is skipped — it may be a rewrite IN FLIGHT on another
    *    driver (the bounded-pool leaf rewrites run concurrently).
    *
    * The sweep covers the root's own `.root__suffix` siblings in its
    * PARENT directory too (where [[stagingDir]] places whole-root rewrite
    * staging), under the same rules and scoped to exactly this root's
    * name — and that check runs even when the root itself is missing,
    * because root-gone-with-`.root__retired`-present is precisely the
    * sole-copy crash state `held` exists to surface.
    *
    * Driver-side listing walk (no data read), the same cost class as the
    * partition discovery the maintenance pass already pays.
    */
  def vacuum(root: String, minAgeMs: Long = 24L * 3600 * 1000,
             nowMs: Long = System.currentTimeMillis()): VacuumReport = {
    val candidate = """^\.(.+)__([A-Za-z0-9]+)$""".r
    def treeBytes(f: File): Long =
      if (f.isFile) f.length()
      else Option(f.listFiles()).getOrElse(Array.empty).map(treeBytes).sum
    def newestMtime(f: File): Long = {
      val own = f.lastModified()
      if (f.isFile) own
      else (own +: Option(f.listFiles()).getOrElse(Array.empty)
        .map(newestMtime).toSeq).max
    }
    val removed = Seq.newBuilder[String]
    val held = Seq.newBuilder[String]
    var bytes = 0L
    def decide(dir: File, c: File, name: String, suffix: String): Unit = {
      val fresh = nowMs - newestMtime(c) < minAgeMs
      val soleRetired =
        suffix == "retired" && !new File(dir, name).exists()
      if (suffix == "triage" || fresh) () // never / in-flight
      else if (soleRetired) held += c.getPath
      else { bytes += treeBytes(c); removed += c.getPath; rm(c) }
    }
    def walk(dir: File): Unit = {
      val children = Option(dir.listFiles()).getOrElse(Array.empty)
      children.foreach { c =>
        c.getName match {
          case candidate(name, suffix) => decide(dir, c, name, suffix)
          case n if c.isDirectory && !n.startsWith(".") => walk(c)
          case _ => ()
        }
      }
    }
    val r = new File(root)
    if (r.exists()) walk(r)
    // the root's OWN rewrite orphans live in its PARENT ([[stagingDir]]
    // places `.corpus__compacting` BESIDE the dir being rewritten), so a
    // walk that starts inside the root never sees a whole-root compact/
    // recluster/export leftover — including the one state that must be
    // surfaced loudest: a sole-copy `.root__retired` with the root itself
    // gone (mid-[[swapInto]] crash), which is why this check runs even
    // when the root does not exist. Scoped to exactly this root's name:
    // sibling TABLES' staging dirs belong to their own vacuum call.
    Option(r.getParentFile).foreach { parent =>
      val own = ("""^\.""" + java.util.regex.Pattern.quote(r.getName) +
        """__([A-Za-z0-9]+)$""").r
      Option(parent.listFiles()).getOrElse(Array.empty).foreach { c =>
        c.getName match {
          case own(suffix) => decide(parent, c, r.getName, suffix)
          case _ => ()
        }
      }
    }
    VacuumReport(removed.result(), bytes, held.result())
  }

  /** Compact every leaf partition directory of a `partitionBy`-written
    * table (e.g. an IVF-family index's `data/cell=N/` directories) while
    * PRESERVING the partition layout — the plain [[compact]] would read
    * the whole table and write it back unpartitioned, destroying the very
    * PartitionFilters pruning the index exists for.
    *
    * This is the maintenance pass the `appendTo*Index` family needs:
    * every append lands one file-set per touched partition, so after N
    * daily batches each cell directory is an N-small-files swamp — footer
    * opens start to dominate the pruned scan the cell layout was bought
    * for. Each leaf compacts independently (per-partition [[compact]],
    * same atomic rename-swap), so a failure mid-way leaves every cell
    * either fully old or fully new — never mixed — and sidecars
    * (centroids/codebooks/params) are untouched by construction: only
    * `key=value` directories are descended into.
    *
    * Returns (files before, files after) summed over all leaves.
    */
  def compactPartitioned(spark: SparkSession, path: String,
                         targetBytes: Long = 128L * 1024 * 1024)
      : (Int, Int) = {
    def leaves(dir: File): Seq[File] = {
      // the prefix filter mirrors Spark's own listing rule: a crash-
      // leftover `.cell=3__compacting` staging dir contains '=' but must
      // not be treated as a live leaf (it would be re-read and re-written
      // as garbage on every maintenance pass, forever)
      val parts = Option(dir.listFiles()).getOrElse(Array.empty)
        .filter(f => f.isDirectory && f.getName.contains("=") &&
          !f.getName.startsWith(".") && !f.getName.startsWith("_"))
      if (parts.isEmpty) Seq.empty
      else parts.toSeq.flatMap { p =>
        val deeper = leaves(p)
        if (deeper.isEmpty) Seq(p) else deeper
      }
    }
    val ls = leaves(new File(path))
    require(ls.nonEmpty,
      s"$path has no key=value partition directories — use compact() " +
        "for unpartitioned tables")
    val results = ls.map(l => compact(spark, l.toString, targetBytes))
    (results.map(_._1).sum, results.map(_._2).sum)
  }
}
