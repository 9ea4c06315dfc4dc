package graft.sources

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.SparkSession

/** Driver-side memo of the small values derived from an index's sidecar
  * directories: centroids, codebooks, codec params, MinHash/LSH/model
  * meta, the trained-rows count and the merged BM25 stats. A warm serve
  * would otherwise re-read each of them per request — one schema job
  * plus one or more collect jobs per sidecar of a few KB, the fixed
  * per-request cost that dominates small interactive reads (Dremel, VLDB
  * 2020) — so each value is derived once and reused across the session's
  * serves until its directory changes (the reuse-state-across-queries
  * stance of incremental top-k serving, EDBT 2020).
  *
  * Validity is the directory's LISTING STAMP: the sorted recursive
  * (relative name, length, modification time) of every file under it,
  * taken through the path's Hadoop `FileSystem`. This rests on one
  * assumption about the writers: every parquet commit installs new
  * UUID-named part files, so the listing moves on every commit whichever
  * path made it — a staged [[Compaction.replace]], a `mode("overwrite")`
  * rebuild of centroids/codebooks/params/meta, a `mode("append")` of the
  * text stats or the retraction ledger inside them, or another driver. A
  * counter bumped by one commit path would miss all but that one.
  *
  *  - A hit needs a stamp equal to the stored one.
  *  - A miss runs `read`, stamps again, and stores the value only if the
  *    stamp did not move while `read` ran (a commit racing the read
  *    leaves nothing stored; the value read is still returned, as an
  *    unmemoized read would have returned it).
  *  - A missing or empty directory is never stored.
  *
  * Only driver values are stored — rows, codebooks, centroid seqs,
  * scalars — never a `DataFrame`, whose lineage would pin the files.
  * Entries are keyed by the qualified directory plus the name of what is
  * derived from it, and the least recently used entry beyond
  * [[MaxEntries]] is dropped.
  */
object SidecarCache {

  private val MaxEntries = 128

  private type Stamp = Seq[(String, Long, Long)]
  private final case class Entry(stamp: Stamp, value: Any)

  private val entries =
    new java.util.LinkedHashMap[(String, String), Entry](16, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[(String, String), Entry]): Boolean =
        size() > MaxEntries
    }

  /** The value `what` derived by `read` from the sidecar directory `dir`,
    * reused until the directory's listing stamp changes. */
  def memo[A](spark: SparkSession, dir: String, what: String)(read: => A): A = {
    val path = new Path(dir)
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val root = fs.makeQualified(path)
    val key = (root.toString, what)
    val before = stamp(fs, root)
    val hit = before.flatMap(s => entries.synchronized(
      Option(entries.get(key))).filter(_.stamp == s))
    hit match {
      case Some(e) => e.value.asInstanceOf[A]
      case None =>
        val value = read
        before.filter(s => stamp(fs, root).contains(s)).foreach(s =>
          entries.synchronized(entries.put(key, Entry(s, value))))
        value
    }
  }

  /** The sorted recursive listing of `root`; None when it is missing or
    * holds no file (including a directory vanishing mid-listing under a
    * concurrent swap). */
  private def stamp(fs: FileSystem, root: Path): Option[Stamp] =
    try {
      val prefix = root.toUri.getPath.stripSuffix("/") + "/"
      val it = fs.listFiles(root, true)
      val files = Seq.newBuilder[(String, Long, Long)]
      while (it.hasNext) {
        val f = it.next()
        files += ((f.getPath.toUri.getPath.stripPrefix(prefix), f.getLen,
          f.getModificationTime))
      }
      Some(files.result().sorted).filter(_.nonEmpty)
    } catch { case _: java.io.FileNotFoundException => None }
}
