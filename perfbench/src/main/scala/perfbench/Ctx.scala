package perfbench

import scala.collection.mutable
import scala.util.control.NonFatal
import org.apache.spark.sql.{DataFrame, SparkSession}

/** One timed benchmark op: a write (DAG day, corpus batch, takedown) or a
  * read (query, serve). `ok = false` means the call threw; the error is
  * kept, never swallowed.
  */
final case class Sample(kind: String, name: String, s: Double, ok: Boolean,
                        error: String)

/** An output check made outside the clock. `ops` is the number of timed
  * ops whose output it vouches for: a failed check counts them as wrong.
  */
final case class Check(name: String, ok: Boolean, detail: String, ops: Int)

/** State shared by a run: the session, the tracer, the seed, the seeded
  * input tables (`fixtures`, read-only), the working directory, and the per-op
  * samples, checks and workload facts that end up in the result file.
  */
final class Ctx(val spark: SparkSession, val tracer: Tracer, val seed: Long,
                val fixtures: String, val work: String) {
  val samples: mutable.ArrayBuffer[Sample] = mutable.ArrayBuffer()
  val checks: mutable.ArrayBuffer[Check] = mutable.ArrayBuffer()
  val facts: mutable.LinkedHashMap[String, Any] = mutable.LinkedHashMap()
  /** Rows landed by timed write ops. */
  var landedRows = 0L
  /** On-disk bytes of sink + artifacts per landed row, one per episode. */
  val storeBytesPerRow: mutable.ArrayBuffer[Double] = mutable.ArrayBuffer()

  /** Times `body` as one op (and one top-level span when tracing). */
  def op[T](kind: String, name: String)(body: => T): Option[T] = {
    val t0 = System.nanoTime()
    try {
      val r = tracer.span(s"op.$kind.$name")(body)
      samples += Sample(kind, name, (System.nanoTime() - t0) / 1e9, ok = true, "")
      Some(r)
    } catch {
      case NonFatal(e) =>
        samples += Sample(kind, name, (System.nanoTime() - t0) / 1e9,
          ok = false, e.toString)
        System.err.println(s"[perfbench] $kind op $name failed: $e")
        None
    }
  }

  def check(name: String, ok: Boolean, detail: String, ops: Int): Unit = {
    checks += Check(name, ok, detail, ops)
    if (!ok) System.err.println(s"[perfbench] check $name failed: $detail")
  }

  /** Runs a check body; an exception inside it is a failed check. */
  def checking(name: String, ops: Int)(body: => (Boolean, String)): Unit =
    try { val (ok, d) = body; check(name, ok, d, ops) }
    catch { case NonFatal(e) => check(name, ok = false, e.toString, ops) }

  /** Materializes every row and column of `df` without keeping it. */
  def noop(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  private var lapNs = System.nanoTime()
  /** Set-up phase durations, in the order they ran. */
  val laps: mutable.ArrayBuffer[(String, Double)] = mutable.ArrayBuffer()

  /** Closes a set-up phase: records the time since the previous lap. */
  def lap(phase: String): Unit = {
    val now = System.nanoTime()
    laps += phase -> (now - lapNs) / 1e9
    System.err.println(f"[perfbench] $phase: ${(now - lapNs) / 1e9}%.2f s")
    lapNs = now
  }

  def opsSince(mark: Int): Int = samples.size - mark
}

/** Sizes, counts and removal of local directory trees. */
object Disk {
  def bytes(path: String): Long = {
    def walk(f: java.io.File): Long =
      if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty)
        .map(walk).sum
      else if (f.exists()) f.length() else 0L
    walk(new java.io.File(path))
  }

  def parquetFiles(path: String): Int = {
    def walk(f: java.io.File): Int =
      if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty)
        .filterNot(c => c.getName.startsWith(".")).map(walk).sum
      else if (f.getName.endsWith(".parquet")) 1 else 0
    walk(new java.io.File(path))
  }

  def rm(path: String): Unit = {
    def walk(f: java.io.File): Unit = {
      if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty)
        .foreach(walk)
      f.delete()
    }
    walk(new java.io.File(path))
  }
}
