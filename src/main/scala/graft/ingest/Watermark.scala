package graft.ingest

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

/** Watermark sidecar state: `{"last_processed": "<iso>"}`, mirroring the
  * reference's `tmp/last_processed_time.json`
  * (`/root/reference/src/topcv_pipeline.py:20-33`).
  *
  * Read is fail-open — any error ⇒ None ⇒ reprocess everything, exactly the
  * reference's recovery semantics (`:24-26`). Write is atomic
  * ([[graft.sources.Compaction.writeFile]]: temp file + move) and must
  * be called only AFTER the sink commit so a failed batch is
  * re-processed, never skipped (intended semantics; the reference's own
  * advance is broken — bug B4, SURVEY.md §2.10).
  */
object Watermark {

  private val Key = "\"last_processed\""

  def read(path: String): Option[String] =
    try {
      val txt = new String(Files.readAllBytes(Paths.get(path)), StandardCharsets.UTF_8)
      val i = txt.indexOf(Key)
      if (i < 0) None
      else {
        val rest = txt.substring(i + Key.length)
        val q1 = rest.indexOf('"')
        val q2 = rest.indexOf('"', q1 + 1)
        if (q1 < 0 || q2 < 0) None else Some(rest.substring(q1 + 1, q2))
      }
    } catch { case _: Throwable => None }

  def write(path: String, isoTimestamp: String): Unit =
    graft.sources.Compaction.writeFile(path,
      s"""{"last_processed": "$isoTimestamp"}""")
}
