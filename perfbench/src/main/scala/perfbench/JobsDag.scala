package perfbench

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.JobText
import graft.ingest.{IncrementalBatch, JobsPipeline, Watermark}

/** The paper's daily DAG: scrape lands in staging → clean/transform →
  * append to the jobs table → advance the watermark → refresh
  * `remaining_time` → answer the five reference queries.
  *
  * The measured loop is one episode of [[EpisodeDays]] consecutive days on
  * a fresh staging/jobs/watermark triple, closed by one day without new
  * data. The first day is seeded.
  */
final class JobsDag(ctx: Ctx) extends Workload {
  import JobsDag._
  private val spark = ctx.spark
  /** Midnight closing each day of the scrape calendar (one past the last). */
  private val anchors: Map[Int, java.time.LocalDateTime] =
    spark.read.parquet(s"${ctx.fixtures}/anchors.parquet").collect()
      .map(r => r.getInt(0) -> r.getAs[java.time.LocalDateTime](1)).toMap
  private val calendarDays = anchors.size - 1

  def setup(dir: String): Unit = {
    // warm-up: one day the measured loop never uses (the empty day's
    // short-circuit and reads run warm code already)
    episode(s"$dir/warm", calendarDays - 1, 1, timed = false)
    ctx.lap("dag warm-up")
  }

  def measure(): Unit =
    episode(s"${ctx.work}/episode", firstDay, EpisodeDays, timed = true)

  /** Seeded, and clear of the warm-up's day. */
  private def firstDay: Int =
    new scala.util.Random(ctx.seed).nextInt(calendarDays - 1 - EpisodeDays)

  private def slice(day: Int): DataFrame =
    spark.read.parquet(s"${ctx.fixtures}/rendered").where(col("day") === day)
      .drop("day")

  private def anchor(day: Int): Column = lit(anchors(day))

  /** Runs `days` DAG days from `firstDay`, then the no-new-data day, then
    * checks the episode's outputs. Untimed episodes (warm-up) run the same
    * calls outside any op, without the no-new-data day. */
  private def episode(dir: String, firstDay: Int, days: Int,
                      timed: Boolean): Unit = {
    val staging = s"$dir/staging"
    val jobs = s"$dir/jobs"
    val wm = s"$dir/watermark.json"
    val mark = ctx.samples.size
    var landed = 0L
    var rendered = 0L
    def asOp[T](kind: String, name: String)(body: => T): Option[T] =
      if (timed) ctx.op(kind, name)(body) else Some(body)

    for (d <- firstDay to firstDay + days if timed || d < firstDay + days) {
      val empty = d == firstDay + days
      val a = anchor(d)
      val n = if (empty) 0L else slice(d).count()
      rendered += n
      if (!empty && timed && ctx.tracer.enabled) cleanProbe(d, a, n)
      val written = asOp("write", if (empty) "empty_day" else "day") {
        if (!empty) slice(d).write.mode("append").parquet(staging)
        val batch = new IncrementalBatch(spark, staging, jobs, wm, "ts",
          transform = JobsPipeline.cleanStaging(_, a))
        val r = ctx.tracer.span(if (empty) "ingest.empty_batch" else "ingest.batch") {
          val r = batch.run()
          ctx.tracer.count("rows_written", r.rowsWritten.toDouble)
          r
        }
        ctx.tracer.span("ingest.refresh") {
          val n = JobsPipeline.refreshRemainingTime(spark, jobs, a)
          ctx.tracer.count("refresh_rows", n.toDouble)
        }
        r.rowsWritten
      }
      written.foreach(landed += _)
      if (empty && timed) ctx.check("empty_day_writes_nothing",
        written.contains(0L), s"rows written on the empty day: $written", 1)
      for ((name, q) <- referenceQueries(a))
        asOp("read", name)(ctx.noop(q(spark.read.parquet(jobs))))
    }
    if (timed) {
      checkEpisode(dir, firstDay + days, landed, rendered, ctx.opsSince(mark))
      ctx.landedRows += landed
      ctx.storeBytesPerRow +=
        (Disk.bytes(jobs) + Disk.bytes(wm)).toDouble / math.max(landed, 1L)
    }
    Disk.rm(dir)
  }

  /** Traced runs only: `cleanStaging` over the day's slice into the noop
    * sink, outside every op, so `functions.clean_*` prices the transform
    * alone. */
  private def cleanProbe(day: Int, a: Column, rows: Long): Unit =
    ctx.tracer.span("functions.clean") {
      ctx.noop(JobsPipeline.cleanStaging(slice(day), a))
      ctx.tracer.count("rows", rows.toDouble)
    }

  /** The incremental table must equal a one-shot clean of all staging
    * (each row at its own day's anchor) with `remaining_time` refreshed at
    * the final anchor. */
  private def checkEpisode(dir: String, finalDay: Int, landed: Long,
                           rendered: Long, ops: Int): Unit = {
    val staging = spark.read.parquet(s"$dir/staging")
    ctx.checking("rows_landed_equal_rows_rendered", ops) {
      val inTable = spark.read.parquet(s"$dir/jobs").count()
      (landed == rendered && inTable == rendered,
        s"landed=$landed rendered=$rendered table=$inTable")
    }
    ctx.checking("watermark_is_max_staging_ts", ops) {
      val wm = Watermark.read(s"$dir/watermark.json")
      val maxTs = staging.agg(max("ts")).head.get(0)
      val same = wm.exists(w => spark.range(1)
        .select(lit(w).cast("timestamp_ntz") === lit(maxTs)).head.getBoolean(0))
      (same, s"watermark=$wm max(ts)=$maxTs")
    }
    ctx.checking("incremental_equals_one_shot", ops) {
      val rowAnchor = (date_trunc("DAY", col("ts")) + expr("INTERVAL 1 DAY"))
        .cast("timestamp_ntz")
      // the refresh's own expression, applied in the same plan
      val oneShot = JobsPipeline.cleanStaging(staging, rowAnchor)
        .withColumn("remaining_time",
          JobText.remainingTime(col("due_date"), anchor(finalDay)))
      val inc = digest(spark.read.parquet(s"$dir/jobs"))
      val one = digest(oneShot)
      (inc == one, s"(rows, row-hash sum) incremental=$inc one-shot=$one")
    }
  }
}

object JobsDag {
  val EpisodeDays = 3

  /** Order-insensitive digest of a table: row count and the sum of a
    * 64-bit hash over every column (exact, as a decimal sum). */
  def digest(df: DataFrame): (Long, java.math.BigDecimal) = {
    val r = df.agg(count(lit(1)),
      sum(xxhash64(df.columns.map(col).toIndexedSeq: _*)
        .cast("decimal(20,0)"))).head
    (r.getLong(0), r.getDecimal(1))
  }

  /** `script.sql:51-76` over the jobs table, at the day's anchor. */
  def referenceQueries(anchor: Column): Seq[(String, DataFrame => DataFrame)] =
    Seq(
      "deadline_window" -> (_.where(col("due_date") <=
          anchor + expr("INTERVAL 20 DAYS"))
        .select("job_name", "job_link", "salary", "due_date")),
      "salary_threshold" -> (_.where(col("salary") > 15)
        .select("job_name", "job_link", "salary")),
      "sort_desc" -> (_.select("job_name", "job_link", "posted_date")
        .orderBy(col("posted_date").desc, col("job_link"))),
      "hcm_count" -> (_.where(col("job_location").like("%Hồ Chí Minh%"))
        .agg(count(lit(1)).as("n_jobs"))),
      "hcm_top_salary" -> (_.where(col("job_location").like("%Hồ Chí Minh%"))
        .orderBy(col("salary").desc_nulls_last, col("job_link")).limit(10)
        .select("job_name", "job_link", "salary")))
}
