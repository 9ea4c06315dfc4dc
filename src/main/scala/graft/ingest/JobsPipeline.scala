package graft.ingest

import org.apache.spark.sql.{Column, DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.JobText

/** The complete jobs-domain pipeline, re-expressing the reference's DAG
  * (`/root/reference/airflow/dags/topcv_flow.py:27-65` →
  * `src/topcv_pipeline.py`) as one lazy Spark plan per stage:
  *
  *   raw scrape rows → staging (bronze, append, S3) →
  *   clean+transform (E1–E5, one projection) → jobs (silver, append, S4)
  *   → daily refresh of the countdown text (C6, recompute-and-overwrite).
  *
  * The reference's six processes and eight serialization hops collapse into
  * scan → codegen'd projection → write (SURVEY.md §3.1); the watermark /
  * empty-batch machinery is [[IncrementalBatch]].
  */
object JobsPipeline {

  /** clean_data + transform_data (`src/topcv_pipeline.py:114-171`): raw
    * staging rows → cleaned, typed jobs rows. One projection — title regex,
    * salary parse → mean (E2+E3), relative-date derivation (E4), the
    * sentinel/cast chain (E6+E7) and the countdown text (W1), all against an
    * injected anchor for determinism.
    */
  def cleanStaging(staging: DataFrame, anchor: Column): DataFrame = {
    val sal = JobText.cleanSalary(col("salary"))
    staging.select(
      JobText.cleanTitle(col("job_name")).as("job_name"),
      col("job_link"),
      round(JobText.salaryAvg(sal)).as("salary"),
      col("company_name"),
      JobText.postedDate(anchor, col("update")).as("posted_date"),
      col("job_location"),
      JobText.remainingTime(
        JobText.dueDate(anchor, col("remaining_time")), anchor)
        .as("remaining_time"),
      JobText.dueDate(anchor, col("remaining_time")).as("due_date"))
  }

  /** C6 — the stored procedure's daily refresh
    * (`/root/reference/script.sql:13-49`): re-render `remaining_time` for
    * every row from `due_date` vs the new anchor. Spark tables are
    * immutable, so the procedure's one-transaction UPDATE becomes one
    * staged rewrite installed by [[graft.sources.Compaction.replace]]: a
    * refresh that fails at any point leaves the jobs table as it was.
    * Returns the table's row count, observed on the rewrite itself.
    */
  def refreshRemainingTime(spark: SparkSession, jobsDir: String,
                           anchor: Column): Long = {
    val obs = new Observation
    graft.sources.Compaction.replace(jobsDir, "refresh") { staging =>
      spark.read.parquet(jobsDir)
        .withColumn("remaining_time",
          JobText.remainingTime(col("due_date"), anchor))
        .observe(obs, count(lit(1)).as("n"))
        .write.parquet(staging.toString)
      true
    }
    obs.get("n").asInstanceOf[Long]
  }
}
