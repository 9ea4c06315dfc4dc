package graft

import java.nio.file.Files
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.ingest.JobsPipeline

/** End-to-end jobs-domain pipeline over inline Vietnamese fixtures
  * (FIXTURES.md §B): staging → clean → jobs, then the C6 refresh.
  */
class JobsPipelineSpec extends AnyFunSuite with SparkFixture {
  import spark.implicits._

  private val anchor = lit("2026-08-12 12:00:00").cast("timestamp_ntz")

  private def mkStaging() = Seq(
    ("Java Developer - Lương Upto 30Tr", "https://j/1", "15 - 20 triệu",
      "FPT", "Đăng 3 giờ trước", "Hà Nội", "Còn 24 ngày để ứng tuyển"),
    ("🔥 Tester (Fresher)", "https://j/2", "Thỏa thuận",
      "VNG", "Đăng 1 ngày trước", "Hồ Chí Minh", "Còn 30 giây để ứng tuyển"),
    ("Data Engineer", "https://j/3", "1,000 - 2,000 USD",
      "Shopee", "Cập nhật 45 phút trước", "Hồ Chí Minh", "Đã hết hạn")
  ).toDF("job_name", "job_link", "salary", "company_name", "update",
    "job_location", "remaining_time")

  test("cleanStaging: E1-E5 + W1 in one projection") {
    val jobs = JobsPipeline.cleanStaging(mkStaging(), anchor)
      .orderBy("job_link").collect()

    val titles = jobs.map(_.getAs[String]("job_name")).toSeq
    assert(titles === Seq("Java Developer", "Tester", "Data Engineer"))

    val salaries = jobs.map(r => Option(r.get(r.fieldIndex("salary")))).toSeq
    assert(salaries === Seq(Some(18.0), None, Some(35.0))) // round((23+46)/2)

    val posted = jobs.map(_.getAs[java.time.LocalDateTime]("posted_date").toString).toSeq
    assert(posted === Seq("2026-08-12T09:00", "2026-08-11T12:00", "2026-08-12T11:15"))

    val remaining = jobs.map(_.getAs[String]("remaining_time")).toSeq
    assert(remaining === Seq("Còn 24 ngày để ứng tuyển",
      "Còn 30 giây để ứng tuyển", "Đã hết thời gian ứng tuyển"))

    // expired deadline (bug B8 path) → null due_date
    assert(jobs(2).isNullAt(jobs(2).fieldIndex("due_date")))
  }

  test("refreshRemainingTime: C6 recompute-and-overwrite") {
    val dir = Files.createTempDirectory("jobs").resolve("jobs").toString
    JobsPipeline.cleanStaging(mkStaging(), anchor)
      .write.mode("overwrite").parquet(dir)

    // next day: 24 ngày → 23 ngày, the 30-giây row expires
    val nextDay = lit("2026-08-13 12:00:00").cast("timestamp_ntz")
    val n = JobsPipeline.refreshRemainingTime(spark, dir, nextDay)
    assert(n === 3)
    val rem = spark.read.parquet(dir).orderBy("job_link")
      .select("remaining_time").as[String].collect().toSeq
    assert(rem === Seq("Còn 23 ngày để ứng tuyển",
      "Đã hết thời gian ứng tuyển", "Đã hết thời gian ứng tuyển"))
  }

  test("refreshRemainingTime: a refresh that fails at run time leaves " +
      "the jobs table unchanged, and the next refresh converges") {
    val root = Files.createTempDirectory("jobs_fail")
    val dir = root.resolve("jobs").toString
    JobsPipeline.cleanStaging(mkStaging(), anchor)
      .write.mode("overwrite").parquet(dir)
    def table() = spark.read.parquet(dir).orderBy("job_link").collect().toSeq
    val before = table()
    // the anchor raises only when a row evaluates it, i.e. mid-write
    val boom = raise_error(lit("refresh failed")).cast("timestamp_ntz")
    intercept[Exception](JobsPipeline.refreshRemainingTime(spark, dir, boom))
    assert(table() === before)
    assert(!new java.io.File(dir + ".refresh.tmp").exists())
    val nextDay = lit("2026-08-13 12:00:00").cast("timestamp_ntz")
    assert(JobsPipeline.refreshRemainingTime(spark, dir, nextDay) === 3)
    assert(spark.read.parquet(dir).orderBy("job_link")
      .select("remaining_time").as[String].collect().head ===
      "Còn 23 ngày để ứng tuyển")
    assert(root.toFile.list().toSeq === Seq("jobs"))
  }

  test("typed Dataset[Job] view over the cleaned table (S6 schema)") {
    val ds = JobsPipeline.cleanStaging(mkStaging(), anchor)
      .withColumn("posted_date", col("posted_date").cast("timestamp"))
      .withColumn("due_date", col("due_date").cast("timestamp"))
      .as[Schema.Job]
    val byLink = ds.collect().map(j => j.job_link -> j).toMap
    assert(byLink("https://j/1").salary === Some(18.0))
    assert(byLink("https://j/2").salary === None)
  }
}
