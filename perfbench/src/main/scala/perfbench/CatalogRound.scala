package perfbench

import graft.SparkEntry

/** The analysts' reads of the `jobs_dag` workload: one round of 16
  * read-only catalog queries over the sf0.005 TPC-H-shaped tables, each
  * built through `SparkEntry.queries` and run into the noop sink, in a
  * seeded order. No JobText, no writes, no artifacts: an `ingest`,
  * `functions` or `sources` change should leave these reads flat.
  *
  * The warm-up pass builds every query the same way, one at a time, and
  * writes its result as parquet; the DuckDB twin (`SparkEntry.oracleSql`)
  * of each is compared with it after the run.
  */
final class CatalogRound(ctx: Ctx) extends Workload {
  import CatalogRound._
  private val spark = ctx.spark

  /** Runs every query once, in catalog order, writing its result for the
    * oracle check: this pass warms the JVM and produces outputs, and is not
    * measured. A query that fails here leaves no output, so its oracle
    * check fails. */
  def setup(dir: String): Unit = {
    for (q <- Names)
      try build(q).write.mode("overwrite").parquet(s"$dir/check/$q")
      catch { case scala.util.control.NonFatal(e) =>
        System.err.println(s"[perfbench] warm-up of $q failed: $e") }
    ctx.lap("catalog warm-up")
    ctx.facts("check_dir") = s"$dir/check"
  }

  def measure(): Unit = {
    for (q <- new scala.util.Random(ctx.seed).shuffle(Names))
      ctx.op("read", q) {
        val df = ctx.tracer.span("catalog.build")(build(q))
        ctx.tracer.span("catalog.exec")(ctx.noop(df))
      }
    ctx.facts("oracle_sql") = Names.map(q => q -> SparkEntry.oracleSql(q)).toMap
  }

  private def build(q: String) =
    SparkEntry.queries(q)(spark, s"${ctx.fixtures}/$Tables")
}

object CatalogRound {
  /** Subdirectory of the fixtures holding the catalog's tables. */
  val Tables = "catalog"
  val Names: Seq[String] = Seq("q1_pricing_summary", "q3_top_revenue",
    "q5_nation_revenue", "q6_forecast_revenue", "q10_returned_items",
    "q21_sole_blame", "q_window_top2", "q_distinct_agg", "o1_sort_desc",
    "o2_topk", "s2_scan_filter", "q_asof_join", "q_range_join",
    "q_sessionize", "q_sessionize_native", "q_salted_join")
}
