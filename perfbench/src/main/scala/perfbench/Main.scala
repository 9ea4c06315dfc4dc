package perfbench

import scala.collection.mutable
import org.apache.spark.sql.SparkSession

/** A benchmark workload: `setup` bootstraps under `dir` what the loop
  * appends to and runs one untimed warm-up pass; `measure` runs the closed
  * loop (one client thread) over a fixed amount of work and checks outputs
  * outside the clock. The work does not depend on wall time, so a faster
  * engine is measured on the same ops.
  */
trait Workload {
  def setup(dir: String): Unit
  def measure(): Unit
}

/** Parts that run in turn: every set-up, then every measured loop. */
final class Sequence(parts: Workload*) extends Workload {
  def setup(dir: String): Unit =
    parts.zipWithIndex.foreach { case (p, i) => p.setup(s"$dir/$i") }
  def measure(): Unit = parts.foreach(_.measure())
}

/** Harness entry: one workload, one seed, one JVM.
  *
  * {{{
  * Main --workload <name> --seed <n> --seconds <s> --trace <0|1> --fixtures <dir>
  *      --work <dir> --out <results.json> --trace-out <trace.json>
  * }}}
  *
  * `--fixtures` holds the seeded input tables (`perfbench/datagen.py`);
  * every file the run writes goes under `--work`. `--seconds` is recorded
  * only: each workload measures a fixed unit of work.
  *
  * Writes every raw sample, check and host fact to `--out`;
  * `perfbench/run.py` turns them into metrics. With `--trace 1`
  * the spans and per-layer numbers go to `--trace-out` as well.
  */
object Main {
  def main(args: Array[String]): Unit = {
    val t0 = System.nanoTime()
    val opts = args.grouped(2).collect { case Array(k, v) =>
      k.stripPrefix("--") -> v }.toMap
    val workload = opts("workload")
    val seconds = opts("seconds").toInt
    val traced = opts("trace") == "1"
    val work = opts("work")
    val cpus = math.min(4, Runtime.getRuntime.availableProcessors())
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    org.apache.logging.log4j.core.config.Configurator.setLevel(
      "org.apache.spark.rdd", org.apache.logging.log4j.Level.ERROR)
    val tracer = new Tracer(spark, traced)
    val sessionS = (System.nanoTime() - t0) / 1e9
    val ctx = new Ctx(spark, tracer, opts("seed").toLong, opts("fixtures"), work)
    val s0 = System.nanoTime()
    val w: Workload = workload match {
      case "jobs_dag" => new Sequence(new JobsDag(ctx), new CatalogRound(ctx))
      case "corpus_pipeline" => new CorpusLoop(ctx)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    w.setup(s"$work/setup")
    val setupS = (System.nanoTime() - s0) / 1e9
    val setupEndEpochS = System.currentTimeMillis() / 1e3
    tracer.recording = true
    val m0 = System.nanoTime()
    w.measure()
    val measureS = (System.nanoTime() - m0) / 1e9
    tracer.recording = false
    System.err.println(f"[perfbench] measured loop incl. checks: $measureS%.2f s")

    val result = mutable.LinkedHashMap[String, Any](
      "workload" -> workload,
      "seconds" -> seconds,
      "traced" -> traced,
      "host" -> Map(
        "nproc" -> Runtime.getRuntime.availableProcessors(),
        "master" -> s"local[$cpus]",
        "heap_max_mb" -> Runtime.getRuntime.maxMemory() / (1024 * 1024),
        "spark_version" -> spark.version,
        "java_version" -> System.getProperty("java.version")),
      "setup" -> Map("session_s" -> sessionS, "workload_s" -> setupS,
        "end_epoch_s" -> setupEndEpochS,
        "phases_s" -> ctx.laps.toMap),
      "measure_s" -> measureS,
      "landed_rows" -> ctx.landedRows,
      "store_bytes_per_row" -> ctx.storeBytesPerRow.toSeq,
      "facts" -> ctx.facts,
      "checks" -> ctx.checks.map(c => Map("name" -> c.name, "ok" -> c.ok,
        "detail" -> c.detail, "ops" -> c.ops)),
      "samples" -> ctx.samples.map(s => Map("kind" -> s.kind,
        "name" -> s.name, "s" -> s.s, "ok" -> s.ok, "error" -> s.error)))
    if (traced) {
      val facts = tracer.facts()
      val layers = Layers.metrics(tracer.spans.toSeq, facts)
      result("per_layer") = layers
      result("reconciliation") = Layers.reconcile(tracer.spans.toSeq, facts)
      writeFile(opts("trace-out"), Json.render(Map(
        "workload" -> workload,
        "spans" -> tracer.spans.map(s => Layers.spanJson(s, facts.get(s.id))),
        "per_layer" -> layers,
        "reconciliation" -> result("reconciliation"))))
    }
    spark.stop()
    result("rss_peak_mb") = vmHwmMb()
    writeFile(opts("out"), Json.render(result))
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  private def vmHwmMb(): Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).getOrElse("VmHWM: 0 kB")
    line.split("\\s+")(1).toDouble / 1024
  }

  private def writeFile(path: String, s: String): Unit =
    java.nio.file.Files.writeString(java.nio.file.Paths.get(path), s)
}
