package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** Benchmark entry point, started by `run.py`:
  * `perfbench.Main <workload> <seed> <seconds> <trace 0|1> <tmpdir> <tracedir> <cores>`.
  *
  * Prints one JSON result line last: `correct`, `attempted`, `failed`
  * and the end-to-end metrics (trace 0) or the per-layer metrics
  * (trace 1). A [[Mismatch]] marks the run incorrect. */
object Main {
  /** `sessionS` is the time `GraftSession.local` took to start the
    * session, the set-up every workload shares. */
  final case class Ctx(spark: SparkSession, sessionS: Double, gen: Gen, seed: Long, seconds: Double,
      trace: Boolean, tmp: Path, spans: Spans)

  /** Metric values by name; units come from [[E2E]] and [[PerLayer]]. */
  final class Metrics {
    val m = mutable.Map.empty[String, Double]
    def apply(name: String, v: Double): Unit = m(name) = v
  }

  final case class Outcome(attempted: Long, failed: Long, metrics: Metrics)

  private val jvmStart = System.nanoTime()

  /** A progress line on standard error, with the seconds since start. */
  def note(what: String): Unit =
    System.err.println(f"[perfbench] ${(System.nanoTime() - jvmStart) / 1e9}%7.2f s  $what")

  def main(args: Array[String]): Unit = {
    // exit explicitly: a failed run must not wait on threads it left behind
    val code =
      try { bench(args); 0 }
      catch { case scala.util.control.NonFatal(e) => e.printStackTrace(); 1 }
    sys.exit(code)
  }

  private def bench(args: Array[String]): Unit = {
    val Array(workload, seedS, secondsS, traceS, tmpS, traceDirS, coresS) = args
    val seed  = seedS.toLong
    val run: Ctx => Outcome = workload match {
      case "rest_live"   => RestLive.run
      case "query_suite" => QuerySuite.run
      case other         => throw new IllegalArgumentException(s"unknown workload $other")
    }
    // the session starts once per JVM: a restarted one reuses the loaded
    // classes and took 0.14-0.23 s against 4.2-9.5 s for the first
    val t = System.nanoTime()
    val spark = graft.GraftSession.local(coresS.toInt)
    note("session started")
    val ctx = Ctx(spark, (System.nanoTime() - t) / 1e9, new Gen(seed), seed, secondsS.toDouble,
      traceS == "1", Paths.get(tmpS), new Spans)
    val (correct, out) =
      try {
        val out = run(ctx)
        note("workload done")
        out.metrics("jvm.peak_rss_mb", peakRssMb)
        out.metrics("heap_retained_mb", retainedHeapMb)
        (true, out)
      } catch { case e: Mismatch => System.err.println(s"[perfbench] WRONG ANSWER: ${e.getMessage}"); (false, null) }
      finally spark.stop()
    note("session stopped")
    if (ctx.trace) ctx.spans.write(Paths.get(traceDirS).resolve(s"$workload-seed$seed.spans.jsonl"))
    val result =
      if (!correct) """{"correct": false, "attempted": 1, "failed": 0, "metrics": {}}"""
      else {
        // every run prints the whole list; a layer the workload does
        // not exercise reads 0
        val names = if (ctx.trace) PerLayer else E2E
        val body = names.map { case (k, u) =>
          s""""$k": {"value": ${num(out.metrics.m.getOrElse(k, 0.0))}, "unit": "$u"}"""
        }
        s"""{"correct": true, "attempted": ${out.attempted}, "failed": ${out.failed}, """ +
          s""""metrics": {${body.mkString(", ")}}}"""
      }
    println(result)
  }

  val E2E: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "op_mean_ms" -> "ms", "op_rate" -> "1/s",
    "stored_bytes_per_row" -> "bytes", "heap_retained_mb" -> "MB")

  val Routes = Seq("ohlcv", "ohlcv_15m", "latest", "historical", "analytics")

  val PerLayer: Seq[(String, String)] = Seq(
    "ohlcv.raw_scan_ms" -> "ms", "ohlcv.normalize_ms" -> "ms", "ohlcv.dedup_ms" -> "ms",
    "ohlcv.write_ms" -> "ms", "ohlcv.dedup_keep_ratio" -> "ratio",
    "ohlcv.files_written" -> "count", "ohlcv.files_per_partition" -> "count",
    "ohlcv.table_open_ms" -> "ms") ++
    Routes.map(r => s"ohlcv.api_ms.$r" -> "ms") ++ Seq(
    "ohlcv.scan_files_per_request" -> "count", "ohlcv.scan_rows_per_request" -> "count") ++
    Routes.map(r => s"serving.http_ms.$r" -> "ms") ++ Seq(
    "serving.handler_ms" -> "ms",
    "streaming.upsert_ms" -> "ms", "streaming.upsert_partitions" -> "count",
    "streaming.upsert_failed" -> "count",
    s"queries.cold_s.${QuerySuite.Family}" -> "s", s"queries.warm_s.${QuerySuite.Family}" -> "s",
    "queries.artifact_build_s" -> "s",
    "spark.jobs" -> "count", "spark.stages" -> "count", "spark.tasks" -> "count",
    "spark.scheduler_delay_ms" -> "ms", "spark.executor_run_ms" -> "ms",
    "spark.shuffle_read_bytes" -> "bytes", "spark.shuffle_write_bytes" -> "bytes",
    "spark.spill_bytes" -> "bytes", "spark.input_bytes" -> "bytes", "spark.output_bytes" -> "bytes",
    "spark.jobs_per_request" -> "count", "spark.storage_peak_mb" -> "MB",
    "jvm.gc_ms" -> "ms", "jvm.gc_count" -> "count", "jvm.heap_peak_mb" -> "MB", "jvm.peak_rss_mb" -> "MB",
    "trace.overhead_pct" -> "%")

  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else if (v == math.rint(v) && math.abs(v) < 1e15) v.toLong.toString else v.toString

  /** Heap still in use after a full collection, MB: what the run keeps
    * resident. Peak RSS is reported per layer only: under the tier-1
    * heap it follows the collector's heap sizing and varied by a third
    * between identical runs. The least of three collections half a
    * second apart counts: on `query_suite` the first two leave about
    * 65 MB that the third frees (145 against 78 MB, in every run), and a
    * reading after two collections jumped to 210 MB in 3 of 25 runs. */
  def retainedHeapMb: Double = {
    val mem = java.lang.management.ManagementFactory.getMemoryMXBean
    val used = (1 to 3).map { i =>
      if (i > 1) Thread.sleep(500)
      System.gc()
      mem.getHeapMemoryUsage.getUsed / 1048576.0
    }
    note(s"heap after full collections: ${used.map(u => f"$u%.1f").mkString(", ")} MB")
    used.min
  }

  /** Peak resident memory of this JVM (VmHWM), MB. */
  def peakRssMb: Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .collectFirst { case l if l.startsWith("VmHWM:") => l.split("\\s+")(1).toDouble / 1024 }
      .getOrElse(0.0)

  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted; val n = s.size
    if (n == 0) 0.0 else if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    val paths = Files.walk(p)
    try paths.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(x => Files.delete(x))
    finally paths.close()
  }

  /** Data bytes and data files under a table dir, and its leaf partitions. */
  def tableStats(root: Path): (Long, Long, Long) = {
    val paths = Files.walk(root)
    try {
      val files = paths.iterator().asScala.filter { f =>
        val n = f.getFileName.toString
        Files.isRegularFile(f) && !n.startsWith(".") && !n.startsWith("_")
      }.toSeq
      (files.map(Files.size).sum, files.size.toLong, files.map(_.getParent).distinct.size.toLong)
    } finally paths.close()
  }

  /** Spark listener deltas over the measured phase, per-layer names. */
  def sparkMetrics(m: Metrics, d: Map[String, Long]): Unit = {
    m("spark.jobs", d("jobs").toDouble); m("spark.stages", d("stages").toDouble)
    m("spark.tasks", d("tasks").toDouble)
    m("spark.scheduler_delay_ms", d("schedulerDelayMs").toDouble)
    m("spark.executor_run_ms", d("executorRunMs").toDouble)
    m("spark.shuffle_read_bytes", d("shuffleRead").toDouble)
    m("spark.shuffle_write_bytes", d("shuffleWrite").toDouble)
    m("spark.spill_bytes", d("spill").toDouble)
    m("spark.input_bytes", d("input").toDouble)
    m("spark.output_bytes", d("output").toDouble)
  }

  /** JVM probe readings, per-layer names. */
  def jvmMetrics(m: Metrics, r: (Double, Double, Double, Double)): Unit = {
    m("jvm.gc_ms", r._1); m("jvm.gc_count", r._2)
    m("jvm.heap_peak_mb", r._3); m("spark.storage_peak_mb", r._4)
  }

  def snapshot(c: SparkCounters): Map[String, Long] = Map(
    "jobs" -> c.jobs.get, "untaggedJobs" -> c.untaggedJobs.get, "stages" -> c.stages.get,
    "tasks" -> c.tasks.get, "schedulerDelayMs" -> c.schedulerDelayMs.get,
    "executorRunMs" -> c.executorRunMs.get, "shuffleRead" -> c.shuffleRead.get,
    "shuffleWrite" -> c.shuffleWrite.get, "spill" -> c.spill.get, "input" -> c.input.get,
    "output" -> c.output.get)

  def diff(a: Map[String, Long], b: Map[String, Long]): Map[String, Long] =
    a.map { case (k, v) => k -> (v - b(k)) }
}
