package graft

import graft.ohlcv.{Api, MockData, Normalize, RawIngest, Storage}
import graft.operators.Resample
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.functions._

/** Scale evidence for the OHLCV SERVING read path (the ApiServer
  * `/ohlcv/{symbol}` chain: P13 partition pruning → D2 dedup → A6
  * resample → tail limit) — the measurement SCALING.md's "serving path
  * at ×10/×100" table rows come from. For each (symbols × days) scale
  * it builds the reference-shaped partitioned table through the REAL
  * ETL (mock envelopes → raw JSON → normalize → dedup-contract →
  * parquet partitioned by symbol_clean/year/month/day), then runs one
  * serving query and reports, from the EXECUTED plan's scan metrics,
  * how many files the scan actually opened vs how many exist — the
  * number that decides whether serving cost scales with the TABLE or
  * with the ANSWER.
  *
  * Usage: `runMain graft.ServeScale [workdir]` — prints one JSON line
  * per scale: {scale, symbols, days, table_files, scan_files,
  * scan_rows, out_rows, serve_cold_s, serve_warm_s}.
  */
object ServeScale {
  def main(args: Array[String]): Unit = {
    val work  = args.headOption.getOrElse(
      java.nio.file.Files.createTempDirectory("graft-servescale").toString)
    val spark = GraftSession.local()
    spark.sparkContext.setLogLevel("WARN")

    // base 3×2 sym-days, ×10 = 60, ×100 = 600; 288 five-min candles/day
    val scales = Seq(("x1", 3, 2), ("x10", 10, 6), ("x100", 30, 20))
    val t0     = 1759881600L // 2025-10-08 00:00 UTC

    scales.foreach { case (label, nSym, nDays) =>
      val dir  = s"$work/$label"
      val syms = (1 to nSym).map(i => f"NSE:SYM$i%03d-EQ")
      // the real ETL, twice with overlapping windows so the D2 dedup
      // contract has actual duplicates to collapse (the T4 scenario)
      val all = MockData.candles(spark, syms, nDays * 288, t0)
      MockData.envelope(all, "2025-11-01T04:00:00Z")
        .write.mode("overwrite").json(s"$dir/raw/f1")
      MockData.envelope(all.filter(col("timestamp_unix") >= t0 + (nDays - 1) * 86400L),
        "2025-11-01T04:05:00Z")
        .write.mode("overwrite").json(s"$dir/raw/f2")
      Storage.writeParquet(
        Storage.dedupContract(Normalize.normalize(
          RawIngest.blocks(RawIngest.readRaw(spark, s"$dir/raw/*")), "2025-11-01T05:00:00Z")),
        s"$dir/table", mode = "overwrite")

      val tableFiles = countParquetFiles(new java.io.File(s"$dir/table"))
      val midSym     = syms(nSym / 2)
      val fromDate   = java.time.LocalDate.ofEpochDay(t0 / 86400).plusDays(nDays / 2L).toString

      // the /ohlcv serving chain: pruned scan → dedup → 15m resample →
      // most-recent-10 buckets (exactly what handleOhlcv runs)
      def serve(): DataFrame = {
        val table = Storage.readParquet(spark, s"$dir/table")
        val base  = Api.getOhlcvFromTable(
          table, midSym, Some(fromDate), Some(fromDate), limit = None)
        Resample.candles(base, 900, col("fetch_timestamp"))
          .orderBy(desc("bucket_start")).limit(10)
      }
      // the /latest chain (the reference's hottest endpoint): newest
      // day per symbol from the partition LAYOUT (metadata-only), scan
      // pruned to one day-partition per symbol — scan rows must stay
      // ∝ symbols × 288, independent of how many days the table holds
      def serveLatest(): DataFrame =
        Api.latestSummaryFromTable(Storage.readParquet(spark, s"$dir/table"), syms)

      // the /historical chain for one symbol+day (handleHistorical's
      // per-symbol source.ohlcv with both bounds): same pruned scan as
      // /ohlcv but no resample — out rows = the day's candles
      def serveHistorical(): DataFrame =
        Api.getOhlcvFromTable(
          Storage.readParquet(spark, s"$dir/table"),
          midSym, Some(fromDate), Some(fromDate), limit = None)

      // collect(), not count(): count() spawns a SEPARATE query
      // execution, and the scan metrics below must come from the plan
      // that actually ran
      def timed(mk: () => DataFrame): (Double, Long, DataFrame) = {
        val t = System.nanoTime(); val df = mk(); val n = df.collect().length.toLong
        ((System.nanoTime() - t) / 1e9, n, df)
      }
      def measure(endpoint: String, mk: () => DataFrame): Unit = {
        val (cold, outRows, df)   = timed(mk)
        val (warm, _, _)          = timed(mk)
        val (scanFiles, scanRows) = scanMetrics(df.queryExecution.executedPlan)
        println(
          s"""{"scale":"$label","endpoint":"$endpoint","symbols":$nSym,"days":$nDays,""" +
            s""""table_files":$tableFiles,"scan_files":$scanFiles,""" +
            s""""scan_rows":$scanRows,"out_rows":$outRows,""" +
            s""""serve_cold_s":${math.rint(cold * 1000) / 1000},""" +
            s""""serve_warm_s":${math.rint(warm * 1000) / 1000}}""")
      }
      // the analytics invoke surface (lambda_analytics.py:174-430):
      // A2 daily_summary / A4 top_movers for ONE date — the reference
      // reads exactly that date's objects; the scan here must stay
      // ∝ symbols × one day's candles however many days the table holds
      def serveDailySummary(): DataFrame =
        Api.dailySummaryFromTable(Storage.readParquet(spark, s"$dir/table"), fromDate)
      def serveTopMovers(): DataFrame =
        Api.topMoversFromTable(
          Storage.readParquet(spark, s"$dir/table"), fromDate, n = 5, gainers = true)

      measure("/ohlcv", () => serve())
      measure("/latest", () => serveLatest())
      measure("/historical", () => serveHistorical())
      measure("/analytics/daily_summary", () => serveDailySummary())
      measure("/analytics/top_movers", () => serveTopMovers())

      // the COMPOSED /dashboard endpoint over real HTTP — it fans into
      // the /files listing (newest-5 heap over the raw landing dir, so
      // memory stays O(5) however many objects land), /latest (capped
      // at latestSymbolCap symbols — the reference's api_handler cap)
      // and the per-row change calc; the page must scale with the
      // ANSWER (≤ cap rows + 5 files), not the table
      val rawFiles = Option(new java.io.File(s"$dir/raw").listFiles())
        .getOrElse(Array.empty).flatMap(d => Option(d.listFiles()).getOrElse(Array.empty))
        .count(f => f.isFile && f.getName.endsWith(".json"))
      val cfg = graft.serving.ApiServer.Config(filesDir = Some(s"$dir/raw"))
      val server = graft.serving.ApiServer.startFromTable(spark, s"$dir/table", cfg)
      try {
        def get(path: String): String = {
          val conn = new java.net.URL(s"http://127.0.0.1:${server.port}$path")
            .openConnection().asInstanceOf[java.net.HttpURLConnection]
          try {
            require(conn.getResponseCode == 200, s"$path -> ${conn.getResponseCode}")
            new String(conn.getInputStream.readAllBytes(), "UTF-8")
          } finally conn.disconnect()
        }
        def timedGet(): (Double, Int) = {
          val t = System.nanoTime(); val body = get("/dashboard")
          ((System.nanoTime() - t) / 1e9, body.length)
        }
        val (dashCold, bytes) = timedGet()
        val (dashWarm, _)     = timedGet()
        // the symbol cap bounds the page: table rows ≤ latestSymbolCap
        val tableRows = "<tr><td><strong>".r.findAllIn(get("/dashboard")).size
        require(tableRows <= cfg.latestSymbolCap,
          s"dashboard rows $tableRows exceed the symbol cap ${cfg.latestSymbolCap}")
        println(
          s"""{"scale":"$label","endpoint":"/dashboard","symbols":$nSym,"days":$nDays,""" +
            s""""raw_files":$rawFiles,"page_rows":$tableRows,"page_bytes":$bytes,""" +
            s""""serve_cold_s":${math.rint(dashCold * 1000) / 1000},""" +
            s""""serve_warm_s":${math.rint(dashWarm * 1000) / 1000}}""")
      } finally server.stop()
    }
    spark.stop()
  }

  private[graft] def countParquetFiles(root: java.io.File): Int = {
    val kids = Option(root.listFiles()).getOrElse(Array.empty)
    kids.count(f => f.isFile && f.getName.endsWith(".parquet")) +
      kids.filter(_.isDirectory).map(countParquetFiles).sum
  }

  /** (numFiles, numOutputRows) summed over the executed plan's parquet
    * scans — what the query actually opened and read, post-pruning. */
  private[graft] def scanMetrics(plan: SparkPlan): (Long, Long) = {
    def all(p: SparkPlan): Seq[SparkPlan] =
      (p +: p.children.flatMap(all)) ++ (p match {
        case a: AdaptiveSparkPlanExec => all(a.executedPlan)
        case q: QueryStageExec        => all(q.plan)
        case _                        => Seq.empty
      })
    val scans = all(plan).collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec => s
    }
    (
      scans.map(s => s.metrics.get("numFiles").map(_.value).getOrElse(0L)).sum,
      scans.map(s => s.metrics.get("numOutputRows").map(_.value).getOrElse(0L)).sum)
  }
}
