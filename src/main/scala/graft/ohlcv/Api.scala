package graft.ohlcv

import graft.operators.{Analytics, Dedup, Resample}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame}

/** Thin query façade mirroring the reference REST API
  * (api/api_handler.py). The cores ([[getOhlcv]], [[latestSummary]],
  * [[latest]], [[symbols]], [[toCsvRows]]) take the canonical candle
  * frame (symbol, ts, open, high, low, close, volume,
  * fetch_timestamp); the `…FromTable` functions, one per REST route,
  * take the opened PARTITIONED normalized table and prune its scan.
  * No HTTP — endpoints are library calls whose `collect()` happens at
  * the caller's boundary.
  */
object Api {

  /** Adapter: the NORMALIZED table schema ([[Normalize.normalize]]:
    * symbol, timestamp_unix, open…volume, fetch_timestamp, partition
    * cols) → the canonical candle frame this facade queries. Column
    * pruning still reaches the scan (the select is narrow); the ts
    * reconstruction is one codegen'd `timestamp_seconds`. */
  def fromNormalized(df: DataFrame): DataFrame =
    df.select(
      col("symbol"),
      timestamp_seconds(col("timestamp_unix")).as("ts"),
      col("open"), col("high"), col("low"), col("close"),
      col("volume"), col("fetch_timestamp"))

  /** P14: period token → days. `"3m"` ≈ 90 d, `"2y"` ≈ 730 d — the
    * reference's approximate arithmetic (m=30 d, y=365 d,
    * api/api_handler.py:746-769) reproduced exactly, NOT calendar
    * months. Bare-numeric tokens (`"45"`) fall back to int(token) days
    * like the reference's `days = int(token)` branch; a single-char
    * unit with no digits (`"d"`) is value 0 (`int(token[:-1]) if
    * len(token) > 1 else 0`); anything unparseable → 30 d (the
    * reference's catch-all except). */
  def periodToDays(period: String): Int = {
    val p = period.trim.toLowerCase
    if (p.isEmpty) 30
    else {
      val num = if (p.length > 1) p.dropRight(1).toIntOption else Some(0)
      (p.last, num) match {
        case ('d', Some(v)) => v
        case ('m', Some(v)) => v * 30
        case ('y', Some(v)) => v * 365
        case _              => p.toIntOption.getOrElse(30)
      }
    }
  }

  /** P15: interval token → minutes (`"5m"`, `"1h"`, `"1d"`;
    * api/api_handler.py:772-785). Bare-numeric tokens (`"45"`) fall
    * back to int(token) minutes (the reference's final `return
    * int(token)`). Deliberate divergence, documented: the reference
    * RAISES on unparseable tokens (no try around this parser); a
    * library operator returning a default (5 m, the pipeline's native
    * resolution) is safer than throwing from deep inside a query. */
  def intervalToMinutes(interval: String): Int = {
    val i = interval.trim.toLowerCase
    val num = i.dropRight(1)
    def n(default: Int): Int = num.toIntOption.getOrElse(default)
    i.lastOption match {
      case Some('m') => n(5)
      case Some('h') => n(1) * 60
      case Some('d') => n(1) * 1440
      case _         => i.toIntOption.getOrElse(5)
    }
  }

  /** GET /ohlcv core (api/api_handler.py:360-443): symbol filter (P7
    * applied upstream), inclusive date-range filter on epoch seconds
    * with end-of-day expansion (P13), dedup keep-latest-fetch (D2),
    * ascending time order, tail-limit = most-recent N still returned
    * ascending (O4). */
  def getOhlcv(
      candles: DataFrame,
      symbol: String,
      fromDate: Option[String],
      toDate: Option[String],
      limit: Option[Int]): DataFrame = {
    val bySymbol = candles.filter(col("symbol") === symbol)
    // Direct timestamp comparisons, NOT `unix_timestamp(ts) between …`:
    // a function wrapping the column would block parquet filter
    // pushdown on stored-ts tables. `ts < to+1day` ≡ the reference's
    // floored `epoch(ts) <= to 23:59:59` at any sub-second precision.
    val fromTs = fromDate.map(d => to_timestamp(lit(d), "yyyy-MM-dd"))
    val toTs   = toDate.map(d => to_timestamp(lit(d), "yyyy-MM-dd") + expr("INTERVAL 1 DAY"))
    val ranged = (fromTs, toTs) match {
      case (Some(f), Some(t)) => bySymbol.filter(col("ts") >= f && col("ts") < t)
      case (Some(f), None)    => bySymbol.filter(col("ts") >= f)
      case (None, Some(t))    => bySymbol.filter(col("ts") < t)
      case _                  => bySymbol
    }
    val deduped = Dedup.keepLatest(
      ranged,
      keys = Seq(col("symbol"), col("ts")),
      version = Seq(col("fetch_timestamp")))
    val tailed = limit match {
      case Some(n) => deduped.orderBy(desc("ts")).limit(n)
      case None    => deduped
    }
    tailed.orderBy(col("ts"))
  }

  /** Rows of `symbol` in the PARTITIONED normalized table: its
    * `symbol_clean` partition (only that symbol's directories are
    * listed) and, within it, the exact raw symbol. */
  private def ofSymbol(symbol: String): Column =
    col("symbol_clean") === Storage.cleanSymbol(symbol) && col("symbol") === symbol

  /** [[getOhlcv]] straight off the PARTITIONED normalized table — the
    * form the REST layer runs at scale. The symbol prunes to its
    * `symbol_clean` directories and the date range to its day
    * directories plus pushed `timestamp_unix` bounds
    * ([[Storage.inDateRange]]), BEFORE the ts projection — filtering
    * after `timestamp_seconds()` would defeat both (a 1-day answer
    * opened 160 files at the ServeScale ×100 shape without the day
    * prune, ≤ 3 day directories with it). Pinned by PlanSpec. The UTC
    * epoch bounds match the session-UTC `to_timestamp` arithmetic in
    * [[getOhlcv]]. */
  def getOhlcvFromTable(
      normalized: DataFrame,
      symbol: String,
      fromDate: Option[String],
      toDate: Option[String],
      limit: Option[Int]): DataFrame =
    getOhlcv(
      fromNormalized(normalized.filter(
        ofSymbol(symbol) && Storage.inDateRange(normalized, fromDate, toDate))),
      symbol, fromDate = None, toDate = None, limit) // range already applied, pushably

  /** /alfaquantz resample path (api/api_handler.py:718-727): getOhlcv
    * then interval aggregation (A6) at `interval` (token form). */
  def getOhlcvResampled(
      candles: DataFrame,
      symbol: String,
      fromDate: Option[String],
      toDate: Option[String],
      interval: String): DataFrame =
    resample(getOhlcv(candles, symbol, fromDate, toDate, limit = None), interval)

  /** Interval aggregation (A6) at `interval` (token form) of candles
    * already ranged and deduped by [[getOhlcv]] or
    * [[getOhlcvFromTable]], bucket-ascending. */
  def resample(candles: DataFrame, interval: String): DataFrame =
    Resample
      .candles(candles, intervalToMinutes(interval) * 60, col("fetch_timestamp"))
      .orderBy(col("bucket_start"))

  /** GET /latest (api/api_handler.py:479-514): latest candle per
    * symbol (O6/T5). */
  def latest(candles: DataFrame): DataFrame =
    Analytics.latestPerSymbol(candles, col("fetch_timestamp"))

  /** GET /latest per-symbol SUMMARY, the reference envelope's field
    * set (api_handler.py:501-508): latest_price (close of the newest
    * candle — the stored envelope's own latest_price derives the same
    * way), total_candles, resolution (native "5"), the newest fetch
    * timestamp, and the newest candle itself as (t, o, h, l, c, v).
    * ONE hash-aggregate — count/max/max_by all share the
    * groupBy(symbol) exchange; newest = max (ts, fetch_timestamp), the
    * keep-latest-fetch tie rule [[getOhlcv]] dedups by. */
  def latestSummary(candles: DataFrame): DataFrame =
    candles
      .groupBy(col("symbol"))
      .agg(
        count(lit(1)).as("total_candles"),
        max(col("fetch_timestamp")).cast("string").as("fetch_ts"),
        max_by(
          struct(
            unix_timestamp(col("ts")).as("t"), col("open"), col("high"),
            col("low"), col("close"), col("volume").cast("double").as("v")),
          struct(col("ts"), col("fetch_timestamp"))).as("last"))

  /** [[latestSummary]] off the PARTITIONED table WITHOUT scanning any
    * symbol's history: each symbol's newest day comes from the file
    * listing `normalized` was opened with ([[Storage
    * .newestDatePerSymbol]], metadata-only — no data file opened, and
    * the same snapshot the scan reads, so an upsert committing
    * mid-request cannot name a day the scan lacks), and the scan is
    * pruned to exactly those (year, month, day, symbol_clean)
    * directories by one [[Storage.inPartitions]] set. Scan rows stay
    * ∝ symbols × one day's candles no matter how many years the table
    * holds (ServeScale: constant rows at ×100; PlanSpec-pinned).
    *
    * Semantics note, matching the reference: its /latest reads only
    * the recent raw files (api/api_handler.py:451-477 lists the last
    * N days capped at 50 objects), so the envelope's `total_candles`
    * is scoped to what was read — here, the newest landed day per
    * symbol. Symbols absent from the table contribute no row, exactly
    * like symbols absent from the reference's recent files. */
  def latestSummaryFromTable(normalized: DataFrame, symbols: Seq[String]): DataFrame = {
    // ONE pass over the open's listing answers every symbol's newest day
    // (per-symbol availableDates globs would cost symbols × layout
    // listings). Symbols absent from the map — including empty or
    // glob-metacharacter garbage a client might send — simply
    // contribute no row, exactly like symbols absent from the
    // reference's recent files (never a thrown 500).
    val newest = Storage.newestDatePerSymbol(normalized)
    val found = symbols.flatMap { sym =>
      val clean = Storage.cleanSymbol(sym)
      newest.get(clean).map { d =>
        val ld = java.time.LocalDate.parse(d)
        sym -> Seq(ld.getYear, ld.getMonthValue, ld.getDayOfMonth, clean)
      }
    }
    latestSummary(fromNormalized(normalized.filter(
      Storage.inPartitions(normalized, Storage.PartCols, found.map(_._2)) &&
        col("symbol").isin(found.map(_._1): _*))))
  }

  /** [[latestSummaryFromTable]] in its four-argument form; `conf` and
    * `tableDir` are not consulted (the newest days come from the
    * listing `normalized` was opened with). */
  def latestSummaryFromTable(
      normalized: DataFrame,
      conf: org.apache.hadoop.conf.Configuration,
      tableDir: String,
      symbols: Seq[String]): DataFrame =
    latestSummaryFromTable(normalized, symbols)

  /** A2 daily_summary off the PARTITIONED table — the reference's
    * analytics invoke surface (analytics/lambda_analytics.py:174-272)
    * reads EXACTLY the requested date's objects (one S3 prefix list +
    * per-symbol CSV gets); the Spark-at-scale equivalent is the
    * [[Storage.inDateRange]] prune of one day, so scan rows stay
    * ∝ symbols × one day's candles no matter how many days the table
    * holds (ServeScale-measured; PlanSpec-pinned). Dedup
    * keep-latest-fetch before the rollup (the /ohlcv D2 contract), then
    * the A2 rollup sorted desc by pct change. */
  def dailySummaryFromTable(normalized: DataFrame, date: String): DataFrame = {
    val deduped = Dedup.keepLatest(
      fromNormalized(normalized.filter(Storage.inDateRange(normalized, Some(date), Some(date)))),
      keys = Seq(col("symbol"), col("ts")),
      version = Seq(col("fetch_timestamp")))
    Analytics.dailyStats(deduped, col("fetch_timestamp"))
      .orderBy(desc("price_change_pct"), col("symbol"))
  }

  /** A3 date_range off the PARTITIONED table: the
    * [[getOhlcvFromTable]] symbol and date-range prunes, dedup
    * keep-latest-fetch, then per-day rollups for one symbol over the
    * inclusive range, date-ascending — scan rows stay ∝ one symbol ×
    * the range's days. */
  def dateRangeFromTable(
      normalized: DataFrame, symbol: String, from: String, to: String): DataFrame =
    Analytics.dateRange(
      Dedup.keepLatest(
        fromNormalized(normalized.filter(
          ofSymbol(symbol) && Storage.inDateRange(normalized, Some(from), Some(to)))),
        keys = Seq(col("symbol"), col("ts")), version = Seq(col("fetch_timestamp"))),
      symbol, from, to, col("fetch_timestamp"))

  /** A4 top_movers off the PARTITIONED table
    * (analytics/lambda_analytics.py:360-430 — the reference composes
    * it over daily_summary's result for the same single date): the
    * [[dailySummaryFromTable]] pruned rollup, top-N by pct change as
    * a TakeOrderedAndProject (never a materialized global sort — the
    * rollup is |symbols| rows, the heap is N). */
  def topMoversFromTable(
      normalized: DataFrame,
      date: String,
      n: Int,
      gainers: Boolean): DataFrame =
    Analytics.topMoversFromDaily(dailySummaryFromTable(normalized, date), n, gainers)

  /** Default /latest symbol list for a table-backed server: distinct
    * symbols scanned from the table's NEWEST landed day only — the
    * date comes from the listing `normalized` was opened with
    * ([[Storage.newestDatePerSymbol]], metadata-only) and the scan
    * prunes to that one day, so cost is one day × symbols regardless of
    * table history. The reference derives its default list from recent
    * files the same way (api/api_handler.py:451-477); the frame-side
    * `Api.symbols` distinct would scan the WHOLE table just to
    * enumerate names. */
  def symbolsFromTable(normalized: DataFrame): DataFrame = {
    val newest = Storage.newestDatePerSymbol(normalized)
    if (newest.isEmpty)
      normalized.select(col("symbol")).filter(lit(false)).distinct()
    else {
      val ld = java.time.LocalDate.parse(newest.valuesIterator.max)
      normalized
        .filter(Storage.inPartitions(normalized, Seq("year", "month", "day"),
          Seq(Seq(ld.getYear, ld.getMonthValue, ld.getDayOfMonth))))
        .select(col("symbol")).distinct().orderBy(col("symbol"))
    }
  }

  /** GET /symbols (D5): distinct symbols, sorted. */
  def symbols(candles: DataFrame): DataFrame =
    candles.select(col("symbol")).distinct().orderBy(col("symbol"))

  /** S12: render candles as the reference's CSV export lines
    * (api/api_handler.py:614-631):
    * symbol,timestamp,datetime,open,high,low,close,volume — datetime
    * in the candle-dict's isoformat+'Z' shape (:571). */
  def toCsvRows(candles: DataFrame): DataFrame =
    candles.select(
      concat_ws(
        ",",
        col("symbol"),
        unix_timestamp(col("ts")).cast("string"),
        date_format(col("ts"), "yyyy-MM-dd'T'HH:mm:ss'Z'"),
        col("open").cast("string"),
        col("high").cast("string"),
        col("low").cast("string"),
        col("close").cast("string"),
        col("volume").cast("long").cast("string")).as("csv_line"))
}
