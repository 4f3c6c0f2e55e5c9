package graft.serving

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.databind.node.{ArrayNode, ObjectNode}
import graft.ohlcv.{Api, Storage}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, Row}

/** REST serving layer (the reference's primary entry point:
  * `api/api_handler.py:19-58` routes API-Gateway requests to handlers;
  * here a JDK-stdlib `com.sun.net.httpserver.HttpServer` routes the
  * same paths to the [[graft.ohlcv.Api]] facade). Zero new
  * dependencies — the same stdlib server the ingest spec uses.
  *
  * Endpoints (same paths, params, response envelopes and error shapes
  * as the reference — dict-shaped candles with `datetime` on
  * /ohlcv//historical, the {latest_price, total_candles, resolution,
  * timestamp, last_candle} set on /latest, list-form aggregated
  * candles + the full symbol_requested/…/to_date key set on
  * /alfaquantz. ONE documented divergence: /ohlcv with interval ≠ 5
  * actually resamples — the reference only echoes the param — with
  * `limit` applied to the aggregated buckets, alfaquantz-style):
  *  - `GET /symbols?limit=`                          (:67-103)
  *  - `GET /ohlcv/{symbol}?from=&to=&interval=&limit=` (:105-160)
  *  - `GET /latest?symbols=`                         (:162-194)
  *  - `GET /historical?symbol=&symbols=&from=&to=&format=` (:196-249)
  *  - `GET /alfaquantz/price/get/{symbol},{interval},{period}`
  *    (also query-style, :654-731)
  *  - anything else → 404 + available_endpoints     (:51-58)
  *
  * Scale boundary: every handler runs a DataFrame pipeline that is
  * LIMITED before it is collected — tail-limit for /ohlcv, one row per
  * symbol for /latest, a symbol cap for /historical (the reference
  * caps at 10 / 5 "for performance" — same constants) — so the driver
  * materializes responses, never the table. The serving JVM is a thin
  * Spark driver; the cluster does the scan/dedup/resample work.
  *
  * The server holds an OPENER of the normalized table
  * (`() => DataFrame`, Hive-partitioned by year/month/day/symbol_clean),
  * never an open frame: each request that reads data calls it once,
  * in `route`, and answers every part from that one listing, so newly
  * landed files appear on the next request and no two parts of one
  * answer come from different listings. Every route reads only the
  * directories its answer lives in (the `…FromTable` functions of
  * [[graft.ohlcv.Api]], PlanSpec-pinned).
  */
object ApiServer {

  /** Handler knobs, defaulted to the reference's constants.
    * `filesDir` opts into the /files inventory surface (the
    * dashboard's raw-landing listing, `scripts/dashboard.py:48-93`);
    * None (default) keeps the surface 404. */
  final case class Config(
      port: Int = 0, // 0 = ephemeral
      latestSymbolCap: Int = 10, // api_handler.py:177
      historicalSymbolCap: Int = 5, // :224
      clock: () => java.time.Instant = () => java.time.Instant.now(),
      filesDir: Option[String] = None,
      filesListCap: Int = 10, // dashboard.py list_recent_data(limit=10)
      // Server-side rails for the /files surface: ?limit= clamps to
      // filesListMax (an uncapped client limit would size the newest-K
      // heap), and /file/{key} refuses files over fileDetailMaxBytes
      // (the whole envelope is parsed in server memory — a dashboard
      // view of one 5-min raw landing is a few KB; a multi-GB object
      // must not become one in-memory string).
      filesListMax: Int = 500,
      fileDetailMaxBytes: Long = 8L << 20,
      // Hadoop config for the /files filesystem. None = classpath
      // defaults; startFromTable wires the session's config in so
      // spark.hadoop.* credentials (object stores) reach the listing.
      hadoopConf: Option[() => org.apache.hadoop.conf.Configuration] = None)

  private def hadoopConf(cfg: Config): org.apache.hadoop.conf.Configuration =
    cfg.hadoopConf.map(_()).getOrElse(new org.apache.hadoop.conf.Configuration())

  final class Server private[serving] (
      http: com.sun.net.httpserver.HttpServer,
      pool: java.util.concurrent.ExecutorService) {
    def port: Int = http.getAddress.getPort
    def stop(): Unit = { http.stop(0); pool.shutdownNow(); () }
  }

  private val mapper = new ObjectMapper()

  /** Start serving the normalized table `open` returns — any Hive
    * layout with the year/month/day/symbol_clean partition columns, e.g.
    * `() => Storage.readCsv(spark, dir)` for the reference's CSV twin
    * (api/api_handler_csv.py). Binds 127.0.0.1. */
  def start(open: () => DataFrame, cfg: Config = Config()): Server = {
    val http = com.sun.net.httpserver.HttpServer.create(
      new java.net.InetSocketAddress("127.0.0.1", cfg.port), 0)
    http.createContext("/", (ex: com.sun.net.httpserver.HttpExchange) => {
      try route(ex, open, cfg)
      catch {
        case scala.util.control.NonFatal(e) => // :62-66
          val err = mapper.createObjectNode()
          err.put("error", "Internal server error")
          err.put("message", String.valueOf(e.getMessage))
          respond(ex, 500, err)
      }
    })
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    http.setExecutor(pool)
    http.start()
    new Server(http, pool)
  }

  /** Start serving the partitioned normalized parquet table at
    * `tablePath`, re-listed per request. */
  def startFromTable(
      spark: org.apache.spark.sql.SparkSession,
      tablePath: String,
      cfg: Config = Config()): Server =
    start(
      () => Storage.readParquet(spark, tablePath),
      cfg.copy(hadoopConf = cfg.hadoopConf.orElse(
        Some(() => spark.sparkContext.hadoopConfiguration))))

  // ---------------------------------------------------------------
  // Routing
  // ---------------------------------------------------------------

  private def route(
      ex: com.sun.net.httpserver.HttpExchange,
      open: () => DataFrame,
      cfg: Config): Unit = {
    val path = ex.getRequestURI.getPath
    val qp   = queryParams(ex)
    // the request's one open, taken only by the routes that read data
    lazy val table = open()
    if (ex.getRequestMethod == "OPTIONS") { respondRaw(ex, 200, "", "application/json"); return }
    if (path.startsWith("/symbols")) handleSymbols(ex, table, qp, cfg)
    else if (path.startsWith("/ohlcv/")) handleOhlcv(ex, table, path.stripPrefix("/ohlcv/"), qp, cfg)
    else if (path.startsWith("/latest")) handleLatest(ex, table, qp, cfg)
    else if (path.startsWith("/historical")) handleHistorical(ex, table, qp, cfg)
    else if (path.startsWith("/alfaquantz/price/get")) handleAlfaPrice(ex, table, path, qp, cfg)
    else if (path.startsWith("/analytics")) handleAnalytics(ex, table, qp)
    else if (path == "/files" || path == "/files/") handleFiles(ex, qp, cfg)
    else if (path.startsWith("/file/")) handleFileDetail(ex, path.stripPrefix("/file/"), cfg)
    else if (path == "/dashboard" || path == "/dashboard/") handleDashboard(ex, table, cfg)
    else { // :51-58
      val err = mapper.createObjectNode()
      err.put("error", "Endpoint not found")
      val eps = err.putObject("available_endpoints")
      eps.put("/symbols", "List all available symbols")
      eps.put("/ohlcv/{symbol}", "Get OHLCV data for specific symbol")
      eps.put("/latest", "Get latest data for symbols")
      eps.put("/historical", "Get historical data")
      respond(ex, 404, err)
    }
  }

  // ---------------------------------------------------------------
  // Handlers
  // ---------------------------------------------------------------

  /** GET /symbols — distinct sorted symbols, optional limit (:67-103). */
  private def handleSymbols(
      ex: com.sun.net.httpserver.HttpExchange,
      table: DataFrame, qp: Map[String, String], cfg: Config): Unit = {
    val limit = qp.get("limit").map(l => (l, l.toIntOption))
    limit match {
      case Some((_, None)) => // :88-91
        val err = mapper.createObjectNode()
        err.put("error", "Invalid limit parameter")
        err.put("message", "Limit must be a valid integer")
        respond(ex, 400, err)
      case _ =>
        val base = Api.symbols(table)
        val lim  = limit.flatMap(_._2)
        val syms = lim.fold(base)(base.limit).collect().map(_.getString(0))
        val out = mapper.createObjectNode()
        val arr = out.putArray("symbols")
        syms.foreach(arr.add)
        out.put("count", syms.length)
        out.put("timestamp", cfg.clock().toString)
        respond(ex, 200, out)
    }
  }

  /** GET /ohlcv/{symbol} — ranged, deduped, tail-limited DICT-shaped
    * candles (:105-160). DELIBERATE divergence, documented: the
    * reference only ECHOES `interval` (get_ohlcv_data ignores it,
    * :360-445); here interval ≠ 5 actually resamples — same
    * aggregation order as /alfaquantz (aggregate first, then the
    * tail-limit applies to the aggregated buckets, so `limit` is
    * honored in BOTH branches). */
  private def handleOhlcv(
      ex: com.sun.net.httpserver.HttpExchange,
      table: DataFrame, rawSymbol: String, qp: Map[String, String], cfg: Config): Unit = {
    val symbol   = normalizeSymbol(java.net.URLDecoder.decode(rawSymbol, "UTF-8"))
    val interval = qp.getOrElse("interval", "5")
    val limit    = qp.get("limit").flatMap(_.toIntOption)
    val rows =
      if (Api.intervalToMinutes(interval) == 5)
        Api.getOhlcvFromTable(table, symbol, qp.get("from"), qp.get("to"), limit)
          .select(unix_timestamp(col("ts")), col("open"), col("high"),
            col("low"), col("close"), col("volume").cast("double"))
          .collect()
      else {
        val agg = Api.resample(
          Api.getOhlcvFromTable(table, symbol, qp.get("from"), qp.get("to"), None), interval)
        // tail-limit AFTER resampling: most-recent N buckets, ascending
        limit.fold(agg)(n => agg.orderBy(desc("bucket_start")).limit(n))
          .orderBy(col("bucket_start"))
          .select(col("bucket_start"), col("open"), col("high"),
            col("low"), col("close"), col("volume").cast("double"))
          .collect()
      }
    if (rows.isEmpty) { // :139-144
      val err = mapper.createObjectNode()
      err.put("error", "No data found")
      err.put("message", s"No OHLCV data found for symbol $symbol")
      err.put("symbol", symbol)
      respond(ex, 404, err)
    } else {
      val out = mapper.createObjectNode()
      out.put("symbol", symbol)
      out.put("interval", interval)
      candleDicts(out.putArray("data"), rows)
      out.put("count", rows.length)
      out.put("timestamp", cfg.clock().toString)
      respond(ex, 200, out)
    }
  }

  /** GET /latest — latest candle per requested symbol (default: first
    * `latestSymbolCap` available, :162-194). */
  private def handleLatest(
      ex: com.sun.net.httpserver.HttpExchange,
      table: DataFrame, qp: Map[String, String], cfg: Config): Unit = {
    val symbols = qp.get("symbols") match {
      case Some(s) => s.split(",").map(x => normalizeSymbol(x.trim)).toSeq
      case None    => defaultSymbols(table, cfg.latestSymbolCap)
    }
    // reference per-symbol shape (:501-508): {symbol, latest_price,
    // total_candles, resolution, timestamp, last_candle} — ONE
    // aggregate supplies every field, its scan pruned to each symbol's
    // newest day partition.
    val rows = Api.latestSummaryFromTable(table, symbols)
      .select(col("symbol"), col("total_candles"), col("fetch_ts"),
        col("last.t"), col("last.open"), col("last.high"),
        col("last.low"), col("last.close"), col("last.v"))
      .collect()
    val out = mapper.createObjectNode()
    val sa = out.putArray("symbols")
    symbols.foreach(sa.add)
    val data = out.putObject("data")
    rows.foreach { r =>
      val o = data.putObject(r.getString(0))
      o.put("symbol", r.getString(0))
      numOpt(r, 7).fold { o.putNull("latest_price"); () } { v => o.put("latest_price", v); () }
      o.put("total_candles", r.getLong(1))
      o.put("resolution", "5")
      if (r.isNullAt(2)) o.putNull("timestamp") else o.put("timestamp", r.getString(2))
      if (r.isNullAt(3)) o.putNull("last_candle")
      else {
        val c = o.putArray("last_candle")
        c.add(r.getLong(3))
        c.add(numOpt(r, 4).getOrElse(0.0)); c.add(numOpt(r, 5).getOrElse(0.0))
        c.add(numOpt(r, 6).getOrElse(0.0)); c.add(numOpt(r, 7).getOrElse(0.0))
        c.add(numOpt(r, 8).getOrElse(0.0).toLong)
      }
    }
    out.put("count", rows.length)
    out.put("timestamp", cfg.clock().toString)
    respond(ex, 200, out)
  }

  /** GET /historical — bulk candles per symbol, JSON or CSV
    * (:196-249; CSV lines via [[Api.toCsvRows]], :614-631). */
  private def handleHistorical(
      ex: com.sun.net.httpserver.HttpExchange,
      table: DataFrame, qp: Map[String, String], cfg: Config): Unit = {
    val symbols = (qp.get("symbol"), qp.get("symbols")) match {
      case (Some(s), _)    => Seq(normalizeSymbol(s))
      case (None, Some(m)) => m.split(",").map(x => normalizeSymbol(x.trim)).toSeq
      case _ =>
        Api.symbols(table).limit(cfg.historicalSymbolCap)
          .collect().map(_.getString(0)).toSeq
    }
    val perSymbol = symbols.map { s =>
      s -> Api.getOhlcvFromTable(table, s, qp.get("from"), qp.get("to"), limit = None)
    }
    if (qp.get("format").map(_.toLowerCase).contains("csv")) {
      val header = "symbol,timestamp,datetime,open,high,low,close,volume"
      val lines = perSymbol.flatMap { case (_, df) =>
        Api.toCsvRows(df).collect().map(_.getString(0))
      }
      respondRaw(ex, 200, (header +: lines).mkString("\n"), "text/csv")
    } else {
      val out = mapper.createObjectNode()
      val sa = out.putArray("symbols")
      symbols.foreach(sa.add)
      // reference includes both keys unconditionally (null when absent)
      qp.get("from").fold { out.putNull("from_date"); () } { v => out.put("from_date", v); () }
      qp.get("to").fold { out.putNull("to_date"); () } { v => out.put("to_date", v); () }
      val data = out.putObject("data")
      var total = 0
      perSymbol.foreach { case (s, df) =>
        val rows = df.select(unix_timestamp(col("ts")), col("open"), col("high"),
          col("low"), col("close"), col("volume").cast("double")).collect()
        val o = data.putObject(s)
        o.put("symbol", s) // get_historical_data seeds {symbol, candles} (:531-534)
        candleDicts(o.putArray("candles"), rows)
        o.put("count", rows.length)
        total += rows.length
      }
      out.put("total_records", total)
      out.put("timestamp", cfg.clock().toString)
      respond(ex, 200, out)
    }
  }

  /** GET /analytics?query_type=… — the reference's analytics Lambda
    * invoke surface (analytics/lambda_analytics.py:28-57 routes
    * `query_type` to four handlers) as a REST endpoint: same
    * query_type names, same response envelopes, same error shapes
    * (400 missing params / unknown type, 404 no data, the 31-day
    * range cap on date_range). Every rollup runs the partition-pruned
    * A1/A2/A3/A4 pipelines — the scan reads the requested day(s)
    * only, never the table
    * (ServeScale-measured, PlanSpec-pinned). `symbol` accepts both
    * the reference's clean form (RELIANCE) and the exchange form. */
  private def handleAnalytics(
      ex: com.sun.net.httpserver.HttpExchange,
      table: DataFrame, qp: Map[String, String]): Unit = {
    def fail(code: Int, msg: String): Unit = {
      val err = mapper.createObjectNode(); err.put("error", msg); respond(ex, code, err)
    }
    // one projection shared by all four query types — the dailyStats
    // column set with JSON-ready types
    def rollupRows(df: DataFrame): Array[Row] = df.select(
      col("symbol"), col("trade_date").cast("string"),
      col("open").cast("double"), col("close").cast("double"),
      col("high").cast("double"), col("low").cast("double"),
      col("volume").cast("long"), col("avg_price").cast("double"),
      col("num_records").cast("long"),
      col("price_change").cast("double"), col("price_change_pct").cast("double"))
      .collect()
    // null OHLCV fields degrade to JSON nulls, never a 500 — the same
    // numOpt contract the candle handlers follow (a null `open` makes
    // the whole derived column set null through dailyStats)
    def putD(o: ObjectNode, f: String, r: Row, i: Int): Unit =
      if (r.isNullAt(i)) { o.putNull(f); () } else { o.put(f, r.getDouble(i)); () }
    def putL(o: ObjectNode, f: String, r: Row, i: Int): Unit =
      if (r.isNullAt(i)) { o.putNull(f); () } else { o.put(f, r.getLong(i)); () }
    qp.getOrElse("query_type", "symbol_stats") match {
      case "symbol_stats" => // :99-171
        (qp.get("symbol"), qp.get("date")) match {
          case (Some(rawSym), Some(date)) =>
            val rows = rollupRows(Api.dateRangeFromTable(table, normalizeSymbol(rawSym), date, date))
            if (rows.isEmpty) fail(404, s"No data found for $rawSym on $date")
            else {
              val r   = rows.head
              val out = mapper.createObjectNode()
              out.put("symbol", rawSym)
              out.put("date", date)
              val st = out.putObject("stats")
              putD(st, "open", r, 2); putD(st, "close", r, 3)
              putD(st, "high", r, 4); putD(st, "low", r, 5)
              putL(st, "volume", r, 6); putD(st, "avg_price", r, 7)
              putD(st, "price_change", r, 9)
              putD(st, "price_change_pct", r, 10)
              putL(st, "num_records", r, 8)
              respond(ex, 200, out)
            }
          case _ => fail(400, "Missing symbol or date")
        }
      case "daily_summary" => // :174-272
        qp.get("date") match {
          case Some(date) =>
            val rows = rollupRows(Api.dailySummaryFromTable(table, date)) // already desc by pct
            // the reference 404s ONLY the no-symbols-at-all case
            // (lambda_analytics.py:224 — no symbol= prefixes listed →
            // "No data found for <date>"); a populated table whose
            // symbols just have no rows ON this date still returns 200
            // with an empty summary there. Match both edges: the
            // symbol probe (limit 1, newest-day pruned) runs only on
            // the already-empty path.
            if (rows.isEmpty && defaultSymbols(table, 1).isEmpty)
              fail(404, s"No data found for $date")
            else {
              val out = mapper.createObjectNode()
              out.put("date", date)
              val sa = out.putArray("summary")
              rows.foreach { r =>
                val o = sa.addObject()
                o.put("symbol", r.getString(0))
                putD(o, "open", r, 2); putD(o, "close", r, 3)
                putD(o, "high", r, 4); putD(o, "low", r, 5)
                putL(o, "volume", r, 6)
                putD(o, "price_change_pct", r, 10)
              }
              out.put("total_symbols", rows.length)
              respond(ex, 200, out)
            }
          case None => fail(400, "Missing date")
        }
      case "date_range" => // :274-358
        (qp.get("symbol"), qp.get("start_date"), qp.get("end_date")) match {
          case (Some(rawSym), Some(from), Some(to)) =>
            val span = java.time.temporal.ChronoUnit.DAYS.between(
              java.time.LocalDate.parse(from), java.time.LocalDate.parse(to))
            if (span > 31) fail(400, "Date range cannot exceed 31 days")
            else {
              val rows = rollupRows(Api.dateRangeFromTable(table, normalizeSymbol(rawSym), from, to))
              val out  = mapper.createObjectNode()
              out.put("symbol", rawSym)
              out.put("start_date", from); out.put("end_date", to)
              val da = out.putArray("data")
              rows.foreach { r => // date-ascending from the A3 pipeline
                val o = da.addObject()
                o.put("date", r.getString(1))
                putD(o, "open", r, 2); putD(o, "close", r, 3)
                putD(o, "high", r, 4); putD(o, "low", r, 5)
                putL(o, "volume", r, 6)
                putD(o, "price_change_pct", r, 10)
              }
              out.put("num_days", rows.length)
              respond(ex, 200, out)
            }
          case _ => fail(400, "Missing symbol, start_date, or end_date")
        }
      case "top_movers" => // :360-430 — composed over daily_summary
        qp.get("date") match {
          case Some(date) =>
            val limit = qp.get("limit").flatMap(_.toIntOption).getOrElse(10)
            val rows  = rollupRows(Api.dailySummaryFromTable(table, date)) // desc by pct
            def side(arr: ArrayNode, picked: Seq[Row]): Unit =
              picked.foreach { r =>
                val o = arr.addObject()
                o.put("symbol", r.getString(0))
                putD(o, "price_change_pct", r, 10)
                putD(o, "close", r, 3)
                putL(o, "volume", r, 6)
              }
            // losers re-sort with the A4 tie-break (asc pct, asc
            // symbol, nulls first like Spark asc) — a bare reverse of
            // the desc list would order pct TIES by descending symbol
            // and disagree with Api.topMoversFromTable on the same day
            val losers = rows.sortBy(r => (
              if (r.isNullAt(10)) 0 else 1,
              if (r.isNullAt(10)) 0.0 else r.getDouble(10),
              r.getString(0)))
            val out = mapper.createObjectNode()
            out.put("date", date)
            side(out.putArray("gainers"), rows.take(limit).toSeq)
            side(out.putArray("losers"), losers.take(limit).toSeq)
            respond(ex, 200, out)
          case None => fail(400, "Missing date")
        }
      case other => fail(400, s"Unknown query_type: $other") // :54-58
    }
  }

  /** GET /alfaquantz/price/get/{symbol},{interval},{period} — period
    * token → from-date, resampled candles (:654-731). Query-style
    * params take precedence over the path tail, like the reference. */
  private def handleAlfaPrice(
      ex: com.sun.net.httpserver.HttpExchange,
      table: DataFrame, path: String, qp: Map[String, String], cfg: Config): Unit = {
    val fromQuery = for {
      s <- qp.get("symbol"); i <- qp.get("interval"); p <- qp.get("period")
    } yield (s, i, p)
    val parsed = fromQuery.orElse {
      val tail = java.net.URLDecoder.decode(
        path.stripPrefix("/alfaquantz/price/get").stripPrefix("/"), "UTF-8")
      val parts = tail.split(",").map(_.trim).filter(_.nonEmpty)
      if (parts.length >= 3) Some((parts(0), parts(1), parts(2))) else None
    }
    parsed match {
      case None => // :671,675
        val err = mapper.createObjectNode()
        err.put("error",
          "Missing parameters. Expected /alfaquantz/price/get/{symbol},{interval},{period} or query params")
        respond(ex, 400, err)
      case Some((rawSym, interval, period)) =>
        val symbol = normalizeSymbol(rawSym)
        val today  = cfg.clock().atZone(java.time.ZoneOffset.UTC).toLocalDate
        val from   = today.minusDays(Api.periodToDays(period).toLong)
        val rows =
          Api.resample(
            Api.getOhlcvFromTable(table, symbol, Some(from.toString), Some(today.toString), None),
            interval)
            .select(col("bucket_start"), col("open"), col("high"),
              col("low"), col("close"), col("volume").cast("double"))
            .collect()
        // full reference key set (:729-739); candles stay LIST-form
        // here (the aggregate_candles output shape)
        val out = mapper.createObjectNode()
        out.put("symbol_requested", rawSym)
        out.put("symbol_normalized", symbol)
        out.put("interval", interval)
        out.put("period", period)
        out.put("from_date", from.toString)
        out.put("to_date", today.toString)
        out.put("count", rows.length)
        candleLists(out.putArray("candles"), rows)
        out.put("timestamp", cfg.clock().toString)
        respond(ex, 200, out)
    }
  }

  /** GET /files?limit= — newest-first inventory of landed raw files
    * with size/modified metadata (`scripts/dashboard.py:48-93`:
    * list_objects_v2 → json filter → sort by modified desc → cap).
    * Metadata-only listing; never opens a data file. 404 unless the
    * server was started with `Config.filesDir`. */
  private def handleFiles(
      ex: com.sun.net.httpserver.HttpExchange,
      qp: Map[String, String],
      cfg: Config): Unit = cfg.filesDir match {
    case None =>
      val err = mapper.createObjectNode()
      err.put("error", "Files surface not configured")
      respond(ex, 404, err)
    case Some(dir) =>
      // clamp, don't trust: ?limit=2000000000 must not size server
      // memory (the newest-K heap below is O(limit))
      val requested = qp.get("limit").flatMap(s => scala.util.Try(s.toInt).toOption)
        .filter(_ > 0).getOrElse(cfg.filesListCap)
      val limit = requested.min(cfg.filesListMax)
      val conf = hadoopConf(cfg)
      val rootUri = filesRootUri(conf, dir)
      // bounded-memory walk: O(limit) heap, never the full listing
      val inv = graft.ohlcv.Storage.newestInventory(
        conf, dir, limit, _.endsWith(".json")) // dashboard lists raw JSON only
      val body = mapper.createObjectNode()
      val arr  = body.putArray("files")
      inv.foreach { case (p, size, m) =>
        val o = arr.addObject()
        o.put("key", fileKey(rootUri, p))
        o.put("size", size)
        o.put("modified", java.time.Instant.ofEpochMilli(m).toString)
      }
      body.put("count", inv.size)
      // a client asking for 1000 and getting 500 back must be able to
      // tell "clamped" from "only 500 exist"
      body.put("limit", limit)
      if (requested > limit) body.put("clamped", true)
      respond(ex, 200, body)
  }

  /** Resolved root URI of the landed-files dir — ONE derivation shared
    * by /files and /dashboard so their key rules can never diverge. */
  private def filesRootUri(
      conf: org.apache.hadoop.conf.Configuration, dir: String): java.net.URI = {
    val p  = new org.apache.hadoop.fs.Path(dir)
    val fs = p.getFileSystem(conf)
    (if (fs.exists(p)) fs.resolvePath(p) else fs.makeQualified(p)).toUri
  }

  /** The /files-relative key of one landed file (also the /file/{key}
    * input). */
  private def fileKey(rootUri: java.net.URI, path: String): String =
    rootUri.relativize(new org.apache.hadoop.fs.Path(path).toUri).getPath

  /** GET /dashboard — the reference's HTML dashboard
    * (`scripts/dashboard.py:111-170` rendering
    * `templates/dashboard.html`): stat cards, the 5 newest raw data
    * files, and a per-symbol table of the latest candle with
    * change/change% classes. Rendered from the SAME aggregates the
    * JSON endpoints serve (`/latest`'s latestSummary relation and
    * `/files`' newest-inventory walk), so the page can never disagree
    * with the API — ApiServerSpec pins the numbers match. The change
    * columns are the reference's candle-local definition
    * (dashboard.py:133-141): close − open of the LATEST candle,
    * rounded to 2, pct 0 when open ≤ 0. */
  private def handleDashboard(
      ex: com.sun.net.httpserver.HttpExchange,
      table: DataFrame,
      cfg: Config): Unit = {
    def esc(s: String): String =
      s.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")
    // locale-safe PLAIN decimal text (never scientific — Double.toString
    // switches to E-notation at 1e7, which would break the
    // page-equals-API pin on large prices), matching the reference's
    // round(x, 2) rendering
    def r2(x: Double): String =
      java.math.BigDecimal.valueOf(math.rint(x * 100) / 100)
        .stripTrailingZeros.toPlainString
    def grouped(v: Long): String = // "{:,}".format — locale-independent
      v.toString.reverse.grouped(3).mkString(",").reverse
    val rows = Api.latestSummaryFromTable(table, defaultSymbols(table, cfg.latestSymbolCap))
      .select(col("symbol"), col("last.open"), col("last.high"),
        col("last.low"), col("last.close"), col("last.v"))
      .collect()
      .sortBy(_.getString(0))
    val tableRows = rows.map { r =>
      def cell(i: Int): String = numOpt(r, i).map(r2).getOrElse("N/A")
      // the reference (scripts/dashboard.py:131-141) rounds open/close
      // to 2 decimals FIRST and differences the ROUNDED values — with
      // >2-decimal prices the other order can differ by 0.01, breaking
      // the page-equals-reference contract
      def round2(x: Double): Double = math.rint(x * 100) / 100
      val openR = numOpt(r, 1).map(round2)
      val change = (openR, numOpt(r, 4).map(round2)) match {
        case (Some(o), Some(c)) => Some(round2(c - o))
        case _                  => None
      }
      val pct = (openR, change) match {
        case (Some(o), Some(ch)) if o > 0 => Some(round2(ch / o * 100))
        case (Some(_), Some(_))           => Some(0.0)
        case _                            => None
      }
      def cls(v: Option[Double]): String =
        v.fold("")(x => if (x > 0) "positive" else if (x < 0) "negative" else "")
      val vol = numOpt(r, 5).map(v => grouped(v.toLong)).getOrElse("N/A")
      s"""<tr><td><strong>${esc(r.getString(0))}</strong></td>""" +
        s"""<td>${cell(1)}</td><td>${cell(2)}</td><td>${cell(3)}</td><td>${cell(4)}</td>""" +
        s"""<td>$vol</td>""" +
        s"""<td class="${cls(change)}">${change.map(r2).getOrElse("N/A")}</td>""" +
        s"""<td class="${cls(pct)}">${pct.map(r2).getOrElse("N/A")}%</td></tr>"""
    }
    val recentFiles = cfg.filesDir.toSeq.flatMap { dir =>
      // one conf/rootUri derivation for the whole listing — the same
      // key rule /files uses, hoisted out of the per-file map (on an
      // object store each resolvePath is a metadata RPC)
      val conf    = hadoopConf(cfg)
      val rootUri = filesRootUri(conf, dir)
      graft.ohlcv.Storage.newestInventory(conf, dir, 5, _.endsWith(".json"))
        .map { case (p, size, m) =>
          val key = fileKey(rootUri, p)
          s"""<div><strong>${esc(key)}</strong> - $size bytes - ${java.time.Instant.ofEpochMilli(m)}</div>"""
        }
    }
    val body =
      if (rows.isEmpty)
        """<div class="no-data"><h2>&#128237; No Data Available</h2>""" +
          """<p>The ingest job hasn't run yet or there's no data landed.</p></div>"""
      else
        s"""<div class="data-table"><table><thead><tr>
           |<th>Symbol</th><th>Open (&#8377;)</th><th>High (&#8377;)</th><th>Low (&#8377;)</th>
           |<th>Close (&#8377;)</th><th>Volume</th><th>Change</th><th>Change %</th>
           |</tr></thead><tbody>
           |${tableRows.mkString("\n")}
           |</tbody></table></div>""".stripMargin
    val html =
      s"""<!DOCTYPE html>
         |<html><head><title>Stock Price Feed Dashboard</title>
         |<style>
         |body{font-family:sans-serif;margin:2em;background:#f5f6fa}
         |.stats-grid{display:flex;gap:1em}.stat-card{background:#fff;padding:1em;border-radius:8px}
         |.stat-value{font-size:1.6em;font-weight:bold}.stat-label{color:#666}
         |table{border-collapse:collapse;width:100%;background:#fff}
         |th,td{padding:.5em .8em;border-bottom:1px solid #eee;text-align:right}
         |th:first-child,td:first-child{text-align:left}
         |.positive{color:#0a7d33}.negative{color:#c0392b}
         |.file-info{background:#fff;padding:1em;border-radius:8px;margin:1em 0}
         |</style></head><body>
         |<div class="header"><h1>&#128202; Stock Price Feed Dashboard</h1></div>
         |<div class="stats-grid">
         |<div class="stat-card"><div class="stat-value" id="total-symbols">${rows.length}</div><div class="stat-label">Total Symbols</div></div>
         |<div class="stat-card"><div class="stat-value" id="successful">${rows.length}</div><div class="stat-label">Successful</div></div>
         |<div class="stat-card"><div class="stat-value" id="last-update">${cfg.clock()}</div><div class="stat-label">Last Update</div></div>
         |</div>
         |${if (recentFiles.nonEmpty)
            s"""<div class="file-info"><h3>&#128193; Recent Data Files</h3>${recentFiles.mkString("\n")}</div>"""
          else ""}
         |$body
         |</body></html>""".stripMargin
    respondRaw(ex, 200, html, "text/html")
  }

  /** GET /file/{key} — per-file detail (`scripts/dashboard.py:201-260`):
    * the raw envelope parsed into per-symbol candle objects
    * ({timestamp, datetime, open, high, low, close, volume}), both
    * envelope formats handled (legacy `data` map and direct-symbol).
    * The key is the /files-relative path; traversal is rejected. */
  private def handleFileDetail(
      ex: com.sun.net.httpserver.HttpExchange,
      key: String,
      cfg: Config): Unit = cfg.filesDir match {
    case None =>
      val err = mapper.createObjectNode()
      err.put("error", "Files surface not configured")
      respond(ex, 404, err)
    case Some(dir) =>
      // ':' would make the key an ABSOLUTE scheme-qualified URI, which
      // Path(root, key) resolution returns unchanged — i.e. an
      // arbitrary-file read (file:/etc/passwd). Reject it, then verify
      // the RESOLVED path still sits under the resolved root.
      if (key.isEmpty || key.split("/").contains("..") ||
        key.startsWith("/") || key.contains(":")) {
        val err = mapper.createObjectNode()
        err.put("error", "Invalid file key")
        respond(ex, 400, err); return
      }
      val conf = hadoopConf(cfg)
      val root = new org.apache.hadoop.fs.Path(dir)
      val fs   = root.getFileSystem(conf)
      val file = new org.apache.hadoop.fs.Path(root, key)
      val rootPath = fs.makeQualified(root).toUri.getPath
      if (!fs.makeQualified(file).toUri.getPath.startsWith(rootPath + "/")) {
        val err = mapper.createObjectNode()
        err.put("error", "Invalid file key")
        respond(ex, 400, err); return
      }
      if (!fs.exists(file) || !fs.getFileStatus(file).isFile) {
        val err = mapper.createObjectNode()
        err.put("error", "File not found")
        err.put("key", key)
        respond(ex, 404, err); return
      }
      // the whole envelope is parsed in server memory below — refuse
      // anything over the configured cap instead of OOMing the server
      val len = fs.getFileStatus(file).getLen
      if (len > cfg.fileDetailMaxBytes) {
        val err = mapper.createObjectNode()
        err.put("error", "File too large")
        err.put("key", key)
        err.put("size", len)
        err.put("max_bytes", cfg.fileDetailMaxBytes)
        respond(ex, 413, err); return
      }
      val text = {
        val in = fs.open(file)
        try scala.io.Source.fromInputStream(in, "UTF-8").mkString finally in.close()
      }
      val body = mapper.createObjectNode()
      body.put("key", key)
      val symbols = body.putArray("symbols")
      // Spark-written raw files are JSON LINES of envelopes; a
      // hand-landed file is one multi-line document — accept both.
      val docs: Seq[com.fasterxml.jackson.databind.JsonNode] = {
        val lines = text.split("\n").iterator.map(_.trim).filter(_.nonEmpty).toSeq
        val parsed = lines.flatMap(l => scala.util.Try(mapper.readTree(l)).toOption)
        if (parsed.nonEmpty && parsed.size == lines.size) parsed
        else scala.util.Try(mapper.readTree(text)).toOption.toSeq
      }
      docs.headOption.flatMap(d => Option(d.get("metadata"))).foreach { m =>
        body.set[com.fasterxml.jackson.databind.JsonNode]("metadata", m); ()
      }
      docs.foreach { doc =>
        // legacy format: symbol blocks under `data`; new format:
        // symbol blocks directly at top level (dashboard.py:224-232)
        val src =
          if (doc.has("data") && doc.get("data").isObject) doc.get("data")
          else doc
        src.fields().forEachRemaining { e =>
          val (sym, block) = (e.getKey, e.getValue)
          if (sym != "metadata" && block.isObject) {
            val cand = Option(block.get("candles")).orElse(Option(block.get("candles_sample")))
            cand.filter(_.isArray).foreach { cs =>
              val o = symbols.addObject()
              o.put("symbol", sym)
              o.put("total_records", cs.size())
              val arr = o.putArray("candles")
              cs.forEach { c =>
                if (c.isArray && c.size() >= 6) {
                  val row = arr.addObject()
                  val ts  = c.get(0).asLong()
                  row.put("timestamp", ts)
                  row.put("datetime", isoZ(ts)) // dashboard.py:246-249, UTC here
                  row.put("open", c.get(1).asDouble()); row.put("high", c.get(2).asDouble())
                  row.put("low", c.get(3).asDouble()); row.put("close", c.get(4).asDouble())
                  row.put("volume", c.get(5).asLong())
                }
              }
            }
          }
        }
      }
      respond(ex, 200, body)
  }

  // ---------------------------------------------------------------
  // Plumbing
  // ---------------------------------------------------------------

  /** Default /latest symbol list: the first `cap` symbols of the
    * table's newest landed day. */
  private def defaultSymbols(table: DataFrame, cap: Int): Seq[String] =
    Api.symbolsFromTable(table).limit(cap).collect().map(_.getString(0)).toSeq

  /** Driver-side normalize of one user-supplied symbol — same branches
    * as [[graft.ohlcv.Normalize.toExchangeSymbol]] /
    * api_handler.py:592-612. */
  private[serving] def normalizeSymbol(s: String): String = {
    val up = s.trim.toUpperCase
    if (up.isEmpty || up.contains(":")) up
    else if (up.endsWith("-EQ")) s"NSE:$up"
    else s"NSE:$up-EQ"
  }

  /** Epoch seconds → the reference's candle `datetime` string
    * (`datetime.fromtimestamp(ts).isoformat() + 'Z'`,
    * api_handler.py:394). The reference renders in the Lambda's local
    * zone; we render UTC — deterministic, and the Lambda zone IS UTC. */
  private def isoZ(epochSec: Long): String =
    java.time.LocalDateTime
      .ofEpochSecond(epochSec, 0, java.time.ZoneOffset.UTC)
      .toString match { // LocalDateTime drops :00 seconds; reference keeps them
        case s if s.length == 16 => s + ":00Z"
        case s                   => s + "Z"
      }

  /** Null-safe numeric read: a row with one null OHLCV field must not
    * 500 the whole request — emit JSON null (dict form) or the
    * reference's `or 0` tolerance (list form) instead. */
  private def numOpt(r: Row, i: Int): Option[Double] =
    if (r.isNullAt(i)) None else Some(r.getDouble(i))

  /** Rows of (epoch-sec, o, h, l, c, v) → the reference's DICT-shaped
    * candles `{timestamp, datetime, open, high, low, close, volume}`
    * (api_handler.py:393-401). Null numeric fields pass through as
    * JSON null (the reference's `candle.get(...)` does the same); a
    * null timestamp drops the candle (`if timestamp:` gate, :425). */
  private def candleDicts(arr: ArrayNode, rows: Array[Row]): Unit =
    rows.foreach { r =>
      if (!r.isNullAt(0)) {
        val ts = r.getLong(0)
        val c  = arr.addObject()
        c.put("timestamp", ts)
        c.put("datetime", isoZ(ts))
        def putd(k: String, i: Int): Unit =
          numOpt(r, i).fold { c.putNull(k); () } { v => c.put(k, v); () }
        putd("open", 1); putd("high", 2); putd("low", 3); putd("close", 4)
        numOpt(r, 5).fold { c.putNull("volume"); () } { v => c.put("volume", v.toLong); () }
      }
    }

  /** Rows of (epoch-sec, o, h, l, c, v) → LIST-shaped candles
    * `[ts, open, high, low, close, volume]` — the /alfaquantz
    * aggregation format (api_handler.py:700-715), with the reference's
    * `float(c.get(...) or 0)` null tolerance. */
  private def candleLists(arr: ArrayNode, rows: Array[Row]): Unit =
    rows.foreach { r =>
      if (!r.isNullAt(0)) {
        val c = arr.addArray()
        c.add(r.getLong(0))
        c.add(numOpt(r, 1).getOrElse(0.0)); c.add(numOpt(r, 2).getOrElse(0.0))
        c.add(numOpt(r, 3).getOrElse(0.0)); c.add(numOpt(r, 4).getOrElse(0.0))
        c.add(numOpt(r, 5).getOrElse(0.0).toLong)
      }
    }

  private def queryParams(ex: com.sun.net.httpserver.HttpExchange): Map[String, String] =
    Option(ex.getRequestURI.getRawQuery).filter(_.nonEmpty).fold(Map.empty[String, String]) {
      _.split("&").iterator.flatMap { kv =>
        kv.split("=", 2) match {
          case Array(k, v) => Some(
            java.net.URLDecoder.decode(k, "UTF-8") -> java.net.URLDecoder.decode(v, "UTF-8"))
          case Array(k) => Some(java.net.URLDecoder.decode(k, "UTF-8") -> "")
          case _        => None
        }
      }.toMap
    }

  private def respond(
      ex: com.sun.net.httpserver.HttpExchange, status: Int, body: ObjectNode): Unit =
    respondRaw(ex, status,
      mapper.writerWithDefaultPrettyPrinter().writeValueAsString(body), "application/json")

  /** Status + CORS headers of api_handler.py:633-652. */
  private def respondRaw(
      ex: com.sun.net.httpserver.HttpExchange, status: Int, body: String, contentType: String): Unit = {
    val h = ex.getResponseHeaders
    h.set("Content-Type", contentType)
    h.set("Access-Control-Allow-Origin", "*")
    h.set("Access-Control-Allow-Headers", "Content-Type,Authorization")
    h.set("Access-Control-Allow-Methods", "GET,OPTIONS")
    val bytes = body.getBytes("UTF-8")
    ex.sendResponseHeaders(status, if (bytes.isEmpty) -1 else bytes.length)
    if (bytes.nonEmpty) ex.getResponseBody.write(bytes)
    ex.close()
  }
}
