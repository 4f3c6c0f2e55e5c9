package graft.serving

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.{ArrayNode, ObjectNode}
import graft.SparkSpec
import graft.ohlcv.{Api, MockData, Normalize, RawIngest, Storage}
import graft.operators.{Analytics, Dedup}
import org.apache.spark.metrics.source.HiveCatalogMetrics
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.{col, dayofmonth, month, timestamp_seconds, unix_timestamp, year}

/** Live end-to-end test of the REST layer: JDK http client against the
  * in-process server, over a partitioned table of normalized mock
  * candles — the same zero-egress pattern as HttpIngestSpec. */
class ApiServerSpec extends SparkSpec {

  private val mapper = new ObjectMapper()
  private val clock  = () => java.time.Instant.parse("2025-10-08T06:00:00Z")
  // two symbols × 10 five-minute candles starting 2025-10-08 03:45 UTC,
  // landed as raw JSON and re-read (blocks needs source_file)
  private lazy val normalized: DataFrame = {
    val tmp  = java.nio.file.Files.createTempDirectory("graft-apisrv").toString
    val mock = MockData.candles(spark, Seq("NSE:RELIANCE-EQ", "NSE:TCS-EQ"), 10, 1759895100L)
    MockData.envelope(mock, "2025-10-08T04:00:00Z").write.json(s"$tmp/raw")
    Normalize.normalize(RawIngest.blocks(RawIngest.readRaw(spark, s"$tmp/raw")), "spec").cache()
  }
  private lazy val candles: DataFrame = Api.fromNormalized(normalized)
  // the same candles as the served partitioned parquet table
  private lazy val table: String = {
    val path = java.nio.file.Files.createTempDirectory("graft-apisrv-tbl").toString + "/table"
    Storage.writeParquet(normalized, path, "overwrite")
    path
  }

  private def get(server: ApiServer.Server, pathAndQuery: String): (Int, String) = {
    val client = java.net.http.HttpClient.newHttpClient()
    val resp = client.send(
      java.net.http.HttpRequest.newBuilder()
        .uri(java.net.URI.create(s"http://127.0.0.1:${server.port}$pathAndQuery"))
        .GET().build(),
      java.net.http.HttpResponse.BodyHandlers.ofString())
    (resp.statusCode(), resp.body())
  }

  private def withServer(f: ApiServer.Server => Unit): Unit =
    withServer(ApiServer.Config(clock = clock))(f)

  private def withServer(cfg: ApiServer.Config)(f: ApiServer.Server => Unit): Unit = {
    val server = ApiServer.startFromTable(spark, table, cfg)
    try f(server)
    finally server.stop()
  }

  /** A JSON body as a tree, anything else (CSV, HTML) as text. */
  private def parsed(body: String): Any =
    if (body.startsWith("{")) mapper.readTree(body) else body

  test("routes: /symbols, limit validation, 404 envelope") {
    withServer { s =>
      val (code, body) = get(s, "/symbols")
      assert(code === 200)
      val j = mapper.readTree(body)
      assert(j.get("count").asInt === 2)
      assert(j.get("symbols").get(0).asText === "NSE:RELIANCE-EQ")

      val (c2, b2) = get(s, "/symbols?limit=1")
      assert(c2 === 200 && mapper.readTree(b2).get("count").asInt === 1)

      val (c3, b3) = get(s, "/symbols?limit=nope")
      assert(c3 === 400 && mapper.readTree(b3).get("error").asText === "Invalid limit parameter")

      val (c4, b4) = get(s, "/nothing/here")
      assert(c4 === 404)
      assert(mapper.readTree(b4).get("available_endpoints").has("/ohlcv/{symbol}"))
    }
  }

  test("/ohlcv/{symbol}: bare symbol normalized, reference dict candles, limit, 404 on unknown") {
    withServer { s =>
      // bare lower-case symbol → NSE:TCS-EQ (reference normalize_symbol)
      val (code, body) = get(s, "/ohlcv/tcs")
      assert(code === 200)
      val j = mapper.readTree(body)
      assert(j.get("symbol").asText === "NSE:TCS-EQ")
      assert(j.get("count").asInt === 10)
      // dict-shaped candle with the reference's datetime field
      val c0 = j.get("data").get(0)
      assert(c0.isObject)
      assert(c0.get("timestamp").asLong === 1759895100L) // ascending from the first tick
      assert(c0.get("datetime").asText === "2025-10-08T03:45:00Z")
      assert(c0.has("open") && c0.has("high") && c0.has("low") && c0.has("close") && c0.has("volume"))
      // tail-limit: most recent 3, still ascending
      val j2 = mapper.readTree(get(s, "/ohlcv/tcs?limit=3")._2)
      assert(j2.get("count").asInt === 3)
      assert(j2.get("data").get(0).get("timestamp").asLong === 1759895100L + 7 * 300)
      // unknown symbol → reference 404 envelope
      val (c3, b3) = get(s, "/ohlcv/NOPE")
      assert(c3 === 404 && mapper.readTree(b3).get("error").asText === "No data found")
    }
  }

  test("/ohlcv interval resample + /alfaquantz period path and query styles agree") {
    withServer { s =>
      // 10 5-min candles → 15-min buckets: ceil boundaries give 4 buckets
      val j = mapper.readTree(get(s, "/ohlcv/tcs?interval=15m")._2)
      assert(j.get("count").asInt === 4)
      // limit applies AFTER resampling: most-recent 2 buckets, ascending
      val jl = mapper.readTree(get(s, "/ohlcv/tcs?interval=15m&limit=2")._2)
      assert(jl.get("count").asInt === 2)
      assert(jl.get("data").get(0).get("timestamp").asLong
        === j.get("data").get(2).get("timestamp").asLong)
      // alfaquantz path-style: comma triple, period 3m covers the data;
      // full reference key set, LIST-form candles
      val (ca, ba) = get(s, "/alfaquantz/price/get/tcs,15m,3m")
      assert(ca === 200)
      val ja = mapper.readTree(ba)
      assert(ja.get("symbol_requested").asText === "tcs")
      assert(ja.get("symbol_normalized").asText === "NSE:TCS-EQ")
      assert(ja.get("count").asInt === 4)
      assert(ja.get("to_date").asText === "2025-10-08")
      assert(ja.has("from_date") && ja.get("period").asText === "3m")
      assert(ja.get("candles").get(0).isArray && ja.get("candles").get(0).size === 6)
      // query-style returns the same candles
      val jq = mapper.readTree(get(s, "/alfaquantz/price/get?symbol=tcs&interval=15m&period=3m")._2)
      assert(jq.get("candles") === ja.get("candles"))
      // missing params → 400
      assert(get(s, "/alfaquantz/price/get")._1 === 400)
    }
  }

  test("CSV-backed provider serves identical answers (api_handler_csv.py parity)") {
    // the reference ships a CSV-reader twin of the API
    // (api/api_handler_csv.py) over the S7 partitioned CSV layout;
    // here the same server runs over Storage.writeCsv/readCsv and must
    // agree with the parquet-backed answers on every data route — the
    // CSV layout is symbol-major, so /latest's newest-day discovery
    // must parse its leaves too
    val tmp = java.nio.file.Files.createTempDirectory("graft-apisrv-csv").toString
    Storage.writeCsv(normalized, s"$tmp/csvtbl")
    val server = ApiServer.start(
      () => Storage.readCsv(spark, s"$tmp/csvtbl"), ApiServer.Config(clock = clock))
    try withServer { parquetSrv =>
      for (q <- Seq(
          "/symbols", "/symbols?limit=1",
          "/ohlcv/tcs?limit=3", "/ohlcv/tcs?interval=15m&limit=2",
          "/ohlcv/reliance?from=2025-10-08&to=2025-10-08",
          "/latest?symbols=tcs,reliance", "/latest?symbols=", "/latest",
          "/historical?symbol=reliance&from=2025-10-08&to=2025-10-08",
          "/historical?symbols=tcs,reliance", "/historical", "/historical?symbol=tcs&format=csv",
          "/alfaquantz/price/get/tcs,15m,3m",
          "/analytics?query_type=symbol_stats&symbol=TCS&date=2025-10-08",
          "/analytics?query_type=daily_summary&date=2025-10-08",
          "/analytics?query_type=daily_summary&date=2025-10-09",
          "/analytics?query_type=date_range&symbol=TCS&start_date=2025-10-07&end_date=2025-10-09",
          "/analytics?query_type=top_movers&date=2025-10-08&limit=1",
          "/dashboard")) {
        val (cc, bc) = get(server, q)
        val (cp, bp) = get(parquetSrv, q)
        assert(cc === cp, q)
        assert(parsed(bc) === parsed(bp), s"csv vs parquet diverge on $q")
      }
      assert(mapper.readTree(get(server, "/symbols")._2).get("count").asInt === 2)
      assert(mapper.readTree(get(server, "/latest")._2).get("count").asInt === 2)
    } finally server.stop()
  }

  test("startFromTable: partitioned-table serving agrees with the frame-backed server") {
    // every route's answer, computed here from the in-memory fixture
    // with the Api cores and the Analytics rollups over the
    // keep-latest-fetch dedup — the frame computations the table-backed
    // handlers must reproduce value for value. /latest included: the
    // table answers from the newest day partition only, which on this
    // single-day fixture is the whole history.
    val tcs = "NSE:TCS-EQ"; val rel = "NSE:RELIANCE-EQ"; val day = "2025-10-08"
    def node(f: ObjectNode => Unit): JsonNode = {
      val o = mapper.createObjectNode(); f(o)
      mapper.readTree(mapper.writeValueAsString(o)) // numeric node types as parsed
    }
    def ohlcvRows(df: DataFrame, t: org.apache.spark.sql.Column): Array[Row] =
      df.select(t, col("open"), col("high"), col("low"), col("close"),
        col("volume").cast("double")).collect()
    def putOpt(o: ObjectNode, k: String, r: Row, i: Int): Unit =
      if (r.isNullAt(i)) o.putNull(k) else o.put(k, r.getDouble(i))
    def dicts(arr: ArrayNode, rows: Array[Row]): Unit = rows.foreach { r =>
      val c = arr.addObject()
      c.put("timestamp", r.getLong(0))
      c.put("datetime", java.time.Instant.ofEpochSecond(r.getLong(0)).toString)
      Seq("open", "high", "low", "close").zipWithIndex.foreach { case (k, i) => putOpt(c, k, r, i + 1) }
      c.put("volume", r.getDouble(5).toLong)
    }
    val deduped = Dedup.keepLatest(candles,
      keys = Seq(col("symbol"), col("ts")), version = Seq(col("fetch_timestamp")))
    def rollup(df: DataFrame): Array[Row] = df.select(
      col("symbol"), col("trade_date").cast("string"),
      col("open").cast("double"), col("close").cast("double"),
      col("high").cast("double"), col("low").cast("double"),
      col("volume").cast("long"), col("avg_price").cast("double"),
      col("num_records").cast("long"),
      col("price_change").cast("double"), col("price_change_pct").cast("double")).collect()
    def dayFields(o: ObjectNode, r: Row): Unit = {
      putOpt(o, "open", r, 2); putOpt(o, "close", r, 3)
      putOpt(o, "high", r, 4); putOpt(o, "low", r, 5)
      o.put("volume", r.getLong(6)); putOpt(o, "price_change_pct", r, 10)
    }
    val daily = Analytics.dailySummary(deduped, day, col("fetch_timestamp"))
    def movers(arr: ArrayNode, gainers: Boolean): Unit =
      rollup(Analytics.topMoversFromDaily(daily, 1, gainers)).foreach { r =>
        val o = arr.addObject()
        o.put("symbol", r.getString(0)); putOpt(o, "price_change_pct", r, 10)
        putOpt(o, "close", r, 3); o.put("volume", r.getLong(6))
      }
    val alfaFrom = java.time.LocalDate.parse(day).minusDays(90).toString
    val expected: Seq[(String, JsonNode)] = Seq(
      s"/ohlcv/tcs?from=$day&to=$day&limit=4" -> node { o =>
        val rows = ohlcvRows(Api.getOhlcv(candles, tcs, Some(day), Some(day), Some(4)), unix_timestamp(col("ts")))
        o.put("symbol", tcs); o.put("interval", "5"); dicts(o.putArray("data"), rows)
        o.put("count", rows.length); o.put("timestamp", clock().toString)
      },
      "/ohlcv/tcs?interval=15m" -> node { o =>
        val rows = ohlcvRows(Api.getOhlcvResampled(candles, tcs, None, None, "15m"), col("bucket_start"))
        o.put("symbol", tcs); o.put("interval", "15m"); dicts(o.putArray("data"), rows)
        o.put("count", rows.length); o.put("timestamp", clock().toString)
      },
      "/latest?symbols=tcs,reliance" -> node { o =>
        val rows = Api.latestSummary(candles.filter(col("symbol").isin(tcs, rel)))
          .select(col("symbol"), col("total_candles"), col("fetch_ts"), col("last.t"),
            col("last.open"), col("last.high"), col("last.low"), col("last.close"), col("last.v"))
          .collect()
        o.putArray("symbols").add(tcs).add(rel)
        val data = o.putObject("data")
        rows.foreach { r =>
          val s = data.putObject(r.getString(0))
          s.put("symbol", r.getString(0)); putOpt(s, "latest_price", r, 7)
          s.put("total_candles", r.getLong(1)); s.put("resolution", "5")
          s.put("timestamp", r.getString(2))
          val c = s.putArray("last_candle")
          c.add(r.getLong(3)); (4 to 7).foreach(i => c.add(r.getDouble(i))); c.add(r.getDouble(8).toLong)
        }
        o.put("count", rows.length); o.put("timestamp", clock().toString)
      },
      s"/historical?symbol=reliance&from=$day&to=$day" -> node { o =>
        val rows = ohlcvRows(Api.getOhlcv(candles, rel, Some(day), Some(day), None), unix_timestamp(col("ts")))
        o.putArray("symbols").add(rel); o.put("from_date", day); o.put("to_date", day)
        val s = o.putObject("data").putObject(rel)
        s.put("symbol", rel); dicts(s.putArray("candles"), rows); s.put("count", rows.length)
        o.put("total_records", rows.length); o.put("timestamp", clock().toString)
      },
      "/alfaquantz/price/get/tcs,15m,3m" -> node { o =>
        val rows = ohlcvRows(Api.getOhlcvResampled(candles, tcs, Some(alfaFrom), Some(day), "15m"),
          col("bucket_start"))
        o.put("symbol_requested", "tcs"); o.put("symbol_normalized", tcs)
        o.put("interval", "15m"); o.put("period", "3m")
        o.put("from_date", alfaFrom); o.put("to_date", day); o.put("count", rows.length)
        val cs = o.putArray("candles")
        rows.foreach { r =>
          val c = cs.addArray()
          c.add(r.getLong(0)); (1 to 4).foreach(i => c.add(r.getDouble(i))); c.add(r.getDouble(5).toLong)
        }
        o.put("timestamp", clock().toString)
      },
      s"/analytics?query_type=symbol_stats&symbol=TCS&date=$day" -> node { o =>
        val r = rollup(Analytics.dateRange(deduped, tcs, day, day, col("fetch_timestamp"))).head
        o.put("symbol", "TCS"); o.put("date", day)
        val st = o.putObject("stats")
        putOpt(st, "open", r, 2); putOpt(st, "close", r, 3)
        putOpt(st, "high", r, 4); putOpt(st, "low", r, 5)
        st.put("volume", r.getLong(6)); putOpt(st, "avg_price", r, 7)
        putOpt(st, "price_change", r, 9); putOpt(st, "price_change_pct", r, 10)
        st.put("num_records", r.getLong(8))
      },
      s"/analytics?query_type=daily_summary&date=$day" -> node { o =>
        val rows = rollup(daily)
        o.put("date", day)
        val sa = o.putArray("summary")
        rows.foreach { r => val e = sa.addObject(); e.put("symbol", r.getString(0)); dayFields(e, r) }
        o.put("total_symbols", rows.length)
      },
      "/analytics?query_type=date_range&symbol=TCS&start_date=2025-10-07&end_date=2025-10-09" -> node { o =>
        val rows = rollup(Analytics.dateRange(deduped, tcs, "2025-10-07", "2025-10-09", col("fetch_timestamp")))
        o.put("symbol", "TCS"); o.put("start_date", "2025-10-07"); o.put("end_date", "2025-10-09")
        val da = o.putArray("data")
        rows.foreach { r => val e = da.addObject(); e.put("date", r.getString(1)); dayFields(e, r) }
        o.put("num_days", rows.length)
      },
      s"/analytics?query_type=top_movers&date=$day&limit=1" -> node { o =>
        o.put("date", day)
        movers(o.putArray("gainers"), gainers = true)
        movers(o.putArray("losers"), gainers = false)
      })
    withServer { tableSrv =>
      for ((q, want) <- expected) {
        val (code, body) = get(tableSrv, q)
        assert(code === 200, s"$q -> $code: $body")
        assert(mapper.readTree(body) === want, s"table vs frame diverge on $q")
      }
    }
  }

  test("table-backed /latest: garbage symbols answer 200 with no data; bare /latest lists newest-day symbols") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-apisrv-tbl2").toString
    val normalized = {
      val mock = MockData.candles(spark, Seq("NSE:RELIANCE-EQ", "NSE:TCS-EQ"), 5, 1759895100L)
      MockData.envelope(mock, "2025-10-08T04:00:00Z").write.json(s"$tmp/raw")
      Normalize.normalize(RawIngest.blocks(RawIngest.readRaw(spark, s"$tmp/raw")), "spec")
    }
    graft.ohlcv.Storage.writeParquet(normalized, s"$tmp/table", "overwrite")
    val srv = ApiServer.startFromTable(spark, s"$tmp/table",
      ApiServer.Config(clock = () => java.time.Instant.parse("2025-10-08T06:00:00Z")))
    try {
      // a symbols value that cleans to "" or carries glob
      // metacharacters must answer like an unknown symbol (absent
      // from data -> count 0), never a thrown 500
      for (q <- Seq("/latest?symbols=", "/latest?symbols=FOO*", "/latest?symbols=%7Bbad%7D")) {
        val (code, body) = get(srv, q)
        assert(code === 200, s"$q -> $code: $body")
        assert(mapper.readTree(body).get("count").asInt === 0, q)
      }
      // bare /latest: default symbols come from the NEWEST day's
      // partitions (metadata-discovered), not a full-table distinct
      val (c, b) = get(srv, "/latest")
      assert(c === 200)
      val j = mapper.readTree(b)
      assert(j.get("count").asInt === 2)
      assert(j.get("data").has("NSE:RELIANCE-EQ") && j.get("data").has("NSE:TCS-EQ"))

      // each request lists the table once, however many symbols, parts
      // or fallbacks its answer has: files discovered = one listing
      val oneListing = Storage.readParquet(spark, s"$tmp/table").inputFiles.length.toLong
      for (q <- Seq("/historical?symbols=tcs,reliance,infy", "/historical", "/latest",
          "/dashboard", "/analytics?query_type=daily_summary&date=2025-10-09")) {
        HiveCatalogMetrics.reset()
        assert(get(srv, q)._1 === 200, q)
        assert(HiveCatalogMetrics.METRIC_FILES_DISCOVERED.getCount === oneListing, q)
      }
    } finally srv.stop()
  }

  test("/analytics: the Lambda invoke surface — four query types, reference envelopes and error shapes") {
    withServer { s =>
      // symbol_stats (the default query_type): stats block + echo keys
      val (c1, b1) = get(s, "/analytics?query_type=symbol_stats&symbol=RELIANCE&date=2025-10-08")
      assert(c1 === 200)
      val j1 = mapper.readTree(b1)
      assert(j1.get("symbol").asText === "RELIANCE" && j1.get("date").asText === "2025-10-08")
      val st = j1.get("stats")
      assert(st.get("num_records").asLong === 10L)
      assert(math.abs(st.get("price_change").asDouble -
        (st.get("close").asDouble - st.get("open").asDouble)) < 1e-9)
      assert(st.has("avg_price") && st.has("volume") && st.has("price_change_pct"))
      // no data that day → the reference's 404 message
      val (c1b, b1b) = get(s, "/analytics?query_type=symbol_stats&symbol=RELIANCE&date=2025-10-09")
      assert(c1b === 404 && mapper.readTree(b1b).get("error").asText
        .contains("No data found for RELIANCE on 2025-10-09"))
      // missing params → 400
      assert(get(s, "/analytics?query_type=symbol_stats&symbol=RELIANCE")._1 === 400)

      // daily_summary: one row per symbol, desc by pct change
      val (c2, b2) = get(s, "/analytics?query_type=daily_summary&date=2025-10-08")
      assert(c2 === 200)
      val j2 = mapper.readTree(b2)
      assert(j2.get("total_symbols").asInt === 2)
      val sm = j2.get("summary")
      assert(sm.size === 2)
      assert(sm.get(0).get("price_change_pct").asDouble >=
        sm.get(1).get("price_change_pct").asDouble)
      assert(get(s, "/analytics?query_type=daily_summary")._1 === 400)
      // a POPULATED table on a day with no rows still answers 200 with
      // an empty summary (the reference's symbol prefixes exist; their
      // per-day reads just come back empty — lambda_analytics.py:235-249)
      val (c2e, b2e) = get(s, "/analytics?query_type=daily_summary&date=2025-10-09")
      assert(c2e === 200)
      val j2e = mapper.readTree(b2e)
      assert(j2e.get("total_symbols").asInt === 0 && j2e.get("summary").size === 0)

      // date_range: per-day rows ascending, the 31-day cap enforced
      val (c3, b3) = get(s,
        "/analytics?query_type=date_range&symbol=TCS&start_date=2025-10-07&end_date=2025-10-09")
      assert(c3 === 200)
      val j3 = mapper.readTree(b3)
      assert(j3.get("num_days").asInt === 1) // only the 8th has data
      assert(j3.get("data").get(0).get("date").asText === "2025-10-08")
      val (c3b, b3b) = get(s,
        "/analytics?query_type=date_range&symbol=TCS&start_date=2025-01-01&end_date=2025-03-01")
      assert(c3b === 400 &&
        mapper.readTree(b3b).get("error").asText === "Date range cannot exceed 31 days")

      // top_movers composes over daily_summary: gainers[0] is the
      // summary's first row, losers[0] its last
      val (c4, b4) = get(s, "/analytics?query_type=top_movers&date=2025-10-08&limit=1")
      assert(c4 === 200)
      val j4 = mapper.readTree(b4)
      assert(j4.get("gainers").size === 1 && j4.get("losers").size === 1)
      assert(j4.get("gainers").get(0).get("symbol").asText ===
        sm.get(0).get("symbol").asText)
      assert(j4.get("losers").get(0).get("symbol").asText ===
        sm.get(1).get("symbol").asText)
      assert(j4.get("gainers").get(0).has("close") && j4.get("gainers").get(0).has("volume"))

      // unknown query_type → the reference's 400 message
      val (c5, b5) = get(s, "/analytics?query_type=nope")
      assert(c5 === 400 &&
        mapper.readTree(b5).get("error").asText === "Unknown query_type: nope")
    }
  }

  test("daily_summary over a completely EMPTY source: the reference's 404 envelope, not a 200 with an empty array") {
    // lambda_analytics.py:213-224 — no symbol= prefixes listed at all
    // → 404 "No data found for <date>"
    val empty  = normalized.limit(0)
    val server = ApiServer.start(() => empty, ApiServer.Config(clock = clock))
    try {
      val (c, b) = get(server, "/analytics?query_type=daily_summary&date=2025-10-08")
      assert(c === 404)
      assert(mapper.readTree(b).get("error").asText === "No data found for 2025-10-08")
    } finally server.stop()
  }

  test("concurrent requests: parallel Spark queries on the handler pool all answer correctly") {
    withServer { s =>
      import scala.concurrent.{Await, Future}
      import scala.concurrent.duration._
      implicit val ec: scala.concurrent.ExecutionContext =
        scala.concurrent.ExecutionContext.global
      val bodies = Await.result(
        Future.sequence(Seq.fill(8)(Future(get(s, "/ohlcv/tcs?limit=2")))), 120.seconds)
      bodies.foreach { case (code, body) =>
        assert(code === 200)
        assert(mapper.readTree(body).get("count").asInt === 2)
      }
    }
  }

  test("/latest and /historical (json + csv) envelopes") {
    withServer { s =>
      val j = mapper.readTree(get(s, "/latest?symbols=tcs")._2)
      assert(j.get("count").asInt === 1)
      // reference per-symbol shape: {symbol, latest_price,
      // total_candles, resolution, timestamp, last_candle}
      val last = j.get("data").get("NSE:TCS-EQ")
      assert(last.get("symbol").asText === "NSE:TCS-EQ")
      assert(last.get("total_candles").asLong === 10L)
      assert(last.get("resolution").asText === "5")
      assert(last.get("timestamp").asText === "2025-10-08T04:00:00Z") // envelope fetch ts
      val lc = last.get("last_candle")
      assert(lc.isArray && lc.size === 6)
      assert(lc.get(0).asLong === 1759895100L + 9 * 300)
      assert(last.get("latest_price").asDouble === lc.get(4).asDouble) // close of newest

      val jh = mapper.readTree(get(s, "/historical?symbol=tcs&from=2025-10-08&to=2025-10-08")._2)
      assert(jh.get("total_records").asInt === 10)
      assert(jh.get("from_date").asText === "2025-10-08")
      val sym = jh.get("data").get("NSE:TCS-EQ")
      assert(sym.get("symbol").asText === "NSE:TCS-EQ")
      assert(sym.get("count").asInt === 10)
      // dict candles with datetime, like /ohlcv
      assert(sym.get("candles").get(0).get("datetime").asText === "2025-10-08T03:45:00Z")
      // to/from omitted → explicit nulls, reference-style
      val jh2 = mapper.readTree(get(s, "/historical?symbol=tcs")._2)
      assert(jh2.get("from_date").isNull && jh2.get("to_date").isNull)

      val (cc, csv) = get(s, "/historical?symbol=tcs&format=csv")
      assert(cc === 200)
      val lines = csv.split("\n")
      assert(lines.head === "symbol,timestamp,datetime,open,high,low,close,volume")
      assert(lines.length === 11 && lines(1).startsWith("NSE:TCS-EQ,1759895100,2025-10-08T03:45:00Z,"))
    }
  }

  test("streaming-fed serving: a newly-landed file is visible on the NEXT request, no restart") {
    // The reference promises 15-minute freshness (api_config.json:119)
    // by re-listing S3 per request; here the chain is raw landing →
    // OhlcvStream upsertSink → partitioned table → startFromTable,
    // which re-reads the table path per request — so data landed after
    // the server started appears on the next GET.
    val tmp  = java.nio.file.Files.createTempDirectory("graft-apisrv-stream").toString
    val land = s"$tmp/land"; val table = s"$tmp/table"; val ckpt = s"$tmp/ckpt"
    def landFile(startTs: Long, sub: String): Unit = {
      val mock = MockData.candles(spark, Seq("NSE:TCS-EQ"), 3, startTs)
      MockData.envelope(mock, "2025-10-08T04:00:00Z").write.json(s"$land/$sub")
    }
    def pump(): Unit = {
      val q = graft.streaming.OhlcvStream.upsertSink(
        graft.streaming.OhlcvStream.dedupedStream(
          graft.streaming.OhlcvStream.normalized(
            graft.streaming.OhlcvStream.readRawStream(spark, s"$land/*"), "stream"))
          .drop("event_time"),
        table, ckpt, partCols = Seq("day", "symbol_clean"), // serving layout: both filters prune
        keyCols = Seq("symbol_clean", "timestamp_unix"), version = "fetch_timestamp",
        trigger = org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
      q.awaitTermination(120000)
      assert(!q.isActive)
    }
    landFile(1759895100L, "f1")
    pump()
    val server = ApiServer.startFromTable(
      spark, table,
      ApiServer.Config(clock = () => java.time.Instant.parse("2025-10-08T06:00:00Z")))
    try {
      assert(mapper.readTree(get(server, "/ohlcv/tcs")._2).get("count").asInt === 3)
      // new file lands AFTER the server started; the stream upserts it
      landFile(1759895100L + 3 * 300, "f2")
      pump()
      // next request sees the merged table — 6 candles, no restart
      val j = mapper.readTree(get(server, "/ohlcv/tcs")._2)
      assert(j.get("count").asInt === 6)
      val ts = (0 until 6).map(i => j.get("data").get(i).get("timestamp").asLong)
      assert(ts === (0 until 6).map(i => 1759895100L + i * 300))
    } finally server.stop()
  }

  test("null OHLCV fields degrade to JSON nulls, not a 500") {
    val s = spark; import s.implicits._
    val rows = Seq(
      ("NSE:NULLY-EQ", 1759895100L, Some(1.0), Some(2.0), Some(0.5), None: Option[Double], Some(10.0), "f1"),
      ("NSE:NULLY-EQ", 1759895400L, Some(1.1), Some(2.1), Some(0.6), Some(1.9), Some(11.0), "f1"),
      // a symbol whose EVERY close is null — its daily rollup's close
      // and derived columns are null end to end
      ("NSE:NULLZ-EQ", 1759895100L, Some(1.0), Some(2.0), Some(0.5), None: Option[Double], Some(10.0), "f1"))
      .toDF("symbol", "timestamp_unix", "open", "high", "low", "close", "volume", "fetch_timestamp")
    val ts   = timestamp_seconds(col("timestamp_unix"))
    val path = java.nio.file.Files.createTempDirectory("graft-apisrv-null").toString + "/table"
    Storage.writeParquet(
      rows.withColumn("year", year(ts)).withColumn("month", month(ts))
        .withColumn("day", dayofmonth(ts))
        .withColumn("symbol_clean", Normalize.cleanSymbol(col("symbol"))),
      path, "overwrite")
    val server = ApiServer.startFromTable(spark, path, ApiServer.Config(clock = clock))
    try {
      val (code, body) = get(server, "/ohlcv/nully")
      assert(code === 200)
      val j = mapper.readTree(body)
      assert(j.get("count").asInt === 2)
      assert(j.get("data").get(0).get("close").isNull) // null passes through
      assert(j.get("data").get(1).get("close").asDouble === 1.9)
      // /latest with a null close → latest_price null, still 200
      val (c2, b2) = get(server, "/latest?symbols=nully")
      assert(c2 === 200)
      assert(mapper.readTree(b2).get("data").get("NSE:NULLY-EQ").get("last_candle").get(0).asLong === 1759895400L)
      // /analytics over the same frame: NULLZ's every close is null,
      // so its rollup's close and derived columns are JSON nulls —
      // never a 500; NULLY's latest close (1.9) survives max_by
      val (c3, b3) = get(server,
        "/analytics?query_type=daily_summary&date=2025-10-08")
      assert(c3 === 200)
      val summary = mapper.readTree(b3).get("summary")
      val bySym = (0 until summary.size)
        .map(i => summary.get(i).get("symbol").asText -> summary.get(i)).toMap
      assert(bySym("NSE:NULLY-EQ").get("close").asDouble === 1.9)
      assert(bySym("NSE:NULLZ-EQ").get("close").isNull)
      assert(bySym("NSE:NULLZ-EQ").get("price_change_pct").isNull)
      val (c4, b4) = get(server,
        "/analytics?query_type=top_movers&date=2025-10-08&limit=2")
      assert(c4 === 200)
      val g = mapper.readTree(b4).get("gainers")
      assert(g.size === 2) // the null-pct row rides along as JSON null
      val (c5, b5) = get(server,
        "/analytics?query_type=symbol_stats&symbol=NSE:NULLZ-EQ&date=2025-10-08")
      assert(c5 === 200)
      assert(mapper.readTree(b5).get("stats").get("close").isNull)
    } finally server.stop()
  }

  test("/files inventory + /file/{key} detail: landed raw files listed newest-first with size/modified, detail parses the envelope") {
    val landDir = java.nio.file.Files.createTempDirectory("graft-files").toString
    val mock1 = MockData.candles(spark, Seq("NSE:TCS-EQ"), 3, 1759895100L)
    MockData.envelope(mock1, "2025-10-08T04:00:00Z").coalesce(1).write.json(s"$landDir/f1")
    Thread.sleep(1100) // distinct mtimes at FS resolution
    val mock2 = MockData.candles(spark, Seq("NSE:RELIANCE-EQ", "NSE:TCS-EQ"), 2, 1759898700L)
    MockData.envelope(mock2, "2025-10-08T05:00:00Z").coalesce(1).write.json(s"$landDir/f2")

    withServer(ApiServer.Config(clock = clock, filesDir = Some(landDir))) { server =>
      val (code, body) = get(server, "/files")
      assert(code === 200)
      val j = mapper.readTree(body)
      assert(j.get("count").asInt === 2)
      val first = j.get("files").get(0)
      assert(first.get("key").asText.startsWith("f2/")) // newest first
      assert(first.get("size").asLong > 0L)
      assert(first.get("modified").asText.endsWith("Z"))
      assert(j.get("files").get(1).get("key").asText.startsWith("f1/"))

      val (cl, bl) = get(server, "/files?limit=1")
      assert(cl === 200 && mapper.readTree(bl).get("count").asInt === 1)

      // detail: both symbols parsed out of the newest envelope
      val key = first.get("key").asText
      val (cd, bd) = get(server, s"/file/$key")
      assert(cd === 200, bd)
      val d = mapper.readTree(bd)
      assert(d.get("key").asText === key)
      assert(d.get("metadata").get("total_symbols").asLong === 2L)
      val syms = (0 until d.get("symbols").size())
        .map(i => d.get("symbols").get(i).get("symbol").asText).sorted
      assert(syms === Seq("NSE:RELIANCE-EQ", "NSE:TCS-EQ"))
      val c0 = d.get("symbols").get(0).get("candles").get(0)
      assert(c0.has("timestamp") && c0.has("datetime") && c0.has("open") && c0.has("volume"))

      // traversal rejected — dot-dot segments AND scheme-qualified
      // absolute URIs (Path(root, "file:/x") resolves to file:/x);
      // missing file is a clean 404
      assert(get(server, "/file/../etc/passwd")._1 === 400)
      assert(get(server, "/file/file:%2Fetc%2Fpasswd")._1 === 400)
      assert(get(server, "/file/f9/nope.json")._1 === 404)

      // server-side rails: an absurd ?limit= clamps instead of sizing
      // server memory (the response still answers with what exists)
      val (cBig, bBig) = get(server, "/files?limit=2000000000")
      assert(cBig === 200 && mapper.readTree(bBig).get("count").asInt === 2)
    }
  }

  test("GET /dashboard: the HTML page carries the SAME numbers as the JSON endpoints (/latest table, /files inventory)") {
    val landDir = java.nio.file.Files.createTempDirectory("graft-dash").toString
    MockData.envelope(MockData.candles(spark, Seq("NSE:TCS-EQ"), 3, 1759895100L),
      "2025-10-08T04:00:00Z").coalesce(1).write.json(s"$landDir/f1")
    withServer(ApiServer.Config(clock = clock, filesDir = Some(landDir))) { server =>
      val (code, html) = get(server, "/dashboard")
      assert(code === 200)
      assert(html.contains("Stock Price Feed Dashboard"))

      // the symbol table rows mirror /latest's last_candle exactly
      val (_, latestBody) = get(server, "/latest")
      val latest = mapper.readTree(latestBody)
      val data = latest.get("data")
      assert(html.contains(
        s"""<div class="stat-value" id="total-symbols">${data.size()}</div>"""))
      val it = data.fields()
      while (it.hasNext) {
        val e  = it.next()
        val lc = e.getValue.get("last_candle")
        def r2(x: Double): String = // the server's plain-decimal rule
          java.math.BigDecimal.valueOf(math.rint(x * 100) / 100)
            .stripTrailingZeros.toPlainString
        val o = lc.get(1).asDouble; val c = lc.get(4).asDouble
        val row = html.linesIterator
          .find(_.contains(s"<strong>${e.getKey}</strong>")).getOrElse("")
        assert(row.nonEmpty, s"symbol ${e.getKey} missing from the dashboard table")
        // open, close, and the candle-local change all present verbatim
        assert(row.contains(s"<td>${r2(o)}</td>"), row)
        assert(row.contains(s"<td>${r2(c)}</td>"), row)
        assert(row.contains(s">${r2(math.rint((c - o) * 100) / 100)}</td>"), row)
      }

      // the recent-files block lists the same keys /files returns
      val (_, filesBody) = get(server, "/files?limit=5")
      val files = mapper.readTree(filesBody).get("files")
      (0 until files.size()).foreach { i =>
        val key = files.get(i).get("key").asText
        assert(html.contains(s"<strong>$key</strong>"), s"file $key missing from dashboard")
      }

      // the clock stamp the JSON endpoints carry is on the page too
      assert(html.contains("2025-10-08T06:00:00Z"))
    }
  }

  test("/file/{key} refuses files over the configured byte cap with 413") {
    val landDir = java.nio.file.Files.createTempDirectory("graft-files-cap").toString
    MockData.envelope(MockData.candles(spark, Seq("NSE:TCS-EQ"), 3, 1759895100L),
      "2025-10-08T04:00:00Z").coalesce(1).write.json(s"$landDir/f1")
    withServer(ApiServer.Config(filesDir = Some(landDir), fileDetailMaxBytes = 10L)) { server =>
      val (code, body) = get(server, "/files")
      val key = mapper.readTree(body).get("files").get(0).get("key").asText
      assert(code === 200)
      val (cd, bd) = get(server, s"/file/$key")
      assert(cd === 413, bd)
      val d = mapper.readTree(bd)
      assert(d.get("error").asText === "File too large")
      assert(d.get("max_bytes").asLong === 10L)
    }
  }

  test("/files without a configured dir stays 404") {
    withServer { s =>
      val (code, body) = get(s, "/files")
      assert(code === 404)
      assert(mapper.readTree(body).get("error").asText === "Files surface not configured")
    }
  }
}
