package perfbench

import java.net.{HttpURLConnection, URI}
import java.util.concurrent.{ConcurrentLinkedQueue, Executors, TimeUnit}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import graft.ohlcv.{Api, Normalize, RawIngest, Storage}
import graft.operators.Resample
import graft.serving.ApiServer
import graft.streaming.OhlcvStream
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col
import perfbench.Check.expect
import perfbench.Main._

/** `rest_live`: a one-day history for the whole universe is built by
  * the daily ETL and served by `ApiServer.startFromTable` on loopback.
  * A closed loop of [[Clients]] clients sends a seeded, fixed-size mix
  * of reads per round while one writer tries to land the next intraday
  * fetch of the following day through normalize, dedup and the serving
  * table's streaming batch body, `OhlcvStream.upsertBatch`. Every answer is
  * checked against the generator, and a read that fails or answers with
  * another status than 200 fails the run. The program's set-up here is
  * the session start, the history ETL and the server start. */
object RestLive {
  val History = Seq(0)
  val LiveDay = 1
  /** Two clients: the fewest that make reads contend, and no more than
    * half of the Spark cores, so the writer has room too. An assumption,
    * not a measured figure. */
  val Clients = 2
  /** The reads of one round, in the order the clients take them: the
    * routes and their order are fixed, their symbols and days seeded.
    * One read per route, so every route weighs the same in the mean read
    * time. The reference gives no shares of traffic per route; this mix
    * is an assumption. Each read re-opens the table once (ApiServer reads
    * the table per source call), so a read costs seconds at this table
    * size and `/analytics`, the slowest route, weighs most in the mean. */
  val Mix: Seq[String] = Seq("ohlcv", "analytics", "ohlcv_15m", "historical", "latest")
  val PartCols = Seq("year", "month", "day", "symbol_clean")

  final case class Req(route: String, path: String, syms: Seq[Int], day: Int)
  final case class Sample(route: String, ms: Double, startNs: Long, endNs: Long)

  private val mapper = new ObjectMapper()

  def run(ctx: Ctx): Outcome = {
    import ctx._
    val m = new Metrics
    val table = tmp.resolve("table").toString

    val raw = tmp.resolve("raw")
    History.foreach(gen.landDay(raw, _))
    // the traced run times the ETL stage by stage, on a warm JVM, so
    // that the first stage does not carry the JVM's warm-up
    if (trace) Etl.warmUp(ctx)
    note("history landed")
    val t0 = System.nanoTime()
    val stages = History.flatMap { d =>
      val (dir, at) = (raw.resolve(gen.date(d).toString).toString, Etl.processedAt(gen, d))
      if (trace) Some(Etl.runTraced(spark, spans, dir, table, at))
      else { Etl.run(spark, dir, table, at); None }
    }
    val server = ApiServer.startFromTable(spark, table)
    m("setup_s", sessionS + (System.nanoTime() - t0) / 1e9)
    note("history built, server up")
    Check.table(spark, gen, table, History)
    note("history checked")
    if (trace) {
      m("ohlcv.raw_scan_ms", median(stages.map(_.scanMs)))
      m("ohlcv.normalize_ms", median(stages.map(_.normalizeMs)))
      m("ohlcv.dedup_ms", median(stages.map(_.dedupMs)))
      m("ohlcv.write_ms", median(stages.map(_.writeMs)))
      m("ohlcv.dedup_keep_ratio", stages.map(_.keptRows).sum.toDouble / stages.map(_.rawRows).sum)
    }
    val state = new Served(gen)
    val pool = Executors.newFixedThreadPool(Clients)
    val counters = new SparkCounters
    try {
      val loop = new Loop(ctx, server.port, table, raw.resolve("live"), state, pool, counters)
      val jvm = new JvmProbe(spark.sparkContext)
      // the listener and the sampler run in the traced run only
      if (trace) spark.sparkContext.addSparkListener(counters)
      val before = snapshot(counters)
      val cost = new TraceCost(counters, jvm, spans)
      if (trace) jvm.start()
      val rounds = scala.collection.mutable.ArrayBuffer.empty[Round]
      val start = System.nanoTime()
      while (rounds.isEmpty || (System.nanoTime() - start) / 1e9 < seconds)
        rounds += loop.round(traced = trace)
      // reads per second while reads were in flight
      val readS = rounds.map(r => (r.samples.map(_.endNs).max - r.samples.map(_.startNs).min) / 1e9).sum
      val jvmR = if (trace) Some(jvm.stop()) else None
      val tracePct = cost.pct
      note("timed rounds done")
      val d = diff(diff(snapshot(counters), before), rounds.map(_.probeSpark).reduce(sumMaps))

      val reads = rounds.flatMap(_.samples)
      // the mean, not the median: the five routes cost 4 to 20 s, and
      // which of two concurrent reads waits in Spark's FIFO scheduler is a
      // race that moves the median of one round between routes (9.4 to
      // 12.6 s over five seeds) while the sum of the waits stays put
      m("op_mean_ms", mean(reads.map(_.ms).toSeq))
      m("op_rate", reads.size / readS)
      val (bytes, files, parts) = tableStats(java.nio.file.Paths.get(table))
      m("stored_bytes_per_row", bytes.toDouble / state.storedCandles)
      m("ohlcv.files_written", files.toDouble)
      m("ohlcv.files_per_partition", files.toDouble / parts)
      if (trace) {
        val probes = rounds.flatMap(_.probe)
        m("ohlcv.table_open_ms", median(probes.map(_.openMs).toSeq))
        Mix.foreach { r =>
          m(s"ohlcv.api_ms.$r", median(probes.map(_.apiMs(r)).toSeq))
          m(s"serving.http_ms.$r", median(reads.filter(_.route == r).map(_.ms).toSeq))
        }
        val perReq = Mix.size.toDouble * probes.size
        m("ohlcv.scan_files_per_request", probes.map(_.scanFiles.values.sum).sum / perReq)
        m("ohlcv.scan_rows_per_request", probes.map(_.scanRows.values.sum).sum / perReq)
        m("serving.handler_ms", median(rounds.flatMap { rd =>
          val p = rd.probe.get
          rd.samples.map(s => s.ms - p.openMs - p.apiMs(s.route))
        }.toSeq))
        val ups = rounds.map(_.upsert)
        m("streaming.upsert_ms", median(ups.map(_.ms).toSeq))
        m("streaming.upsert_partitions", median(ups.map(_.partitions.toDouble).toSeq))
        m("streaming.upsert_failed", ups.count(!_.ok).toDouble)
        sparkMetrics(m, d)
        m("spark.jobs_per_request", d("untaggedJobs").toDouble / reads.size)
        jvmMetrics(m, jvmR.get)
        m("trace.overhead_pct", tracePct)
      }
      val attempted = rounds.map(r => r.samples.size + 1).sum
      // reads never count as failed: a failed read fails the run
      val failed = rounds.count(!_.upsert.ok)
      Outcome(attempted.toLong, failed.toLong, m)
    } finally {
      pool.shutdownNow()
      pool.awaitTermination(60, TimeUnit.SECONDS)
      server.stop()
    }
  }

  private def sumMaps(a: Map[String, Long], b: Map[String, Long]) = a.map { case (k, v) => k -> (v + b(k)) }

  final case class Upsert(ok: Boolean, ms: Double, partitions: Int)
  final case class Probe(openMs: Double, apiMs: Map[String, Double], scanFiles: Map[String, Long],
      scanRows: Map[String, Long])
  final case class Round(samples: Seq[Sample], upsert: Upsert, probe: Option[Probe],
      probeSpark: Map[String, Long])

  /** What the served table must hold: the history plus every committed
    * live fetch, computed from the generator. `pending` is the fetch
    * being upserted: the table may show it before `committed` does. */
  final class Served(g: Gen) {
    @volatile var committed: Vector[Int] = Vector.empty
    @volatile var pending: Option[Int] = None
    def storedCandles: Long = Gen.Symbols.toLong * Gen.CandlesPerDay * History.size +
      (0 until Gen.Symbols).map(s => committed.filter(g.carries(s, _)).map(g.covered).maxOption.getOrElse(0)).sum

    /** Candle i of day d as stored: the survivor among the fetches that reached the table. */
    def candle(s: Int, d: Int, i: Int, live: Seq[Int]): (Long, Long, Long, Long, Long) = {
      val k = if (d == LiveDay) g.survivor(s, i, live).get else g.survivor(s, i).get
      g.candle(s, d, i, k)
    }

    /** (timestamp, candle, candles that day) of the newest stored candle of s given the committed live fetches. */
    def newest(s: Int, live: Seq[Int]): (Long, (Long, Long, Long, Long, Long), Int) = {
      val n = live.filter(g.carries(s, _)).map(g.covered).maxOption.getOrElse(0)
      if (n > 0) (g.ts(LiveDay, n - 1), candle(s, LiveDay, n - 1, live), n)
      else (g.ts(History.last, Gen.CandlesPerDay - 1), candle(s, History.last, Gen.CandlesPerDay - 1, live),
        Gen.CandlesPerDay)
    }
  }

  /** One round after another: the seeded reads over the client pool,
    * and beside them one upsert attempt by the writer. */
  private final class Loop(ctx: Ctx, port: Int, table: String, live: java.nio.file.Path, state: Served,
      pool: java.util.concurrent.ExecutorService, counters: SparkCounters) {
    import ctx._
    private var n = 0
    private val g = gen

    def requests(round: Int): Seq[Req] = {
      val r = new java.util.SplittableRandom(seed * 1000003L + round)
      def sym() = r.nextInt(Gen.Symbols)
      def day() = History(r.nextInt(History.size))
      def syms(k: Int) = Iterator.continually(sym()).distinct.take(k).toSeq
      Mix.map {
        case route @ "ohlcv" =>
          val (s, d) = (sym(), day())
          Req(route, s"/ohlcv/${g.clean(s)}?from=${g.date(d)}&to=${g.date(d)}", Seq(s), d)
        case route @ "ohlcv_15m" =>
          val s = sym()
          Req(route, s"/ohlcv/${g.clean(s)}?from=${g.date(History.head)}&to=${g.date(History.last)}&interval=15m",
            Seq(s), -1)
        case route @ "latest" =>
          val ss = syms(3)
          Req(route, s"/latest?symbols=${ss.map(g.clean).mkString(",")}", ss, -1)
        case route @ "historical" =>
          val (s, d) = (sym(), day())
          Req(route, s"/historical?symbol=${g.clean(s)}&from=${g.date(d)}&to=${g.date(d)}", Seq(s), d)
        case route =>
          val d = day()
          Req(route, s"/analytics?query_type=daily_summary&date=${g.date(d)}", Nil, d)
      }
    }

    def round(traced: Boolean): Round = {
      val reqs = requests(n)
      val fetch = n % Gen.FetchesPerDay + 1
      n += 1
      val queue = new ConcurrentLinkedQueue[Req](reqs.asJava)
      val samples = new ConcurrentLinkedQueue[Sample]
      val wrong = new ConcurrentLinkedQueue[Throwable]
      val clients = (1 to Clients).map { _ =>
        pool.submit(new Runnable {
          def run(): Unit = {
            var q = queue.poll()
            while (q != null) {
              try samples.add(get(q))
              catch {
                case e: Mismatch => wrong.add(e)
                case scala.util.control.NonFatal(e) => wrong.add(new Mismatch(s"${q.path}: read failed: $e"))
              }
              q = queue.poll()
            }
          }
        })
      }
      var upsert: Upsert = null
      // a thread of its own, with the JVM's default stack size
      val writer = new Thread(() => upsert = land(fetch), "perfbench-writer")
      writer.start()
      clients.foreach(_.get())
      writer.join()
      Option(wrong.peek()).foreach(e => throw e)
      val (probe, probeSpark) =
        if (traced) { val (p, d) = this.probe(reqs); (Some(p), d) }
        else (None, snapshot(counters).map { case (k, _) => k -> 0L })
      Round(samples.asScala.toSeq, upsert, probe, probeSpark)
    }

    /** One intraday fetch through normalize, dedup and the upsert batch
      * body. The writer lands the fetch's raw file first, untimed: it
      * writes it while the reads of the round run. */
    private def land(fetch: Int): Upsert = {
      val file = live.resolve(f"fetch_$fetch%02d.json")
      if (!java.nio.file.Files.exists(file)) g.writeFetch(live, LiveDay, fetch)
      spark.sparkContext.setJobGroup("perfbench-writer", s"upsert fetch $fetch", interruptOnCancel = false)
      val batch = Storage.dedupContract(Normalize.normalize(
        RawIngest.blocks(RawIngest.readRaw(spark, file.toString)),
        Etl.processedAt(g, LiveDay)))
      val partitions = (0 until Gen.Symbols).count(g.carries(_, fetch))
      state.pending = Some(fetch)
      val (ok, ms) = spans.span("streaming.upsert") { _ =>
        try {
          OhlcvStream.upsertBatch(batch, n.toLong, table, PartCols, Seq("symbol_clean", "timestamp_unix"),
            "fetch_timestamp", compactEvery = 288L)
          true
        } catch {
          // the upsert's partition predicate overflows the stack at this fan-out
          case _: StackOverflowError => false
          case scala.util.control.NonFatal(_) => false
        }
      }
      if (ok) state.committed = state.committed :+ fetch
      state.pending = None
      Upsert(ok, ms, partitions)
    }

    private def get(q: Req): Sample = {
      val before = state.committed
      val pendingBefore = state.pending
      val t = System.nanoTime()
      val ((status, body), ms) = spans.span(s"serving.http.${q.route}") { _ =>
        val c = URI.create(s"http://127.0.0.1:$port${q.path}").toURL.openConnection().asInstanceOf[HttpURLConnection]
        try {
          val code = c.getResponseCode
          val in = if (code < 400) c.getInputStream else c.getErrorStream
          try (code, new String(in.readAllBytes(), "UTF-8")) finally in.close()
        } finally c.disconnect()
      }
      val end = System.nanoTime()
      val pendingAfter = state.pending
      val after = state.committed
      expect(status == 200, s"${q.path}: status $status: ${body.take(300)}")
      // what a read may see: the table as at its start, as at its end,
      // or with an upsert in flight during it already landed
      val views = (Seq(before, after) ++ (pendingBefore ++ pendingAfter).map(before :+ _)).distinct
      verify(q, mapper.readTree(body), before, views)
      Sample(q.route, ms, t, end)
    }

    private def verify(q: Req, j: JsonNode, before: Vector[Int], views: Seq[Vector[Int]]): Unit = {
      def candles(arr: JsonNode, s: Int, d: Int, what: String): Unit = {
        expect(arr != null && arr.size == Gen.CandlesPerDay, s"$what: ${Option(arr).map(_.size)} candles, expected 96")
        (0 until Gen.CandlesPerDay).foreach { i =>
          val (o, h, l, c, v) = state.candle(s, d, i, before)
          val x = arr.get(i)
          val got = (x.get("timestamp").asLong, x.get("open").asDouble, x.get("high").asDouble,
            x.get("low").asDouble, x.get("close").asDouble, x.get("volume").asLong)
          val exp = (g.ts(d, i), Gen.dbl(o), Gen.dbl(h), Gen.dbl(l), Gen.dbl(c), v)
          expect(got == exp, s"$what candle $i is $got, expected $exp")
        }
      }
      q.route match {
        case "ohlcv" => candles(j.get("data"), q.syms.head, q.day, q.path)
        case "ohlcv_15m" =>
          val s = q.syms.head
          val data = j.get("data")
          val exp = History.flatMap { d =>
            (0 until Gen.CandlesPerDay / 3).map { b =>
              val cs = (3 * b until 3 * b + 3).map(state.candle(s, d, _, before))
              (g.ts(d, 3 * b), Gen.dbl(cs.head._1), Gen.dbl(cs.map(_._2).max), Gen.dbl(cs.map(_._3).min),
                Gen.dbl(cs.last._4), cs.map(_._5).sum)
            }
          }
          expect(data != null && data.size == exp.size, s"${q.path}: ${Option(data).map(_.size)} buckets, expected ${exp.size}")
          exp.zipWithIndex.foreach { case (e, i) =>
            val x = data.get(i)
            val got = (x.get("timestamp").asLong, x.get("open").asDouble, x.get("high").asDouble,
              x.get("low").asDouble, x.get("close").asDouble, x.get("volume").asLong)
            expect(got == e, s"${q.path} bucket $i breaks the OHLCV laws: $got, expected $e")
          }
        case "latest" =>
          q.syms.foreach { s =>
            val x = j.get("data").get(g.symbols(s))
            expect(x != null, s"${q.path}: no answer for ${g.symbols(s)}")
            val lc = x.get("last_candle")
            val got = (lc.get(0).asLong, lc.get(1).asDouble, lc.get(2).asDouble, lc.get(3).asDouble,
              lc.get(4).asDouble, lc.get(5).asLong, x.get("total_candles").asInt)
            // a commit that landed while the request ran may or may not show
            val ok = views.exists { live =>
              val (t, (o, h, l, c, v), n) = state.newest(s, live)
              got == ((t, Gen.dbl(o), Gen.dbl(h), Gen.dbl(l), Gen.dbl(c), v, n))
            }
            expect(ok, s"${q.path}: ${g.symbols(s)} latest is $got, not the newest committed candle")
          }
        case "historical" =>
          q.syms.foreach { s =>
            val x = j.get("data").get(g.symbols(s))
            expect(x != null, s"${q.path}: no answer for ${g.symbols(s)}")
            candles(x.get("candles"), s, q.day, s"${q.path} ${g.symbols(s)}")
          }
        case "analytics" =>
          val sum = j.get("summary")
          expect(sum != null && sum.size == Gen.Symbols, s"${q.path}: ${Option(sum).map(_.size)} symbols, expected 500")
          val seen = sum.elements().asScala.map { x =>
            val name = x.get("symbol").asText
            val s = g.symbols.indexOf(name)
            expect(s >= 0, s"${q.path}: unknown symbol $name")
            val cs = (0 until Gen.CandlesPerDay).map(state.candle(s, q.day, _, before))
            val got = (x.get("open").asDouble, x.get("close").asDouble, x.get("high").asDouble,
              x.get("low").asDouble, x.get("volume").asLong)
            val exp = (Gen.dbl(cs.head._1), Gen.dbl(cs.last._4), Gen.dbl(cs.map(_._2).max),
              Gen.dbl(cs.map(_._3).min), cs.map(_._5).sum)
            expect(got == exp, s"${q.path}: $name summary $got, expected $exp")
            s
          }.toSet
          expect(seen.size == Gen.Symbols, s"${q.path}: ${seen.size} distinct symbols, expected 500")
      }
    }

    /** The Api calls behind each route, on a table opened once. */
    private def probe(reqs: Seq[Req]): (Probe, Map[String, Long]) = {
      val sc = spark.sparkContext
      sc.setJobGroup("perfbench-api", "per-layer probe", interruptOnCancel = false)
      val before = snapshot(counters)
      try {
        val (tbl, openMs) = spans.span("ohlcv.table_open")(_ => Storage.readParquet(spark, table))
        def first(r: String) = reqs.find(_.route == r).get
        def calls(q: Req): Seq[DataFrame] = {
          val d = g.date(q.day).toString
          q.route match {
            case "ohlcv" => Seq(Api.getOhlcvFromTable(tbl, g.symbols(q.syms.head), Some(d), Some(d), None))
            case "ohlcv_15m" =>
              Seq(Resample.candles(Api.getOhlcvFromTable(tbl, g.symbols(q.syms.head),
                Some(g.date(History.head).toString), Some(g.date(History.last).toString), None),
                900, col("fetch_timestamp")).orderBy(col("bucket_start")))
            case "latest" =>
              Seq(Api.latestSummaryFromTable(tbl, sc.hadoopConfiguration, table, q.syms.map(g.symbols)))
            case "historical" => q.syms.map(s => Api.getOhlcvFromTable(tbl, g.symbols(s), Some(d), Some(d), None))
            case "analytics" => Seq(Api.dailySummaryFromTable(tbl, d))
          }
        }
        val results = Mix.map { r =>
          val (dfs, ms) = spans.span(s"ohlcv.api.$r") { _ => calls(first(r)).map { df => df.collect(); df } }
          val scans = dfs.map(df => scanMetrics(df.queryExecution.executedPlan))
          (r, ms, scans.map(_._1).sum, scans.map(_._2).sum)
        }
        (Probe(openMs, results.map(x => x._1 -> x._2).toMap, results.map(x => x._1 -> x._3).toMap,
          results.map(x => x._1 -> x._4).toMap), diff(snapshot(counters), before))
      } finally sc.clearJobGroup()
    }
  }

  /** (files, rows) read by the executed plan's parquet scans. */
  private def scanMetrics(plan: org.apache.spark.sql.execution.SparkPlan): (Long, Long) = {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    def all(p: SparkPlan): Seq[SparkPlan] =
      (p +: p.children.flatMap(all)) ++ (p match {
        case a: AdaptiveSparkPlanExec => all(a.executedPlan)
        case q: QueryStageExec        => all(q.plan)
        case _                        => Nil
      })
    val scans = all(plan).collect { case s: org.apache.spark.sql.execution.FileSourceScanExec => s }
    (scans.map(_.metrics.get("numFiles").map(_.value).getOrElse(0L)).sum,
      scans.map(_.metrics.get("numOutputRows").map(_.value).getOrElse(0L)).sum)
  }
}
