package perfbench

import java.nio.file.{Files, Path, StandardCopyOption}
import java.time.{LocalDateTime, ZoneOffset}

import scala.concurrent.{Await, Future}
import scala.concurrent.ExecutionContext.Implicits.global
import scala.concurrent.duration.Duration
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import graft.SparkEntry
import graft.queries.ArtifactLog
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._
import perfbench.Check.expect
import perfbench.Main._

/** `query_suite`: the OHLCV time-series query pack (`graft.queries.TimeSeries`,
  * called through `SparkEntry.queries`) over a seeded `events` table, in
  * one session. Each round copies the table into a fresh directory, so
  * its first pass builds the shared `DirCached` artifacts (cold) and its
  * second pass reuses them (warm). An untimed cold pass over a copy of
  * its own warms the JVM up first; its answers are written out with
  * each query's `SparkEntry.oracleSql`, and `run.py` compares them with
  * DuckDB. Every later pass must return the same rows. */
object QuerySuite {
  val Family = "ohlcv_ts"
  /** Four consumers of the shared daily rollup (q22, q23, q81, q122) and
    * two queries that build from the ticks alone. */
  val Queries: Seq[String] = Seq(
    "q21_resample_1h", "q22_daily_stats", "q23_top_movers", "q24_latest_per_symbol",
    "q81_volume_deciles", "q122_risk_stats")

  final case class Pass(ms: Seq[Double], rows: Seq[Array[Row]], schemas: Seq[StructType]) {
    def seconds: Double = ms.sum / 1000
  }
  final case class Round(cold: Pass, warm: Pass)

  def run(ctx: Ctx): Outcome = {
    import ctx._
    val m = new Metrics
    m("setup_s", sessionS)
    val src = Events.write(spark, seed, tmp.resolve("events-src"))
    note("events written")
    var copies = 0
    def fresh(): String = {
      copies += 1
      val d = Files.createDirectories(tmp.resolve(s"dir$copies"))
      Files.copy(src, d.resolve("events.parquet"))
      d.toString
    }

    val warmup = pass(ctx, fresh(), "warmup", traced = false)
    writeCheck(spark, warmup, src, tmp.resolve("check"))
    note("warm-up pass done, answers written")
    val expected = warmup.rows.map(canon)
    def same(r: Round): Unit = Seq(r.cold, r.warm).foreach { p =>
      Queries.indices.foreach(i => expect(canon(p.rows(i)) == expected(i),
        s"${Queries(i)} returned other rows than on the first pass over the same table"))
    }
    val counters = new SparkCounters
    val jvm = new JvmProbe(spark.sparkContext)
    // the listener and the sampler run in the traced run only
    if (trace) spark.sparkContext.addSparkListener(counters)
    val before = snapshot(counters)
    val built0 = ArtifactLog.buildSeconds.map(_._2).sum
    val cost = new TraceCost(counters, jvm, spans)
    if (trace) jvm.start()
    val rounds = scala.collection.mutable.ArrayBuffer.empty[Round]
    val start = System.nanoTime()
    while (rounds.isEmpty || (System.nanoTime() - start) / 1e9 < seconds)
      rounds += round(ctx, fresh(), traced = trace)
    val jvmR = if (trace) Some(jvm.stop()) else None
    val tracePct = cost.pct
    note("timed rounds done")
    val d = diff(snapshot(counters), before)
    rounds.foreach(same)

    val ms = rounds.flatMap(r => r.cold.ms ++ r.warm.ms).toSeq
    m("op_mean_ms", mean(ms))
    m("op_rate", ms.size / (ms.sum / 1000))
    // what the shared artifacts keep in Spark's block store, per input
    // row: one artifact set per directory read so far
    val stored = spark.sparkContext.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum
    m("stored_bytes_per_row", stored.toDouble / (Events.Rows.toLong * copies))
    if (trace) {
      m(s"queries.cold_s.$Family", median(rounds.map(_.cold.seconds).toSeq))
      m(s"queries.warm_s.$Family", median(rounds.map(_.warm.seconds).toSeq))
      m("queries.artifact_build_s", (ArtifactLog.buildSeconds.map(_._2).sum - built0) / rounds.size)
      sparkMetrics(m, d)
      m("spark.jobs_per_request", d("jobs").toDouble / ms.size)
      jvmMetrics(m, jvmR.get)
      m("trace.overhead_pct", tracePct)
    }
    val passes = 1 + 2 * rounds.size
    Outcome(attempted = passes.toLong * Queries.size, failed = 0, m)
  }

  /** Every query once over `dir`, in order, each timed from the call
    * that builds its plan (where shared artifacts are built) to its last
    * row collected. */
  private def pass(ctx: Ctx, dir: String, label: String, traced: Boolean): Pass = {
    val res = Queries.map { q =>
      def body(): (Array[Row], StructType) = {
        val df = SparkEntry.queries(q)(ctx.spark, dir)
        (df.collect(), df.schema)
      }
      if (traced) { val (out, ms) = ctx.spans.span(s"queries.$label.$q")(_ => body()); (ms, out) }
      else { val t = System.nanoTime(); val out = body(); ((System.nanoTime() - t) / 1e6, out) }
    }
    Pass(res.map(_._1), res.map(_._2._1), res.map(_._2._2))
  }

  private def round(ctx: Ctx, dir: String, traced: Boolean): Round = {
    val cold = pass(ctx, dir, "cold", traced)
    Round(cold, pass(ctx, dir, "warm", traced))
  }

  /** A query's rows as an order-free multiset, full precision. */
  private def canon(rows: Array[Row]): Seq[String] = rows.map(_.toString).toSeq.sorted

  /** Writes what `run.py` compares under DuckDB: the events table, each
    * query's answer as parquet, and the oracle SQL by query. */
  private def writeCheck(spark: SparkSession, p: Pass, events: Path, dir: Path): Unit = {
    Files.createDirectories(dir)
    Files.copy(events, dir.resolve("events.parquet"))
    // one small write job per query, submitted together
    val writes = Queries.indices.map { i =>
      Future(spark.createDataFrame(p.rows(i).toList.asJava, p.schemas(i)).coalesce(1)
        .write.parquet(dir.resolve(Queries(i)).toString))
    }
    Await.result(Future.sequence(writes), Duration.Inf)
    val oracles = Queries.map(q => q -> SparkEntry.oracleSql(q)).toMap.asJava
    new ObjectMapper().writeValue(dir.resolve("oracle_sql.json").toFile, oracles)
  }
}

/** The seeded `events` table the query pack reads, shaped like the
  * repository's test tables: one parquet file of `Rows` events over 30
  * days of January 2024, five event types (the pack's symbols), distinct
  * microsecond timestamps as TIMESTAMP_NTZ, event ids in time order and
  * values in cents. */
object Events {
  val Rows  = 20000
  val Types = Seq("click", "error", "purchase", "signup", "view")
  val Users = 300
  private val T0 = LocalDateTime.of(2024, 1, 1, 0, 0).toEpochSecond(ZoneOffset.UTC) * 1000000L
  private val SpanMicros = 30L * 86400L * 1000000L

  val schema: StructType = StructType(Seq(
    StructField("event_id", LongType), StructField("ts", TimestampNTZType),
    StructField("user_id", LongType), StructField("event_type", StringType),
    StructField("value", DoubleType), StructField("props", StringType)))

  /** Writes the table as `dir/events.parquet`; returns that file. */
  def write(spark: SparkSession, seed: Long, dir: Path): Path = {
    val r = new java.util.SplittableRandom(seed ^ 0x5DEECE66DL)
    val ts = new java.util.TreeSet[java.lang.Long]()
    while (ts.size < Rows) ts.add(T0 + r.nextLong(SpanMicros))
    val rows = ts.asScala.toSeq.zipWithIndex.map { case (t, i) =>
      val when = LocalDateTime.ofEpochSecond(Math.floorDiv(t, 1000000L),
        (Math.floorMod(t.longValue, 1000000L) * 1000).toInt, ZoneOffset.UTC)
      Row(i.toLong, when, r.nextInt(Users).toLong, Types(r.nextInt(Types.size)),
        (1 + r.nextInt(50000)) / 100.0, s"""{"k": ${r.nextInt(100)}}""")
    }
    val stage = dir.resolve("stage")
    spark.createDataFrame(rows.asJava, schema).coalesce(1).write.parquet(stage.toString)
    val part = Files.list(stage).iterator().asScala.find(_.getFileName.toString.endsWith(".parquet"))
      .getOrElse(throw new IllegalStateException("events table: no parquet file written"))
    val out = dir.resolve("events.parquet")
    Files.move(part, out, StandardCopyOption.REPLACE_EXISTING)
    deleteTree(stage)
    out
  }
}
