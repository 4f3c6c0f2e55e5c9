package perfbench

import graft.ohlcv.{Normalize, RawIngest, Storage}
import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions.{count, lit}

/** The reference's daily ETL through the program's public functions:
  * RawIngest.readRaw → Normalize.normalize → Storage.dedupContract →
  * Storage.writeParquet (append). */
object Etl {
  def processedAt(g: Gen, d: Int): String = s"${g.date(d)}T10:30:00Z"

  /** One untimed ETL run over a tenth of the universe, into a table of
    * its own that is then removed: it loads and compiles what a daily
    * run needs. */
  def warmUp(ctx: Main.Ctx): Unit = {
    import ctx._
    val raw = gen.landDay(tmp.resolve("warmup"), 0, Gen.Symbols / 10)
    run(spark, raw.toString, tmp.resolve("warmup-table").toString, processedAt(gen, 0))
    Main.deleteTree(tmp.resolve("warmup")); Main.deleteTree(tmp.resolve("warmup-table"))
  }

  private def raw(spark: SparkSession, dayDir: String): DataFrame =
    RawIngest.readRaw(spark, s"$dayDir/*")
  private def normalized(spark: SparkSession, dayDir: String, at: String): DataFrame =
    Normalize.normalize(RawIngest.blocks(raw(spark, dayDir)), at)

  /** One daily ETL run; returns its wall time in ms. */
  def run(spark: SparkSession, dayDir: String, table: String, at: String): Double = {
    val t = System.nanoTime()
    Storage.writeParquet(Storage.dedupContract(normalized(spark, dayDir, at)), table, "append")
    (System.nanoTime() - t) / 1e6
  }

  final case class Stages(scanMs: Double, normalizeMs: Double, dedupMs: Double, writeMs: Double,
      rawRows: Long, keptRows: Long)

  /** One daily ETL run, traced: each stage is materialised in turn
    * (a no-op sink for the first three, the real append for the last),
    * so each stage's self time is its pass minus the pass before it. */
  def runTraced(spark: SparkSession, spans: Spans, dayDir: String, table: String, at: String): Stages = {
    def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()
    val (stages, _) = spans.span("etl.day") { parent =>
      val (_, scan) = spans.span("etl.through_scan", parent)(_ => noop(raw(spark, dayDir)))
      val nObs = Observation("normalized")
      val (_, norm) = spans.span("etl.through_normalize", parent)(_ =>
        noop(normalized(spark, dayDir, at).observe(nObs, count(lit(1)).as("n"))))
      val kObs = Observation("kept")
      val (_, dedup) = spans.span("etl.through_dedup", parent)(_ =>
        noop(Storage.dedupContract(normalized(spark, dayDir, at)).observe(kObs, count(lit(1)).as("n"))))
      val (_, write) = spans.span("etl.through_write", parent)(_ =>
        Storage.writeParquet(Storage.dedupContract(normalized(spark, dayDir, at)), table, "append"))
      Stages(scan, norm - scan, dedup - norm, write - dedup,
        nObs.get("n").asInstanceOf[Long], kObs.get("n").asInstanceOf[Long])
    }
    stages
  }
}
