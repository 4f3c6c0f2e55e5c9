package graft.streaming

import graft.SparkSpec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types._

class UpsertSinkSpec extends SparkSpec {

  private val schema = StructType(Seq(
    StructField("day", StringType),
    StructField("id", LongType),
    StructField("payload", StringType),
    StructField("v", LongType)))

  test("upsertSink: micro-batches merge in place — one row per key, newer version wins across batches") {
    val s = spark; import s.implicits._
    val tmp  = java.nio.file.Files.createTempDirectory("upsink").toString
    val land = s"$tmp/land"
    val out  = s"$tmp/table"
    val ckpt = s"$tmp/ckpt"

    def runOnce(): Unit = {
      val src = spark.readStream.schema(schema).parquet(s"$land/*")
      val q = OhlcvStream.upsertSink(
        src, out, ckpt, partCols = Seq("day"), keyCols = Seq("id"), version = "v",
        trigger = Trigger.AvailableNow()).start()
      q.awaitTermination(120000)
      assert(!q.isActive)
    }

    Seq(("p1", 1L, "a", 10L), ("p1", 2L, "b", 10L))
      .toDF("day", "id", "payload", "v").coalesce(1).write.parquet(s"$land/f1")
    runOnce()
    assert(spark.read.parquet(out).count() === 2)

    // second batch: newer version of id=1, stale version of id=2, new id=3
    Seq(("p1", 1L, "a2", 20L), ("p1", 2L, "stale", 5L), ("p2", 3L, "c", 10L))
      .toDF("day", "id", "payload", "v").coalesce(1).write.parquet(s"$land/f2")
    runOnce()

    val got = spark.read.parquet(out)
      .select("id", "payload", "v").collect()
      .map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2)))).toMap
    assert(got.size === 3, "table must hold exactly one row per key")
    assert(got(1L) === (("a2", 20L)), "newer version replaces in place")
    assert(got(2L) === (("b", 10L)), "stale update must lose")
    assert(got(3L) === (("c", 10L)), "new key lands in its new partition")
  }

  test("upsertSink: duplicate keys WITHIN one micro-batch collapse to the greatest version") {
    val s = spark; import s.implicits._
    val tmp  = java.nio.file.Files.createTempDirectory("upsink2").toString
    Seq(("p1", 1L, "v1", 1L), ("p1", 1L, "v3", 3L), ("p1", 1L, "v2", 2L))
      .toDF("day", "id", "payload", "v").coalesce(1).write.parquet(s"$tmp/land/f1")
    val src = spark.readStream.schema(schema).parquet(s"$tmp/land/*")
    val q = OhlcvStream.upsertSink(
      src, s"$tmp/table", s"$tmp/ckpt", Seq("day"), Seq("id"), "v",
      trigger = Trigger.AvailableNow()).start()
    q.awaitTermination(120000)
    val rows = spark.read.parquet(s"$tmp/table").collect()
    assert(rows.length === 1 && rows.head.getAs[String]("payload") === "v3")
  }
}
