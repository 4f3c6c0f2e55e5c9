package graft.ohlcv

import graft.SparkSpec
import graft.operators.Maintenance
import graft.streaming.MediaStream
import graft.testfs.{S3LikeFileSystem, S3OpLog}
import org.apache.spark.sql.functions._
import java.nio.file.Files

/** Object-store CONTRACT run: the storage/replay semantics the library
  * guarantees (partitioned sinks, dynamic-partition-overwrite upsert,
  * metadata-only listings, the streaming dedup gate's replay safety)
  * executed against an S3-semantics `FileSystem`
  * ([[graft.testfs.S3LikeFileSystem]]: rename = per-object copy +
  * delete, append forbidden, every op logged) — the reference's
  * storage layer is S3 end-to-end (`etl/lightweight_etl.py:146-187`,
  * `api/api_handler.py:451-477`), and these contracts were previously
  * proven only on the local FS.
  */
class S3ContractSpec extends SparkSpec {
  import spark.implicits._

  // register the s3x scheme on the shared session — every Spark
  // read/write below resolves through S3LikeFileSystem
  spark.sparkContext.hadoopConfiguration
    .set("fs.s3x.impl", classOf[S3LikeFileSystem].getName)

  private def s3dir(tag: String): String =
    "s3x://" + Files.createTempDirectory(s"graft-s3x-$tag").toString

  private val symbols = Seq("NSE:RELIANCE-EQ", "NSE:TCS-EQ")
  private val t0      = 1759895100L // 2025-10-08 03:45 UTC

  private def normalized() = {
    // mock → raw JSON envelope ON THE OBJECT STORE → schema'd read →
    // normalize: the raw landing leg runs over s3x too
    val mock = MockData.candles(spark, symbols, n = 10, startUnix = t0)
    val raw  = s3dir("raw")
    MockData.envelope(mock, "2025-10-08T03:50:00Z")
      .write.mode("overwrite").json(s"$raw/raw")
    Normalize.normalize(
      RawIngest.blocks(RawIngest.readRaw(spark, s"$raw/raw")),
      processedAt = "2025-10-08T10:30:00Z")
  }

  test("S3: partitioned parquet sink + pruned read + metadata listings; commit traffic is copy+delete") {
    val root = s3dir("table")
    S3OpLog.clear()
    Storage.writeParquet(normalized(), s"$root/table", mode = "overwrite")
    // the commit protocol's renames really ran as S3 copies: at least
    // one object moved task-attempt → final per partition written
    assert(S3OpLog.count("copyObject") > 0,
      "parquet commit must surface per-object COPY traffic on an object store")
    assert(S3OpLog.count("rename") > 0)

    val back = Storage.readParquet(spark, s"$root/table")
    assert(back.count() === 20)
    // partition pruning still prunes on an object store (listing is
    // prefix-scoped, not a full-table walk)
    val pruned = back.filter(col("symbol_clean") === "RELIANCE" && col("day") === 8)
    assert(pruned.count() === 10)

    // metadata-only date discovery globs the s3x layout
    val conf = spark.sparkContext.hadoopConfiguration
    assert(Storage.availableDates(conf, s"$root/table", "RELIANCE") === Seq("2025-10-08"))
    assert(Storage.availableDates(conf, s"$root/table", "NOPE") === Seq.empty)
  }

  test("S3: newest-K inventory walks the object listing with bounded heap") {
    val root = s3dir("inv")
    val conf = spark.sparkContext.hadoopConfiguration
    Seq((1L, "a"), (2L, "b")).toDF("id", "v").coalesce(1)
      .write.json(s"$root/land/f1")
    Seq((3L, "c")).toDF("id", "v").coalesce(1)
      .write.json(s"$root/land/f2")
    val inv = Storage.newestInventory(conf, s"$root/land", k = 10, _.endsWith(".json"))
    // Path.toString prints the empty-authority form "s3x:/..."
    assert(inv.nonEmpty && inv.forall(_._1.startsWith("s3x:/")))
    val capped = Storage.newestInventory(conf, s"$root/land", k = 1, _.endsWith(".json"))
    assert(capped.size === 1)
  }

  test("S3: dynamic-partition-overwrite upsert rewrites ONLY the touched partition") {
    val root = s3dir("upsert")
    Seq(("p1", 1L, "a", 10L), ("p1", 2L, "b", 10L), ("p2", 3L, "c", 10L))
      .toDF("day", "id", "payload", "v")
      .write.partitionBy("day").parquet(s"$root/t")

    S3OpLog.clear()
    val touched = Maintenance.upsertPartitions(
      spark, s"$root/t",
      Seq(("p1", 1L, "a2", 20L)).toDF("day", "id", "payload", "v"),
      partCols = Seq("day"), keyCols = Seq("id"), version = "v")
    assert(touched === Seq(Seq("p1")))

    val got = spark.read.parquet(s"$root/t")
      .select("id", "payload").as[(Long, String)].collect().toMap
    assert(got === Map(1L -> "a2", 2L -> "b", 3L -> "c"))

    // write amplification contract ON THE OBJECT STORE: every object
    // created/copied by the upsert lives under the touched partition
    // (or a temporary/staging prefix) — day=p2 is never rewritten
    val dataWrites = (S3OpLog.ops.filter(_.name == "create").map(_.src) ++
      S3OpLog.ops.filter(_.name == "copyObject").map(_.dst))
      .filter(p => p.contains("/t/") && p.contains("day=") && p.endsWith(".parquet"))
    assert(dataWrites.nonEmpty)
    assert(dataWrites.forall(p => !p.contains("day=p2")),
      s"untouched partition rewritten:\n${dataWrites.mkString("\n")}")
  }

  test("S3: compaction — rewrite only fragmented partitions, bounded copies, no append, untouched partitions keep their objects") {
    val root = s3dir("compact")
    // day=p1 fragmented (4 micro-batch files), day=p2 already compact
    (1 to 4).foreach { i =>
      Seq(("p1", i.toLong, s"frag$i")).toDF("day", "id", "payload")
        .coalesce(1).write.mode("append").partitionBy("day").parquet(s"$root/t")
    }
    Seq(("p2", 100L, "solid")).toDF("day", "id", "payload")
      .coalesce(1).write.mode("append").partitionBy("day").parquet(s"$root/t")

    val fs = new org.apache.hadoop.fs.Path(s"$root/t")
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def files(day: String): Set[String] =
      fs.listStatus(new org.apache.hadoop.fs.Path(s"$root/t/day=$day"))
        .filter(s => s.isFile && s.getPath.getName.endsWith(".parquet"))
        .map(_.getPath.getName).toSet
    assert(files("p1").size === 4 && files("p2").size === 1)
    val p2Before     = files("p2")
    val before       = spark.read.parquet(s"$root/t")
      .select("day", "id", "payload").collect().map(_.toSeq).toSet

    S3OpLog.clear()
    // rename = copy+delete and append throws on this FS — a compaction
    // that silently relied on either would fail or bloat here
    val rewritten = Maintenance.compactPartitions(
      spark, s"$root/t", Seq("day"), maxFiles = 2, targetBytes = 128L << 20)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(rewritten.toSeq === Seq(("day=p1", 4L, 1L)))

    // logical invariance: same rows, fewer objects
    val after = spark.read.parquet(s"$root/t")
      .select("day", "id", "payload").collect().map(_.toSeq).toSet
    assert(after === before)
    assert(files("p1").size === 1, s"p1 not compacted: ${files("p1")}")
    // untouched-partition invariance: p2 keeps its EXACT object set
    assert(files("p2") === p2Before, "already-compact partition was rewritten")

    // commit traffic under the S3 cost model: every data object
    // created/copied by the rewrite lands under day=p1 (or staging) —
    // never day=p2 — and the number of FINAL parquet objects copied
    // into day=p1 is exactly files_target (bounded write amplification)
    val dataWrites = (S3OpLog.ops.filter(_.name == "create").map(_.src) ++
      S3OpLog.ops.filter(_.name == "copyObject").map(_.dst))
      .filter(p => p.contains("/t/") && p.contains("day=") && p.endsWith(".parquet"))
    assert(dataWrites.nonEmpty)
    assert(dataWrites.forall(p => !p.contains("day=p2")),
      s"compaction touched the compact partition:\n${dataWrites.mkString("\n")}")
    val finalCopies = S3OpLog.ops
      .filter(_.name == "copyObject").map(_.dst)
      .filter(p => p.contains("day=p1") && !p.contains("_temporary") &&
        !p.contains(".spark-staging") && p.endsWith(".parquet"))
    assert(finalCopies.size === 1,
      s"expected exactly files_target=1 final object copied into day=p1:\n" +
        finalCopies.mkString("\n"))
  }

  test("S3: media ingest gate — growing index + replay-safe overwrite under copy+delete rename") {
    def png(seed: Int, perturb: Boolean = false): Array[Byte] = {
      val img = new java.awt.image.BufferedImage(
        32, 24, java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
      for (y <- 0 until 24; x <- 0 until 32) {
        val base = (x * 37 + y * 11 + seed * 97) % 256
        img.getRaster.setSample(x, y, 0, if (perturb && x == 5 && y == 5) 255 else base)
      }
      val out = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "png", out)
      out.toByteArray
    }
    def media(rows: Seq[(Long, Array[Byte])]) =
      rows.toDF("doc_id", "payload")
        .withColumn("ingest_ts", to_timestamp(lit("2025-10-08 10:00:00")))

    val hist = s3dir("media") + "/index"
    val sink = MediaStream.aHashGatedBatchSink(hist, maxHamming = 3)
    def ids(): Set[Long] =
      spark.read.parquet(hist).select("doc_id").collect().map(_.getLong(0)).toSet

    sink(media(Seq(10L -> png(1), 11L -> png(2), 12L -> png(1, perturb = true))), 0L)
    assert(ids() === Set(10L, 11L))
    sink(media(Seq(20L -> png(2, perturb = true), 21L -> png(3))), 1L)
    assert(ids() === Set(10L, 11L, 21L))
    // REPLAY batch 1 on the object store: dynamic overwrite of the
    // batch's own partition must land the same admit set exactly once
    // even though the commit is non-atomic copy+delete
    sink(media(Seq(20L -> png(2, perturb = true), 21L -> png(3))), 1L)
    assert(ids() === Set(10L, 11L, 21L))
    assert(spark.read.parquet(hist).count() === 3)
  }

  test("S3: vector ingest gate — semantic dedup index replay-safe under copy+delete rename") {
    import graft.operators.Similarity
    import graft.streaming.VecStream
    def vec(x: Float, y: Float) = Array(x, y) ++ Array.fill(6)(0f)
    def batch(rows: Seq[(Long, Array[Float])]) =
      rows.toDF("vec_id", "embedding")
    // seed contract: kmeansCentroids seeds from vec_id < k, so the
    // training ids start at 0
    val train = Seq(
      (0L, vec(1f, 0f)), (1L, vec(0f, 1f)),
      (2L, vec(0.95f, 0.05f)), (3L, vec(0.05f, 0.95f))).toDF("vec_id", "embedding")
    val codebook = Similarity.kmeansCentroids(train, 2)
    val hist = s3dir("vec") + "/index"
    val sink = VecStream.semDedupGatedBatchSink(hist, codebook, tau = 0.95)
    def ids(): Set[Long] =
      spark.read.parquet(hist).select("vec_id").collect().map(_.getLong(0)).toSet

    sink(batch(Seq(10L -> vec(1f, 0f), 11L -> vec(0.99f, 0.01f), 12L -> vec(0f, 1f))), 0L)
    assert(ids() === Set(10L, 12L)) // 11 ≈ 10 within the batch
    sink(batch(Seq(20L -> vec(0.98f, 0.02f), 21L -> vec(-1f, 0f))), 1L)
    assert(ids() === Set(10L, 12L, 21L)) // 20 ≈ admitted 10
    // replay batch 1 on the object store: same admit set, no dup rows
    sink(batch(Seq(20L -> vec(0.98f, 0.02f), 21L -> vec(-1f, 0f))), 1L)
    assert(ids() === Set(10L, 12L, 21L))
    assert(spark.read.parquet(hist).count() === 3)
  }
}
