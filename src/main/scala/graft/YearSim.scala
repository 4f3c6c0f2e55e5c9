package graft

import graft.ohlcv.{Api, MockData, Normalize, RawIngest, Storage}
import graft.operators.TextAnalysis
import graft.streaming.{DocStream, IndexRead, OhlcvStream}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** A simulated YEAR of 5-minute micro-batches, downsampled — the
  * measurement behind the scheduled-maintenance claim: with the
  * compaction cadence riding the batch loop (no manual pass, ever),
  * serving (`/latest`, `/analytics`) and the streaming gate probe stay
  * FLAT in table age; with the cadence off, the same loop degrades
  * linearly in files/partitions listed.
  *
  * The reference schedules all of this externally
  * (`infra/main-mvp.tf:464-515` — EventBridge crons firing the fetch /
  * ETL / monitor Lambdas); here the triggers are in-band
  * ([[OhlcvStream.appendBatch]]'s compactEvery tick and
  * [[IndexRead.maintainAfterCommit]]'s Cadence), so the proof is one
  * loop per arm driving the EXACT production batch bodies.
  *
  * Downsampling: a real year is ~10⁵ five-minute batches over 365 day
  * partitions. The sim keeps the STRUCTURE that drives cost — number
  * of day partitions touched-and-rolled, rewrite fan-out per touched
  * partition, commit-marker/partition-dir counts in the gate index —
  * and compresses time: each sim batch carries one day's close
  * (rolling the day forward every batch), `nDays` batches ≈ a year of
  * daily partitions; the gate arm runs `gateBatches` micro-batches
  * against one growing index. Cadences scale the same way (compact
  * "daily" = every `compactEvery` sim batches).
  *
  * Usage: `runMain graft.YearSim [workdir] [nDays] [gateBatches]
  * [vetoBatches]` — prints one JSON line per (arm × endpoint):
  * {"sim":"year","arm":"auto|manual","endpoint":...,
  *  "table_files":N,"scan_files":N,"warm_s":...} and for the gates
  * {"sim":"year","arm":...,"endpoint":"gate_probe|media_veto_gate",
  *  "batches":N,"early_s":...,"late_s":...,"commit_entries":N,
  *  "data_dirs":N}. An arm count of 0 skips that arm (re-measure one
  * arm without paying the others).
  */
object YearSim {
  def main(args: Array[String]): Unit = {
    val work = args.headOption.getOrElse(
      java.nio.file.Files.createTempDirectory("graft-yearsim").toString)
    val nDays       = args.lift(1).map(_.toInt).getOrElse(240)
    val gateBatches = args.lift(2).map(_.toInt).getOrElse(360)
    val vetoBatches = args.lift(3).map(_.toInt).getOrElse(100)
    // validate EVERY arm count up front — a bad later-arm count must
    // fail before any earlier arm burns minutes of work (0 skips an
    // arm; 1..24 can't produce the early/late windows and is rejected
    // here, not mid-run)
    for ((nm, v) <- Seq(("gateBatches", gateBatches), ("vetoBatches", vetoBatches)))
      require(v == 0 || v >= 25,
        s"$nm must be 0 (skip the arm) or >= 25 for meaningful early/late windows (got $v)")
    require(nDays >= 0, s"nDays must be >= 0 (got $nDays)")
    val spark       = GraftSession.local()
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._

    val syms = Seq("NSE:SYM001-EQ", "NSE:SYM002-EQ", "NSE:SYM003-EQ")
    val t0   = 1735689600L // 2025-01-01 00:00 UTC

    // ---- OHLCV serving table: auto-compaction ON vs OFF -------------
    // APPEND-style ingest (the parquetSink semantics, the reference's
    // 5-min fetch job): each day receives 4 sub-batches, each leaving
    // one new file per (day, symbol) partition — the small-file
    // producer. The auto arm's compaction tick (every 28 sub-batches ≈
    // weekly at this downsampling; production = daily 288) rewrites
    // fragmented partitions to one file; the manual arm never compacts.
    val subPerDay = 4
    for ((arm, compactEvery) <- Seq(("manual", 0L), ("auto", 28L)) if nDays > 0) {
      val dir = s"$work/ohlcv_$arm/table"
      for (d <- 0 until nDays; sub <- 0 until subPerDay) {
        val slice = MockData.candles(
          spark, syms, 3, t0 + d * 86400L + sub * 900L)
        val norm = Normalize.normalize(
          RawIngest.blocks(
            MockData.envelope(slice, s"sim-$d-$sub")
              .withColumn("source_file", lit(s"mem-$d-$sub"))),
          s"sim-$d-$sub")
        OhlcvStream.appendBatch(
          norm.drop("event_time"),
          batchId = (d * subPerDay + sub).toLong, outPath = dir,
          partCols = Seq("year", "month", "day", "symbol_clean"),
          compactEvery = compactEvery, compactMaxFiles = 1,
          compactTargetBytes = 128L << 20)
      }
      val lastDate = java.time.LocalDate
        .ofEpochDay(t0 / 86400 + (nDays - 1)).toString
      val tableFiles = ServeScale.countParquetFiles(new java.io.File(dir))
      def measure(endpoint: String, mk: () => DataFrame): Unit = {
        val warmup = mk().collect() // cold pass primes the file index
        val t      = System.nanoTime()
        val df     = mk(); val out = df.collect().length
        val warm   = (System.nanoTime() - t) / 1e9
        val (scanFiles, scanRows) =
          ServeScale.scanMetrics(df.queryExecution.executedPlan)
        println(
          s"""{"sim":"year","arm":"$arm","endpoint":"$endpoint","days":$nDays,""" +
            s""""table_files":$tableFiles,"scan_files":$scanFiles,""" +
            s""""scan_rows":$scanRows,"out_rows":$out,""" +
            s""""warm_s":${math.rint(warm * 1000) / 1000}}""")
        require(warmup.length == out, "warm/cold row drift")
      }
      measure("/latest", () =>
        Api.latestSummaryFromTable(Storage.readParquet(spark, dir), syms))
      measure("/analytics/daily_summary", () =>
        Api.dailySummaryFromTable(Storage.readParquet(spark, dir), lastDate))
    }

    // ---- Streaming gate index: maintenance cadence ON vs OFF --------
    // per-batch sink latency early vs late is the flatness signal: the
    // manual arm's probe joins against one directory PER BATCH EVER
    // COMMITTED (and lists every marker), the auto arm against the
    // folded base + a bounded tail
    for ((arm, cad) <- Seq(
        ("manual", IndexRead.Cadence.Off),
        ("auto", IndexRead.Cadence(commitsEvery = 12L, foldEvery = 24L, replayHorizon = 2L)))
        if gateBatches > 0) {
      val hist = s"$work/gate_$arm/index"
      val sink = DocStream.bloomGatedBatchSink(hist, cadence = cad)
      def batchSeconds(b: Long): Double = {
        val rows = (0 until 5)
          .map(i => (b * 5 + i, s"doc-$arm-${b * 5 + i}"))
          .toDF("doc_id", "text")
        val t = System.nanoTime()
        sink(rows, b)
        (System.nanoTime() - t) / 1e9
      }
      require(gateBatches >= 25,
        s"gateBatches must be >= 25 for meaningful early/late windows (got $gateBatches)")
      val times = (0L until gateBatches.toLong).map(batchSeconds)
      def avg(xs: Seq[Double]): Double = xs.sum / xs.size // windows non-empty by the require
      val early = avg(times.slice(5, 15))
      val late  = avg(times.takeRight(10))
      val fs = new org.apache.hadoop.fs.Path(hist)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      val commitEntries =
        fs.listStatus(new org.apache.hadoop.fs.Path(hist, "_commits")).length
      val dataDirs = fs.listStatus(new org.apache.hadoop.fs.Path(hist))
        .count(_.getPath.getName.startsWith("batch_id="))
      // the external gate-probe read (what a batch consumer pays)
      val tp = System.nanoTime()
      val visible = IndexRead.committedParquet(spark, hist, -999L)(
          Seq.empty[Long].toDF("doc_id").withColumn("batch_id", lit(-1L)))
        .count()
      val probe = (System.nanoTime() - tp) / 1e9
      println(
        s"""{"sim":"year","arm":"$arm","endpoint":"gate_probe","batches":$gateBatches,""" +
          s""""early_s":${math.rint(early * 1000) / 1000},""" +
          s""""late_s":${math.rint(late * 1000) / 1000},""" +
          s""""probe_s":${math.rint(probe * 1000) / 1000},"visible_rows":$visible,""" +
          s""""commit_entries":$commitEntries,"data_dirs":$dataDirs}""")
    }

    // ---- Media VETO gate: the heaviest sink (AVI container walk +
    // PNG frame decode + hash + THREE veto layers including the
    // FOREIGN image-index probe) — the auto cadence must keep
    // per-batch latency flat while the OWN clip index grows. The
    // foreign index is STATIC and shared by both arms, and its probe
    // cost is broken out standalone so own-index growth is the only
    // thing the early/late delta can be attributed to.
    if (vetoBatches > 0) {
      import graft.operators.{Multimodal, TextDedup}
      import graft.streaming.MediaStream
      require(vetoBatches >= 25,
        s"vetoBatches must be >= 25 for meaningful early/late windows (got $vetoBatches)")
      val imgIdx = s"$work/veto_imgindex"
      MediaStream.aHashGatedBatchSink(imgIdx, maxHamming = 3)(
        Multimodal.syntheticImages((5000L until 5030L).toDF("doc_id"), col("doc_id")),
        0L)
      // DIVERSE clips (hash-unique keyframes): the manifest formula's
      // aHash space saturates at ~48 values, which would freeze the
      // own index after a dozen batches — the arm must measure an
      // index that GROWS for the whole horizon
      def clips(b: Long): DataFrame =
        Multimodal.syntheticVideoDiverse(
          (0 until 4).map(i => 100000L + b * 4 + i).toDF("doc_id"), col("doc_id"))
      for ((arm, cad) <- Seq(
          ("manual", IndexRead.Cadence.Off),
          ("auto", IndexRead.Cadence(commitsEvery = 12L, foldEvery = 24L, replayHorizon = 2L)))) {
        val hist = s"$work/veto_$arm/index"
        val sink = MediaStream.keyframeVetoGatedBatchSink(
          hist, imgIdx, maxHamming = 3, everyK = 4, bands = 8, cadence = cad)
        val times = (0L until vetoBatches.toLong).map { b =>
          val rows = clips(b)
          val t    = System.nanoTime()
          sink(rows, b)
          (System.nanoTime() - t) / 1e9
        }
        def avg(xs: Seq[Double]): Double = xs.sum / xs.size
        val early = avg(times.slice(5, 15))
        val late  = avg(times.takeRight(10))
        val fs = new org.apache.hadoop.fs.Path(hist)
          .getFileSystem(spark.sparkContext.hadoopConfiguration)
        val commitEntries =
          fs.listStatus(new org.apache.hadoop.fs.Path(hist, "_commits")).length
        val dataDirs = fs.listStatus(new org.apache.hadoop.fs.Path(hist))
          .count(_.getPath.getName.startsWith("batch_id="))
        // breakout: one fresh batch's keyframe reps probed against (a)
        // the static foreign image index and (b) this arm's grown OWN
        // index — the two index-side costs of a steady-state batch
        val kfReps = Multimodal.aHash64(
            Multimodal.videoKeyframes(clips(vetoBatches.toLong + 1), everyK = 4)
              .select(
                Multimodal.keyframeId(col("doc_id"), col("frame_idx")).as("doc_id"),
                col("payload")))
          .groupBy(col("sh")).agg(min(col("doc_id")).as("doc_id"))
          .persist()
        kfReps.count() // materialize so the probes time only the joins
        def probeSeconds(index: DataFrame): Double = {
          val t = System.nanoTime()
          TextDedup.simhashProbeIndex(kfReps, index, maxHamming = 3, bands = 8).count()
          (System.nanoTime() - t) / 1e9
        }
        val foreignProbe = probeSeconds(
          IndexRead.committedParquet(spark, imgIdx, -999L)(
              Seq.empty[(Long, Long)].toDF("doc_id", "sh").withColumn("batch_id", lit(-1L)))
            .select(col("doc_id"), col("sh")))
        val ownProbe = probeSeconds(
          IndexRead.committedParquet(spark, hist, -999L)(
              Seq.empty[(Long, Long)].toDF("doc_id", "sh").withColumn("batch_id", lit(-1L)))
            .select(col("doc_id"), col("sh")))
        kfReps.unpersist()
        println(
          s"""{"sim":"year","arm":"$arm","endpoint":"media_veto_gate","batches":$vetoBatches,""" +
            s""""early_s":${math.rint(early * 1000) / 1000},""" +
            s""""late_s":${math.rint(late * 1000) / 1000},""" +
            s""""foreign_probe_s":${math.rint(foreignProbe * 1000) / 1000},""" +
            s""""own_probe_s":${math.rint(ownProbe * 1000) / 1000},""" +
            s""""commit_entries":$commitEntries,"data_dirs":$dataDirs}""")
      }
    }
    spark.stop()
  }
}
