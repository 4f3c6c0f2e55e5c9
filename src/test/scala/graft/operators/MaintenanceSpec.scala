package graft.operators

import graft.SparkSpec
import org.apache.hadoop.fs.Path
import org.apache.spark.metrics.source.HiveCatalogMetrics
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

class MaintenanceSpec extends SparkSpec {

  private def fileList(path: String, sub: String): Seq[(String, Long)] = {
    val fs = new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.listStatus(new Path(path, sub))
      .filter(f => f.isFile && f.getPath.getName.endsWith(".parquet"))
      .map(f => (f.getPath.getName, f.getModificationTime)).toIndexedSeq.sortBy(_._1)
  }

  /** Every partition directory of the table at `path` (relative Hive
    * path, `day=2024-01-01/sym=A`) → its parquet (name, mtime) list. */
  private def partitionFiles(path: String): Map[String, Seq[(String, Long)]] = {
    val fs   = new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val root = fs.makeQualified(new Path(path)).toString + "/"
    val it   = fs.listFiles(new Path(path), true)
    val files = Seq.newBuilder[(String, (String, Long))]
    while (it.hasNext) {
      val f = it.next()
      if (f.getPath.getName.endsWith(".parquet"))
        files += (f.getPath.getParent.toString.stripPrefix(root) ->
          (f.getPath.getName -> f.getModificationTime))
    }
    files.result().groupMap(_._1)(_._2).map { case (d, ls) => d -> ls.sortBy(_._1) }
  }

  /** Runs `body` on a thread of its own with the JVM's default stack
    * size, as a streaming writer thread runs the upsert, and returns
    * its result with the partitions read by the file scans of the
    * queries it ran (the scans' "number of partitions read"). */
  private def onWriterThread[T](body: => T): (T, Long) = {
    import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.util.QueryExecutionListener
    def nodes(p: SparkPlan): Seq[SparkPlan] =
      (p +: p.children.flatMap(nodes)) ++ (p match {
        case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
        case q: QueryStageExec        => nodes(q.plan)
        case _                        => Seq.empty
      })
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[SparkPlan]
    val listener = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, d: Long): Unit = {
        plans.add(qe.executedPlan); ()
      }
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    var out: Either[Throwable, T] = null
    spark.listenerManager.register(listener)
    try {
      val t = new Thread(() => out = try Right(body) catch { case e: Throwable => Left(e) })
      t.start()
      t.join()
      // the write's command event is delivered asynchronously
      val deadline = System.currentTimeMillis() + 10000
      while (out.isRight && !plans.toArray.exists(_.toString.contains("InsertIntoHadoopFsRelation")) &&
        System.currentTimeMillis() < deadline) Thread.sleep(50)
    } finally spark.listenerManager.unregister(listener)
    val read = plans.toArray(Array.empty[SparkPlan]).toSeq.flatMap(nodes)
      .collect { case sc: FileSourceScanExec => sc }.distinct
      .map(_.metrics("numPartitions").value).sum
    // an Error (the stack overflow) is reported as this test's failure,
    // not rethrown as one that aborts the suite
    (out.fold(e => fail(s"the writer thread threw $e", e), identity), read)
  }

  test("upsertPartitions: merge semantics + untouched partitions keep their exact files") {
    val s = spark; import s.implicits._
    val dir = java.nio.file.Files.createTempDirectory("upsert").toString + "/t"
    Seq(
      ("2024-01-01", 1L, "a", 10L), ("2024-01-01", 2L, "b", 10L),
      ("2024-01-02", 3L, "c", 10L),
      ("2024-01-03", 4L, "d", 10L))
      .toDF("day", "id", "payload", "v")
      .write.partitionBy("day").parquet(dir)
    val before = fileList(dir, "day=2024-01-03")

    // update id=1 (newer), stale-update id=2 (older version loses),
    // insert id=9, all in existing or new partitions; day=2024-01-03 untouched
    val updates = Seq(
      ("2024-01-01", 1L, "a2", 20L),
      ("2024-01-01", 2L, "stale", 5L),
      ("2024-01-02", 9L, "new", 20L),
      ("2024-01-04", 10L, "fresh", 20L))
      .toDF("day", "id", "payload", "v")
    val touched = Maintenance.upsertPartitions(spark, dir, updates, Seq("day"), Seq("id"), "v")
    assert(touched.sortBy(_.head.toString) ===
      Seq(Seq("2024-01-01"), Seq("2024-01-02"), Seq("2024-01-04")))

    val got = spark.read.parquet(dir)
      .select("id", "payload", "v").collect()
      .map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2)))).toMap
    assert(got(1L) === (("a2", 20L)))     // newer version wins
    assert(got(2L) === (("b", 10L)))      // stale update loses
    assert(got(3L) === (("c", 10L)))      // untouched partition intact
    assert(got(9L) === (("new", 20L)))    // insert into existing partition
    assert(got(10L) === (("fresh", 20L))) // new partition created
    // the untouched partition's FILES are byte-identical (same names, same mtimes)
    assert(fileList(dir, "day=2024-01-03") === before)
  }

  test("upsertPartitions: updates win version ties") {
    val s = spark; import s.implicits._
    val dir = java.nio.file.Files.createTempDirectory("upsert_tie").toString + "/t"
    Seq(("p1", 1L, "old", 10L)).toDF("day", "id", "payload", "v")
      .write.partitionBy("day").parquet(dir)
    Maintenance.upsertPartitions(
      spark, dir,
      Seq(("p1", 1L, "tied", 10L)).toDF("day", "id", "payload", "v"),
      Seq("day"), Seq("id"), "v")
    assert(spark.read.parquet(dir).select("payload").as[String].collect().toSeq === Seq("tied"))
  }

  test("upsertPartitions composite key: only touched (day, sym) tuples rewritten; other symbol same day untouched") {
    val s = spark; import s.implicits._
    // (table, update batch, partition columns). The small case touches
    // only (2024-01-01, A): same-day symbol B and same-symbol other-day
    // partitions must keep their exact files. The wide case is one
    // intraday fetch of a 500-symbol universe: it touches 500 of the
    // 610 (year, month, day, symbol_clean) tuples, with newer versions
    // for even symbols, older ones for odd symbols and one new key each.
    val small = (
      Seq(
        ("2024-01-01", "A", 1L, "a", 10L),
        ("2024-01-01", "B", 2L, "b", 10L),
        ("2024-01-02", "A", 3L, "c", 10L)).toDF("day", "sym", "id", "payload", "v"),
      Seq(("2024-01-01", "A", 1L, "a2", 20L)).toDF("day", "sym", "id", "payload", "v"),
      Seq("day", "sym"))
    val wideCols = Seq("year", "month", "day", "symbol_clean", "id", "payload", "v")
    val wide = (
      ((0 until 600).map(i => (2025, 10, 8, f"S$i%03d", i.toLong, "old", 10L)) ++
        (0 until 10).map(i => (2025, 10, 7, f"S$i%03d", 1000L + i, "prev", 10L)))
        .toDF(wideCols: _*),
      (0 until 500).flatMap { i =>
        Seq((2025, 10, 8, f"S$i%03d", i.toLong, "upd", if (i % 2 == 0) 20L else 5L),
          (2025, 10, 8, f"S$i%03d", 2000L + i, "new", 20L))
      }.toDF(wideCols: _*),
      Seq("year", "month", "day", "symbol_clean"))
    // a row counter in the batch's lineage: non-deterministic, so it is
    // neither folded nor pruned away, and it counts every row each time
    // the batch is evaluated
    val evaluated = spark.sparkContext.longAccumulator("upsert batch rows")
    val countRows = udf { (_: Long) => evaluated.add(1); true }.asNondeterministic()

    for ((table, updates, partCols) <- Seq(small, wide)) {
      val dir = java.nio.file.Files.createTempDirectory("upsert_comp").toString + "/t"
      table.write.partitionBy(partCols: _*).parquet(dir)
      val before = partitionFiles(dir)
      def hivePath(tuple: Seq[Any]) = partCols.zip(tuple).map { case (c, v) => s"$c=$v" }.mkString("/")
      val batchTuples = updates.select(partCols.map(col): _*).distinct().collect()
        .map(r => hivePath(r.toSeq)).toSet

      evaluated.reset()
      val (touched, partitionsRead) = onWriterThread(Maintenance.upsertPartitions(
        spark, dir, updates.filter(countRows(col("id"))), partCols, Seq("id"), "v"))
      assert(touched.map(hivePath).toSet === batchTuples)
      // the batch was evaluated once, for the touched tuples and the merge
      assert(evaluated.value === updates.count())
      // the scan read only the touched directories
      assert(partitionsRead === batchTuples.intersect(before.keySet).size.toLong)

      // greater version wins per key; the update wins a tie
      def rows(df: DataFrame, side: Int) = df.select("id", "payload", "v").collect()
        .map(r => (r.getLong(0), (r.getLong(2), side, r.getString(1))))
      val expected = (rows(table, 0) ++ rows(updates, 1))
        .groupMapReduce(_._1)(_._2)((a, b) => Seq(a, b).maxBy(w => (w._1, w._2)))
        .map { case (id, w) => id -> w._3 }
      val got = spark.read.parquet(dir)
        .select("id", "payload").collect().map(r => r.getLong(0) -> r.getString(1)).toMap
      assert(got === expected)
      val after = partitionFiles(dir)
      (before.keySet -- batchTuples).foreach(d => assert(after(d) === before(d), d))
    }
  }

  test("writers of a partitioned table leave one file per partition tuple whatever the input's partitioning") {
    val s = spark; import s.implicits._
    import graft.ohlcv.Storage
    val base = java.nio.file.Files.createTempDirectory("one_file").toString
    // 6 (day, symbol) tuples × 40 candles (keys distinct per day), each tuple's rows spread
    // round-robin over 8 input partitions
    def candles(version: Long) = (for {
      d <- Seq(7, 8); sym <- Seq("A", "B", "C"); t <- 0 until 40
    } yield (2025, 10, d, sym, d * 86400L + t, version)).toDF(
      "year", "month", "day", "symbol_clean", "timestamp_unix", "fetch_timestamp").repartition(8)
    def filesPerTuple(dir: String): Map[String, Long] =
      Maintenance.partitionFileStats(spark, dir, Storage.PartCols)
        .collect().map(r => r.getString(0) -> r.getAs[Long]("n_files")).toMap
    val keys = Seq("symbol_clean", "timestamp_unix")
    // the keyed dedup shuffle must reach the writers uncoalesced
    val coalesce = "spark.sql.adaptive.coalescePartitions.enabled"
    spark.conf.set(coalesce, "false")
    try {
      Storage.writeParquet(candles(1L), s"$base/etl", "overwrite")
      // an upsert into a missing path is the first write: the batch,
      // one row per key with the greater version, one file per tuple
      Maintenance.upsertPartitions(spark, s"$base/up", candles(0L).unionByName(candles(1L)),
        Storage.PartCols, keys, "fetch_timestamp")
      assert(filesPerTuple(s"$base/etl").size === 6)
      assert(filesPerTuple(s"$base/etl").values.toSet === Set(1L))
      assert(filesPerTuple(s"$base/up").values.toSet === Set(1L))
      assert(spark.read.parquet(s"$base/up").count() === 240L)
      assert(spark.read.parquet(s"$base/up").filter(col("fetch_timestamp") === 1L).count() === 240L)
      Maintenance.upsertPartitions(spark, s"$base/up", candles(2L).filter(col("day") === 8),
        Storage.PartCols, keys, "fetch_timestamp")
      assert(filesPerTuple(s"$base/up").size === 6)
      assert(filesPerTuple(s"$base/up").values.toSet === Set(1L))
      assert(spark.read.parquet(s"$base/up").count() === 240L)
      assert(spark.read.parquet(s"$base/up").filter(col("fetch_timestamp") === 2L).count() === 120L)
    } finally spark.conf.unset(coalesce)
  }

  test("compactPartitions: only fragmented partitions rewritten, contents preserved") {
    val s = spark; import s.implicits._
    val dir = java.nio.file.Files.createTempDirectory("compact").toString + "/t"
    // fragmented partition: 8 files; compact partition: 1 file
    (0L until 80L).map(i => ("hot", i)).toDF("part", "id")
      .repartition(8).write.partitionBy("part").parquet(dir)
    (0L until 10L).map(i => ("cold", i)).toDF("part", "id")
      .coalesce(1).write.mode("append").partitionBy("part").parquet(dir)

    val coldBefore = fileList(dir, "part=cold")
    val statsBefore = Maintenance.partitionFileStats(spark, dir, Seq("part"))
      .collect().map(r => r.getString(0) -> r.getAs[Long]("n_files")).toMap
    assert(statsBefore("part=hot") === 8L && statsBefore("part=cold") === 1L)

    val done = Maintenance.compactPartitions(
      spark, dir, Seq("part"), maxFiles = 4, targetBytes = 1L << 30)
      .collect().map(r => (r.getString(0), r.getAs[Long]("files_target"))).toMap
    assert(done === Map("part=hot" -> 1L)) // only the fragmented partition, to 1 file

    val statsAfter = Maintenance.partitionFileStats(spark, dir, Seq("part"))
      .collect().map(r => r.getString(0) -> r.getAs[Long]("n_files")).toMap
    assert(statsAfter("part=hot") === 1L)
    assert(fileList(dir, "part=cold") === coldBefore) // cold partition untouched
    // contents identical after rewrite
    val ids = spark.read.parquet(dir).filter(col("part") === "hot")
      .select("id").as[Long].collect().sorted.toSeq
    assert(ids === (0L until 80L).toSeq)
  }

  test("compactPartitions composite key: only the fragmented (day, sym) tuple rewritten") {
    val s = spark; import s.implicits._
    val dir = java.nio.file.Files.createTempDirectory("compact_comp").toString + "/t"
    // fragmented tuple (d1, A): 6 files; compact tuples: 1 file each
    (0L until 60L).map(i => ("d1", "A", i)).toDF("day", "sym", "id")
      .repartition(6).write.partitionBy("day", "sym").parquet(dir)
    (0L until 10L).map(i => ("d1", "B", i)).toDF("day", "sym", "id")
      .coalesce(1).write.mode("append").partitionBy("day", "sym").parquet(dir)
    (0L until 10L).map(i => ("d2", "A", i)).toDF("day", "sym", "id")
      .coalesce(1).write.mode("append").partitionBy("day", "sym").parquet(dir)

    val beforeB  = fileList(dir, "day=d1/sym=B")
    val beforeD2 = fileList(dir, "day=d2/sym=A")
    val stats = Maintenance.partitionFileStats(spark, dir, Seq("day", "sym"))
      .collect().map(r => r.getString(0) -> r.getAs[Long]("n_files")).toMap
    assert(stats === Map("day=d1/sym=A" -> 6L, "day=d1/sym=B" -> 1L, "day=d2/sym=A" -> 1L))

    val done = Maintenance.compactPartitions(
      spark, dir, Seq("day", "sym"), maxFiles = 4, targetBytes = 1L << 30)
      .collect().map(r => (r.getString(0), r.getAs[Long]("files_target"))).toMap
    assert(done === Map("day=d1/sym=A" -> 1L))

    val after = Maintenance.partitionFileStats(spark, dir, Seq("day", "sym"))
      .collect().map(r => r.getString(0) -> r.getAs[Long]("n_files")).toMap
    assert(after("day=d1/sym=A") === 1L)
    assert(fileList(dir, "day=d1/sym=B") === beforeB)   // same day, other symbol untouched
    assert(fileList(dir, "day=d2/sym=A") === beforeD2)  // same symbol, other day untouched
    val ids = spark.read.parquet(dir)
      .filter(col("day") === "d1" && col("sym") === "A")
      .select("id").as[Long].collect().sorted.toSeq
    assert(ids === (0L until 60L).toSeq)
  }

  test("bounded planning at thousands of partitions: census is distributed, planner drains worst-first up to the cap") {
    val s = spark; import s.implicits._
    val dir = java.nio.file.Files.createTempDirectory("compact_cap").toString + "/t"
    val n = 2048
    (0 until n).map(i => (f"p$i%04d", i.toLong)).toDF("part", "id")
      .repartition(32, col("part"))
      .write.partitionBy("part").parquet(dir)
    // fragment six partitions with a second file each
    (0 until 6).map(i => (f"p$i%04d", (10000 + i).toLong)).toDF("part", "id")
      .repartition(6, col("part"))
      .write.mode("append").partitionBy("part").parquet(dir)

    // the census is a DataFrame (never a forced driver collection) and
    // covers every leaf
    val census = Maintenance.partitionFileStats(spark, dir, Seq("part"))
    assert(census.count() === n.toLong)
    assert(census.filter(col("n_files") > 1).count() === 6L)

    // cap 3 < 6 offenders: the planner materializes/rewrites only the
    // worst 3 (all tie at 2 files -> partition-asc tiebreak); the rest
    // wait for the next run
    // the run opens the table once: its listing discovers the table's
    // n + 6 files one time, not once per rewritten partition
    HiveCatalogMetrics.reset()
    val done = Maintenance.compactPartitions(
      spark, dir, Seq("part"), maxFiles = 1, targetBytes = 1L << 30, maxPartitionsPerRun = 3)
      .collect().map(_.getString(0)).sorted.toSeq
    assert(HiveCatalogMetrics.METRIC_FILES_DISCOVERED.getCount === n + 6L)
    assert(done === Seq("part=p0000", "part=p0001", "part=p0002"))
    val after = Maintenance.partitionFileStats(spark, dir, Seq("part"))
      .filter(col("n_files") > 1)
      .collect().map(_.getString(0)).sorted.toSeq
    assert(after === Seq("part=p0003", "part=p0004", "part=p0005")) // backlog intact for run 2
  }

  test("upsertPartitions: partition fan-out beyond the pruning-predicate budget is rejected loudly") {
    val s = spark; import s.implicits._
    val dir = java.nio.file.Files.createTempDirectory("upsert_fanout").toString + "/t"
    Seq(("d0", 0L, "x", 1L)).toDF("day", "id", "payload", "v")
      .write.partitionBy("day").parquet(dir)
    val wide = (0 until Maintenance.MaxUpsertPartitionFanout + 1)
      .map(i => (f"d$i%05d", i.toLong, "y", 2L)).toDF("day", "id", "payload", "v")
    val e = intercept[IllegalArgumentException](
      Maintenance.upsertPartitions(spark, dir, wide, Seq("day"), Seq("id"), "v"))
    assert(e.getMessage.contains("split the batch"))
  }
}
