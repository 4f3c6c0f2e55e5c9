package graft.ohlcv

import graft.operators.Dedup
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame, DataFrameWriter, Row, SparkSession}

/** Partitioned storage for the normalized OHLCV table (SURVEY §2.1).
  *
  * Layout matches the reference's Hive-style partitioning: parquet
  * partitioned by (year, month, day, symbol_clean) with snappy
  * (S9, etl/glue_job.py:195-225); CSV.gz partitioned by
  * (symbol_clean, year, month, day) (S7, etl/lightweight_etl.py:
  * 276-284). Partition pruning then replaces the reference's
  * hand-built S3 key construction (§4) for free.
  *
  * Partition addressing lives here, once: which directories a read
  * touches ([[inPartitions]], [[inDateRange]], [[cleanSymbol]]), what
  * the layout holds ([[availableDates]], [[newestDatePerSymbol]]) and
  * how a write lays rows out ([[clusteredWrite]]).
  *
  * Scale notes: partition columns are low-cardinality dates + symbol;
  * at 100 TB add bucketing on symbol_clean for co-located joins.
  */
object Storage {

  /** The served table's partition columns, day-major. */
  val PartCols: Seq[String] = Seq("year", "month", "day", "symbol_clean")

  /** A client symbol (`NSE:TCS-EQ`, `tcs`) → its `symbol_clean`
    * partition value; the plain-string twin of the column expression
    * [[Normalize.cleanSymbol]], case-folded because REST clients send
    * either case. */
  def cleanSymbol(symbol: String): String = symbol.toUpperCase.replaceAll("NSE:|-EQ", "")

  /** Writer of a table partitioned by `partCols`, its rows clustered by
    * those columns first (the `rebalance` hint): every partition tuple
    * lands in one task, so a write leaves one file per tuple whatever
    * the input's partitioning or the core count, and AQE may still
    * split an oversized tuple. Unclustered, each task writes its own
    * file into every tuple it holds: cores × files per directory, which
    * every later read lists and opens. */
  def clusteredWrite(df: DataFrame, partCols: Seq[String]): DataFrameWriter[Row] =
    df.hint("rebalance", partCols.map(col): _*).write.partitionBy(partCols: _*)

  /** Filter keeping exactly the partition tuples `tuples` of `table`:
    * one `struct(partCols…) IN (tuples)` test, which Spark keeps as one
    * flat set lookup in the scan's PartitionFilters however many tuples
    * there are (an OR of per-tuple equalities nests one level per tuple
    * and overflows a default thread stack at 300–350 tuples). Each literal
    * is cast to the table's discovered partition type, so no cast lands
    * on a column and pruning stays effective. No tuples keep nothing. */
  def inPartitions(table: DataFrame, partCols: Seq[String], tuples: Seq[Seq[Any]]): Column =
    if (tuples.isEmpty) lit(false)
    else {
      val types = partCols.map(c => table.schema(c).dataType)
      struct(partCols.map(col): _*).isin(tuples.map { t =>
        struct(partCols.indices.map(i => lit(t(i)).cast(types(i)).as(partCols(i))): _*)
      }: _*)
    }

  /** Filter keeping the candles of the inclusive UTC date range
    * `from`..`to` (either end open when None): exact `timestamp_unix`
    * bounds, which reach the parquet reader as pushed filters, plus —
    * when `table` carries the year/month/day partition columns — the
    * same range on the calendar key, so the scan lists and opens only
    * those day directories. The calendar range is widened ±1 day
    * because the partition calendar derives from the session timezone
    * while the row bounds are UTC: pruning stays a superset of the
    * answer under any skew, and `timestamp_unix` makes the exact cut. */
  def inDateRange(table: DataFrame, from: Option[String], to: Option[String]): Column = {
    def date(d: String) = java.time.LocalDate.parse(d)
    def dayStart(d: String): Long = date(d).atStartOfDay(java.time.ZoneOffset.UTC).toEpochSecond
    def dateInt(d: java.time.LocalDate): Int =
      d.getYear * 10000 + d.getMonthValue * 100 + d.getDayOfMonth
    val dayKey  = col("year") * 10000 + col("month") * 100 + col("day")
    val dayCols = Seq("year", "month", "day").forall(table.columns.contains)
    (from.map(d => col("timestamp_unix") >= dayStart(d)) ++
      to.map(d => col("timestamp_unix") < dayStart(d) + 86400L) ++
      from.filter(_ => dayCols).map(d => dayKey >= dateInt(date(d).minusDays(1))) ++
      to.filter(_ => dayCols).map(d => dayKey <= dateInt(date(d).plusDays(1))))
      .foldLeft(lit(true))(_ && _)
  }

  /** S9: partitioned snappy parquet sink. */
  def writeParquet(normalized: DataFrame, path: String, mode: String = "append"): Unit =
    clusteredWrite(normalized, PartCols)
      .mode(mode)
      .option("compression", "snappy")
      .parquet(path)

  /** Parquet scan of the partitioned table (partition discovery gives
    * back year/month/day/symbol_clean as columns). */
  def readParquet(spark: SparkSession, path: String): DataFrame =
    spark.read.parquet(path)

  /** P17: file-recency scan of a raw-envelope landing dir — the
    * reference lists S3 objects, keeps `LastModified >= now − N days`
    * and caps to the newest 50 (`api/api_handler.py:451-477`). The
    * recency half maps to Spark's native `modifiedAfter` file-source
    * option (applied during file LISTING — stale files are never
    * opened); the newest-K cap is a driver-side file-index sort (the
    * same metadata-only operation as the reference's list_objects_v2
    * page walk) feeding an explicit path list to the reader. At scale
    * prefer date-PARTITION predicates (true partition pruning, already
    * pinned in PlanSpec); this path exists for landing dirs that have
    * no date layout — exactly where the reference used it. */
  def readRecentRaw(
      spark: SparkSession,
      dir: String,
      modifiedAfterIso: Option[String] = None,
      capNewest: Option[Int] = None): DataFrame = {
    val base = spark.read
      .option("multiLine", "true")
      .schema(OhlcvSchemas.rawEnvelope)
    // the option wants a ZONELESS yyyy-MM-dd'T'HH:mm:ss resolved in
    // the session timezone — convert from the unambiguous instant form
    // this API takes (truncates to seconds, the option's granularity)
    val withRecency = modifiedAfterIso.fold(base) { ts =>
      val zone = java.time.ZoneId.of(spark.conf.get("spark.sql.session.timeZone"))
      val local = java.time.LocalDateTime
        .ofInstant(java.time.Instant.parse(ts), zone)
        .format(java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd'T'HH:mm:ss"))
      base.option("modifiedAfter", local)
    }
    capNewest match {
      case None => withRecency.json(dir).withColumn("source_file", input_file_name())
      case Some(k) =>
        val paths = newestFiles(spark, dir, k, modifiedAfterIso)
        if (paths.isEmpty)
          spark.createDataFrame(
            spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
            OhlcvSchemas.rawEnvelope.add("source_file", "string"))
        else withRecency.json(paths: _*).withColumn("source_file", input_file_name())
    }
  }

  /** The newest `k` (≥ 1) data files under `dir` by modification time
    * (metadata-only listing via the Hadoop FileSystem API — works on
    * any supported store, S3A included), kept in O(k) driver memory by
    * [[newestInventory]]. Hidden/temp files (dot or underscore
    * prefixed) are skipped like Spark's own file index does;
    * `modifiedAfterIso` pre-filters before the cap so the two knobs
    * compose the same way as the reference's list-then-cap. */
  def newestFiles(
      spark: SparkSession,
      dir: String,
      k: Int,
      modifiedAfterIso: Option[String] = None): Seq[String] =
    newestInventory(spark.sparkContext.hadoopConfiguration, dir, k,
      modifiedAfterIso = modifiedAfterIso).map(_._1)

  /** Newest-first metadata INVENTORY of the data files under `dir`:
    * (absolute path, bytes, modified epoch millis). Metadata-only
    * recursive listing on any supported store; hidden/temp files
    * (dot/underscore prefixed) skipped like Spark's own file index;
    * optional recency pre-filter. Holds the whole listing in driver
    * memory and sorts it: the plain reference the bounded
    * [[newestInventory]] is checked against. */
  def fileInventory(
      conf: org.apache.hadoop.conf.Configuration,
      dir: String,
      modifiedAfterIso: Option[String] = None): Seq[(String, Long, Long)] = {
    val path = new org.apache.hadoop.fs.Path(dir)
    val fs   = path.getFileSystem(conf)
    if (!fs.exists(path)) return Seq.empty
    val cutoff = modifiedAfterIso.map(java.time.Instant.parse(_).toEpochMilli)
    val it     = fs.listFiles(path, true)
    val files  = scala.collection.mutable.ArrayBuffer.empty[(String, Long, Long)]
    while (it.hasNext) {
      val st   = it.next()
      val name = st.getPath.getName
      if (st.isFile && !name.startsWith(".") && !name.startsWith("_") &&
        cutoff.forall(st.getModificationTime > _))
        files += ((st.getPath.toString, st.getLen, st.getModificationTime))
    }
    files.sortBy { case (p, _, m) => (-m, p) }.toSeq
  }

  /** Newest-`k` subset of [[fileInventory]] in BOUNDED memory: the
    * recursive walk keeps only the current k newest candidates in a
    * size-k heap, so a landing dir with millions of objects costs
    * O(files) listing time but O(k) server memory — the shape the
    * serving layer's `/files` endpoint needs (its `limit` is
    * client-supplied). Same ordering, same hidden-file and recency
    * rules as [[fileInventory]]; `nameFilter` prunes before the heap
    * (the dashboard lists raw JSON only). */
  def newestInventory(
      conf: org.apache.hadoop.conf.Configuration,
      dir: String,
      k: Int,
      nameFilter: String => Boolean = _ => true,
      modifiedAfterIso: Option[String] = None): Seq[(String, Long, Long)] = {
    require(k >= 1, s"k must be positive (got $k)")
    val path = new org.apache.hadoop.fs.Path(dir)
    val fs   = path.getFileSystem(conf)
    if (!fs.exists(path)) return Seq.empty
    val cutoff = modifiedAfterIso.map(java.time.Instant.parse(_).toEpochMilli)
    // max-heap on the SORT key (-modified, path): the head is the
    // OLDEST retained candidate and is evicted when a newer one lands
    val heap = scala.collection.mutable.PriorityQueue.empty[(String, Long, Long)](
      Ordering.by { case (p, _, m) => (-m, p) })
    val it = fs.listFiles(path, true)
    while (it.hasNext) {
      val st   = it.next()
      val name = st.getPath.getName
      if (st.isFile && !name.startsWith(".") && !name.startsWith("_") &&
        nameFilter(name) && cutoff.forall(st.getModificationTime > _)) {
        heap += ((st.getPath.toString, st.getLen, st.getModificationTime))
        if (heap.size > k) { heap.dequeue(); () }
      }
    }
    heap.dequeueAll.reverse.toSeq
  }

  /** Available dates for a symbol from the PARTITION LAYOUT alone
    * (`quick_api_queries.py:155-188`, one [[layout]] walk) —
    * metadata-only, no data file is opened (a partition-column
    * `distinct` through the scan would still read parquet footers since
    * Spark removed the metadata-only optimizer rule for correctness).
    * Newest-first, capped at `limit` — the reference's exact
    * list-keys-then-cap behavior. */
  def availableDates(
      conf: org.apache.hadoop.conf.Configuration,
      tableDir: String,
      symbolClean: String,
      limit: Int = 10): Seq[String] = {
    require(limit >= 1, s"limit must be positive (got $limit)")
    // symbolClean is interpolated into a Hadoop GLOB: a value carrying
    // glob metacharacters would over-match or throw instead of
    // returning empty, so reject them up front (normalized symbols —
    // Normalize.cleanSymbol output — never contain these, but `&`/`-`
    // do occur in real NSE names and stay allowed).
    val globMeta = "*?[]{}\\,"
    require(
      symbolClean.nonEmpty && !symbolClean.exists(globMeta.contains(_)),
      s"symbolClean must not contain glob metacharacters ($globMeta): got '$symbolClean'")
    layout(conf, tableDir, symbolClean).map(_._2)
      .distinct.sorted(Ordering[String].reverse).take(limit)
  }

  /** NEWEST date per symbol among the files of the opened `table` — the
    * /latest discovery primitive. It reads the listing the open already
    * took, so it names only days the same frame's scan holds: a commit
    * landing after the open cannot add a day the scan then lacks.
    * Metadata-only; no data file opened, no second listing. */
  def newestDatePerSymbol(table: DataFrame): Map[String, String] =
    table.inputFiles.toSeq
      .map(f => new org.apache.hadoop.fs.Path(f).getParent.toUri.getPath)
      .collect(leafDate)
      .groupMapReduce(_._1)(_._2)(Ordering[String].max)

  /** (symbol_clean, yyyy-MM-dd) of a leaf path whose last four segments
    * are `year=Y`, `month=M`, `day=D` and `symbol_clean=S` in any order:
    * the day-major parquet layout and the symbol-major CSV one
    * ([[writeCsv]]) both parse. */
  private val leafDate: PartialFunction[String, (String, String)] = Function.unlift { leaf =>
    val kv = leaf.split('/').takeRight(4).map(_.split("=", 2))
      .collect { case Array(k, v) => k -> v }.toMap
    def num(k: String): Option[Int] = kv.get(k).flatMap(_.toIntOption)
    for (y <- num("year"); m <- num("month"); d <- num("day"); sym <- kv.get("symbol_clean"))
      yield sym -> f"$y%04d-$m%02d-$d%02d"
  }

  /** The (symbol_clean, yyyy-MM-dd) leaves of the day-major layout
    * `year=Y/month=M/day=D/symbol_clean=S` under `tableDir` whose
    * symbol matches the glob `symbolGlob`, from one glob of the
    * directories; the calendar is parsed from the path. */
  private def layout(
      conf: org.apache.hadoop.conf.Configuration,
      tableDir: String,
      symbolGlob: String): Seq[(String, String)] = {
    val pattern = new org.apache.hadoop.fs.Path(
      s"$tableDir/year=*/month=*/day=*/symbol_clean=$symbolGlob")
    val fs = pattern.getFileSystem(conf)
    Option(fs.globStatus(pattern)).getOrElse(Array.empty).toSeq
      .filter(_.isDirectory)
      .map(_.getPath.toUri.getPath)
      .collect(leafDate)
  }

  /** S7: partitioned gzip CSV sink (header, reference column order). */
  def writeCsv(normalized: DataFrame, path: String, mode: String = "append"): Unit =
    normalized.write
      .mode(mode)
      .option("header", "true")
      .option("compression", "gzip")
      .partitionBy("symbol_clean", "year", "month", "day")
      .csv(path)

  /** S8: CSV scan with the explicit normalized schema (no inference —
    * a 100 TB listing must not pay a sampling pass). */
  def readCsv(spark: SparkSession, path: String): DataFrame = {
    import org.apache.spark.sql.types._
    // partition cols come from the directory layout; drop them from
    // the file schema
    val fileSchema = StructType(OhlcvSchemas.normalized.filterNot(f =>
      Seq("symbol_clean", "year", "month", "day").contains(f.name)))
    spark.read.option("header", "true").schema(fileSchema).csv(path)
  }

  /** ORC sink, same partition layout as the parquet table — the other
    * columnar format Spark ships natively (zlib default codec;
    * predicate pushdown + column pruning work the same way, pinned in
    * the round-trip spec). For workloads standardized on ORC readers
    * (Hive/Trino estates) this is the drop-in sibling of S9. */
  def writeOrc(normalized: DataFrame, path: String, mode: String = "append"): Unit =
    normalized.write
      .mode(mode)
      .partitionBy("year", "month", "day", "symbol_clean")
      .orc(path)

  /** ORC scan with partition discovery (sibling of S10). */
  def readOrc(spark: SparkSession, path: String): DataFrame =
    spark.read.orc(path)

  /** Bucketed + sorted table for co-located, shuffle-free joins and
    * merge-friendly scans at scale: both sides of a symbol join
    * pre-hashed into the same bucket layout means the join needs NO
    * exchange (BucketedJoinSpec pins this). `path` makes it an
    * external table; bucket count must match across join partners. */
  def writeBucketed(
      df: DataFrame,
      table: String,
      path: String,
      buckets: Int,
      sortCols: Seq[String] = Seq("timestamp_unix"),
      bucketCol: String = "symbol_clean"): Unit = {
    val w = df.write
      .mode("overwrite")
      .option("path", path)
      .bucketBy(buckets, bucketCol)
    val sorted = sortCols match {
      case head +: tail => w.sortBy(head, tail: _*)
      case _            => w
    }
    sorted.format("parquet").saveAsTable(table)
  }

  /** D2, the engine's dedup contract (SURVEY §7.4.1): one row per
    * (symbol, timestamp_unix), survivor = greatest fetch_timestamp.
    * The reference's three conflicting rules collapse to this.
    * `source_file` (when present) breaks exact fetch_timestamp ties so
    * the survivor is partition-order-independent; rows tied on both
    * are byte-identical re-reads and any survivor is correct. */
  def dedupContract(normalized: DataFrame): DataFrame = {
    val version =
      if (normalized.columns.contains("source_file"))
        Seq(col("fetch_timestamp"), col("source_file"))
      else Seq(col("fetch_timestamp"))
    Dedup.keepLatest(
      normalized,
      keys = Seq(col("symbol_clean"), col("timestamp_unix")),
      version = version)
  }

  /** A11: ETL-run metadata rollup (etl/glue_job.py:227-264), emitted
    * as a one-row DataFrame (the JDBC write S11 is a sink option, not
    * query semantics). */
  def runMetadata(normalized: DataFrame, jobName: String): DataFrame =
    normalized.agg(
      count(lit(1)).as("total_records"),
      countDistinct(col("symbol_clean")).as("distinct_symbols"),
      min(col("timestamp_unix")).as("min_ts"),
      max(col("timestamp_unix")).as("max_ts"))
      .withColumn("job_name", lit(jobName))

  /** S11 record shape: the reference's `ohlcv_metadata` row
    * (etl/glue_job.py:233-259) — path, row count, the reference's
    * rough 0.1-MB-per-record size estimate (`int(total*0.1*1024*1024)`
    * — mirrored exactly, generous as it is), ISO processing stamp,
    * resolution, distinct-symbol count — from ONE aggregate job (the
    * reference pays two separate count actions; same values). `processedAtIso` is injected like
    * every other audit stamp so runs are reproducible. */
  def rdsMetadata(
      normalized: DataFrame,
      targetPath: String,
      resolution: String,
      processedAtIso: String): DataFrame =
    normalized.agg(
      count(lit(1)).as("row_count"),
      countDistinct(col("symbol_clean")).as("symbols_count"))
      .select(
        lit(targetPath).as("s3_path"),
        col("row_count"),
        // int(total * 0.1 MB): the reference's rough estimate, exactly
        (col("row_count").cast("double") * 0.1 * 1024 * 1024).cast("long").as("file_size_bytes"),
        lit(processedAtIso).as("ingested_at"),
        lit(resolution).as("resolution"),
        col("symbols_count"))

  /** S11: JDBC sink (etl/glue_job.py:264-275) with an injectable URL /
    * driver / credentials — Postgres `ohlcv_metadata` in the reference,
    * embedded Derby in the integration spec. Spark's JDBC writer
    * creates the table on first append and batches rows per partition;
    * for the one-row metadata record that is a single INSERT. */
  def writeJdbc(
      df: DataFrame,
      url: String,
      table: String,
      properties: java.util.Properties = new java.util.Properties,
      mode: String = "append"): Unit =
    df.write.mode(mode).jdbc(url, table, properties)

  /** JDBC scan, the read twin of [[writeJdbc]] (used by the spec to
    * read the metadata row back through the same driver). */
  def readJdbc(
      spark: SparkSession,
      url: String,
      table: String,
      properties: java.util.Properties = new java.util.Properties): DataFrame =
    spark.read.jdbc(url, table, properties)
}
