package graft

import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Conversion entry point + CLI — the Spark equivalent of the reference's
  * binary (R11, /root/reference/src/main.rs:7-68): same flags, same
  * dispatch-on-extension, exit 1 with the error on stderr on failure.
  *
  * `--batch-size` carries the reference's row-group contract (R8,
  * /root/reference/src/lib.rs:281: one write batch = one parquet row
  * group): it maps to parquet-mr's `parquet.block.row.count.limit`, so
  * every row group holds exactly `batchSize` rows (last group partial) —
  * the byte-based `parquet.block.size` threshold never fires first at
  * these row widths. `batchSize = 0` disables the limit and delegates to
  * the byte-based writer, the right choice for analytics outputs where
  * larger groups scan faster.
  *
  * Scale: one input file = one task. A 100 TB conversion is many files;
  * `convertMany` fans out per-file conversions across the cluster while
  * each file streams through the single-pass DSv2 reader.
  */
object ExcelToParquet {

  final case class Options(
      input: String,
      output: String,
      sheetName: Option[String] = None,
      sheetIndex: Option[Int] = None,
      skipRows: Int = 0,
      batchSize: Int = 5000,
      writePartitions: Int = 1,
      // >1: splittable single-sheet scan (byte-range partitions of the
      // inflated sheet XML; xlsx with r= refs only — see SCALING.md)
      sheetPartitions: Int = 1)

  def read(spark: SparkSession, opts: Options): DataFrame = {
    val r = spark.read.format("excel")
    opts.sheetName.foreach(n => r.option("sheetName", n))
    opts.sheetIndex.foreach(i => r.option("sheetIndex", i))
    if (opts.sheetPartitions > 1)
      r.option("sheetPartitions", opts.sheetPartitions)
    r.option("skipRows", opts.skipRows).load(opts.input)
  }

  /** Convert workbook sheet(s) to a zstd parquet file; returns the number
    * of rows committed to `opts.output`: the sum of the record counts in
    * the footers of its committed part files, read on the driver. There
    * is no read-back job, so a conversion with `writePartitions = 1` runs
    * exactly one Spark job.
    * A plain file keeps the reference's extension contract (exit-1 on
    * anything but .xlsx/.xlsb); a directory or glob converts every matched
    * workbook in one N-task job (the source plans one partition per file),
    * writing part files in lexicographic file order.
    */
  def convert(spark: SparkSession, opts: Options): Long = {
    val lower = opts.input.toLowerCase
    val multi = lower.exists("*?[{".contains(_)) ||
      java.nio.file.Files.isDirectory(java.nio.file.Paths.get(opts.input))
    if (!multi && !lower.endsWith(".xlsx") && !lower.endsWith(".xlsb"))
      throw new IllegalArgumentException(
        s"Unsupported file extension for input: ${opts.input} (expected .xlsx or .xlsb)")
    val df = read(spark, opts)
    if (opts.writePartitions > 1) writeParallel(df, opts)
    else {
      val w = df.write.mode("overwrite").option("compression", "zstd")
      withGroupGeometry(w, opts).parquet(opts.output)
    }
    committedRows(spark, opts.output)
  }

  /** Rows in the part files of a committed parquet directory, from their
    * footers. Names starting with `_` or `.` (`_SUCCESS`, checksums) are
    * skipped, as Spark's file index skips them.
    */
  private def committedRows(spark: SparkSession, dir: String): Long = {
    import org.apache.hadoop.fs.Path
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    val conf = spark.sessionState.newHadoopConf()
    val path = new Path(dir)
    path.getFileSystem(conf).listStatus(path)
      .filter(st => st.isFile && !st.getPath.getName.startsWith("_") &&
        !st.getPath.getName.startsWith("."))
      .map { st =>
        val r = ParquetFileReader.open(HadoopInputFile.fromStatus(st, conf))
        try r.getRecordCount finally r.close()
      }.sum
  }

  /** R8: one write batch = one row group. DataFrameWriter options reach
    * the task-side hadoop conf (`newHadoopConfWithOptions`), where
    * parquet-mr 1.16 enforces the row-count limit per group.
    */
  private def withGroupGeometry[T](
      w: org.apache.spark.sql.DataFrameWriter[T],
      opts: Options): org.apache.spark.sql.DataFrameWriter[T] =
    if (opts.batchSize > 0)
      w.option("parquet.block.row.count.limit", opts.batchSize)
    else w

  /** Order-preserving parallel encode for one huge workbook (the serial
    * tail of a single-file conversion is the parquet encode, not the
    * parse — the chunk-parallel scan feeds a single writer task). Rows
    * are tagged with `monotonically_increasing_id()` — sequential within
    * each scan partition and ordered across partitions by partition id,
    * i.e. exactly sheet/file order — then range-partitioned on that id
    * and sorted within partitions, so lexicographic part-file order
    * reproduces global row order (same guarantee the reference's
    * reorder-buffer writer provides, /root/reference/src/lib.rs:288-320).
    * The parsed rows are persisted once so the range partitioner's
    * boundary-sampling job does not re-parse the workbook.
    */
  private def writeParallel(df: DataFrame, opts: Options): Unit = {
    import org.apache.spark.sql.functions.{col, monotonically_increasing_id}
    val tagged = df.withColumn("_graft_row", monotonically_increasing_id())
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val w = tagged
        .repartitionByRange(opts.writePartitions, col("_graft_row"))
        .sortWithinPartitions("_graft_row")
        .drop("_graft_row")
        .write.mode("overwrite").option("compression", "zstd")
      withGroupGeometry(w, opts).parquet(opts.output)
    } finally tagged.unpersist(false)
  }

  /** Fan out many independent file conversions. Each conversion is its
    * own Spark job (the per-sheet scan is one task), so driver-side
    * concurrency is what fills the cluster: jobs are submitted from a
    * bounded pool and Spark's scheduler interleaves their tasks across
    * executors. Returns (input, rowCount-or-error) per file; the error is
    * the exception's class name and message. Fatal errors and interrupts
    * are not captured: they fail the whole call.
    */
  def convertMany(
      spark: SparkSession,
      jobs: Seq[Options],
      parallelism: Int = 8): Seq[(String, Either[String, Long])] = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(
      math.max(1, math.min(parallelism, jobs.size)))
    implicit val ec: scala.concurrent.ExecutionContext =
      scala.concurrent.ExecutionContext.fromExecutorService(pool)
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration.Duration
    try {
      val futures = jobs.map { opts =>
        Future {
          opts.input -> (try Right(convert(spark, opts))
          catch { case NonFatal(e) => Left(e.toString) })
        }
      }
      Await.result(Future.sequence(futures), Duration.Inf)
    } finally pool.shutdown()
  }

  /** Incremental fan-out: skip inputs already recorded in a conversion
    * manifest with an unchanged (size, mtime) signature, convert the
    * rest, and rewrite the manifest with the successful conversions.
    * This is what makes a 100 TB ingestion RESUMABLE: re-running the
    * same job after a partial failure (or on a grown input directory)
    * converts only new/changed workbooks. The manifest is itself a tiny
    * parquet table (one row per input file — file-count scale, not data
    * scale), readable as a conversion audit log. It is replaced by
    * renames only, so a crash at any step leaves either the manifest or a
    * committed copy that the next run moves into place.
    *
    * Returns (results for converted inputs, skipped input paths).
    */
  def convertManyIncremental(
      spark: SparkSession,
      jobs: Seq[Options],
      manifestPath: String,
      parallelism: Int = 8): (Seq[(String, Either[String, Long])], Seq[String]) = {
    import org.apache.hadoop.fs.Path
    val conf = spark.sessionState.newHadoopConf()
    val mPath = new Path(manifestPath)
    val mFs = mPath.getFileSystem(conf)
    val tmp = new Path(manifestPath + ".graft-tmp")
    val old = new Path(manifestPath + ".graft-old")
    def move(from: Path, to: Path): Unit =
      if (!mFs.rename(from, to))
        throw new java.io.IOException(s"could not move $from to $to")

    // Finish a swap (below) that a crash interrupted: with the manifest
    // set aside, the committed tmp is the newest manifest.
    if (!mFs.exists(mPath) && mFs.exists(new Path(tmp, "_SUCCESS")))
      move(tmp, mPath)
    mFs.delete(old, true)

    val prior: Map[String, (Long, Long, Long)] =
      if (mFs.exists(mPath))
        spark.read.parquet(manifestPath)
          .select("input", "length", "mtime", "rows")
          .collect()
          .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3))))
          .toMap
      else Map.empty

    def signature(input: String): Option[(Long, Long)] = {
      val p = new Path(input)
      val fs = p.getFileSystem(conf)
      if (fs.exists(p)) {
        val st = fs.getFileStatus(p)
        Some((st.getLen, st.getModificationTime))
      } else None
    }

    val sigs = jobs.map(j => j.input -> signature(j.input)).toMap
    val (skip, todo) = jobs.partition { j =>
      sigs(j.input).exists { case (len, mt) =>
        prior.get(j.input).exists { case (pl, pm, _) => pl == len && pm == mt }
      }
    }
    val results = convertMany(spark, todo, parallelism)

    // New manifest = prior entries (still-valid work from any batch,
    // including failed retries whose signature no longer matches and
    // will re-run next time) overlaid with this batch's successes.
    val converted = results.toMap.collect { case (in, Right(rows)) => in -> rows }
    val manifest = prior.filter { case (in, _) => !converted.contains(in) } ++
      converted.flatMap { case (in, rows) =>
        sigs(in).map { case (len, mt) => in -> ((len, mt, rows)) }
      }
    // Swap by renames, so a crash at any step leaves either the manifest
    // or a committed tmp for the recovery above; the old copy is deleted
    // only once it is out of the way.
    import spark.implicits._
    manifest.toSeq.map { case (in, (len, mt, rows)) => (in, len, mt, rows) }
      .toDF("input", "length", "mtime", "rows")
      .coalesce(1).write.mode("overwrite").parquet(tmp.toString)
    if (mFs.exists(mPath)) move(mPath, old)
    move(tmp, mPath)
    mFs.delete(old, true)
    (results, skip.map(_.input))
  }

  def main(args: Array[String]): Unit = {
    var input: Option[String] = None
    var output: Option[String] = None
    var sheetName: Option[String] = None
    var sheetIndex: Option[Int] = None
    var skipRows = 0
    var batchSize = 5000
    var writePartitions = 1
    var sheetPartitions = 1
    var i = 0
    try {
      while (i < args.length) {
        args(i) match {
          case "-i" | "--input"  => input = Some(args(i + 1)); i += 2
          case "-o" | "--output" => output = Some(args(i + 1)); i += 2
          case "--sheet-name"    => sheetName = Some(args(i + 1)); i += 2
          case "--sheet-index"   => sheetIndex = Some(args(i + 1).toInt); i += 2
          case "--skip-rows"     => skipRows = args(i + 1).toInt; i += 2
          case "--batch-size"    => batchSize = args(i + 1).toInt; i += 2
          case "--write-partitions" => writePartitions = args(i + 1).toInt; i += 2
          case "--sheet-partitions" => sheetPartitions = args(i + 1).toInt; i += 2
          case other => throw new IllegalArgumentException(s"Unknown argument: $other")
        }
      }
      val opts = Options(
        input.getOrElse(throw new IllegalArgumentException("missing -i/--input")),
        output.getOrElse(throw new IllegalArgumentException("missing -o/--output")),
        sheetName, sheetIndex, skipRows, batchSize, writePartitions,
        sheetPartitions)
      val spark = GraftSession.local()
      val t0 = System.nanoTime()
      val rows = convert(spark, opts)
      println(f"Converted ${opts.input} -> ${opts.output}: $rows rows in ${(System.nanoTime() - t0) / 1e9}%.2f s")
      spark.stop()
    } catch {
      case e: Throwable =>
        System.err.println(s"Error: ${e.getMessage}")
        sys.exit(1)
    }
  }
}
