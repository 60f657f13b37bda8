package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Write-side counterpart to [[FileSource]] (SURVEY §2 C5): parquet /
  * csv / json sinks with optional hash-partitioned layout, plus
  * small-file compaction.
  *
  * `partitionBy` columns become directory partitions — the layout that
  * lets a later read prune partitions instead of listing 100 TB. */
object Sink {

  def parquet(df: DataFrame, path: String, partitionBy: Seq[String] = Nil,
      mode: String = "overwrite"): Unit =
    writer(df, partitionBy, mode).parquet(path)

  def csv(df: DataFrame, path: String, header: Boolean = true,
      partitionBy: Seq[String] = Nil, mode: String = "overwrite"): Unit =
    writer(df, partitionBy, mode).option("header", header.toString).csv(path)

  def json(df: DataFrame, path: String, partitionBy: Seq[String] = Nil,
      mode: String = "overwrite"): Unit =
    writer(df, partitionBy, mode).json(path)

  def xml(df: DataFrame, path: String, partitionBy: Seq[String] = Nil,
      mode: String = "overwrite"): Unit =
    writer(df, partitionBy, mode).format("xml")
      .option("rowTag", "row").save(path)

  private def writer(df: DataFrame, partitionBy: Seq[String], mode: String) = {
    val w = df.write.mode(mode)
    if (partitionBy.nonEmpty) w.partitionBy(partitionBy: _*) else w
  }

  /** Z-ORDER a dataset into parquet (SURVEY §2 C7): scale each layout
    * column to 16 bits against its global min/max (one tiny stats
    * aggregate — 2 values per column — collected driver-side like any
    * optimizer statistic), interleave the bits into a Morton code via
    * the native codegen'd [[graft.functions.ZInterleave2]], then
    * range-partition + sort by it. Rows close in EVERY column land in
    * the same files/row groups, so parquet min/max skipping prunes
    * predicates on ANY of the columns — the multi-dimensional version
    * of the data-clustering a single-column sort gives only its leading
    * column. Supports 2 or 3 numeric columns (16/21-bit resolution:
    * finer buckets than files by orders of magnitude at any file
    * count). */
  def zorderParquet(df: DataFrame, path: String, cols: Seq[String],
      numFiles: Int, writeMode: String = "overwrite"): Unit = {
    require(cols.size == 2 || cols.size == 3, "zorder takes 2 or 3 columns")
    import org.apache.spark.sql.functions._
    graft.functions.CHFunctions.register(df.sparkSession)
    val aggExprs = cols.flatMap(c =>
      Seq(min(col(c)).cast("double"), max(col(c)).cast("double")))
    val stats = df.agg(aggExprs.head, aggExprs.tail: _*).head()
    val scaled = cols.zipWithIndex.map { case (c, i) =>
      val (mn, mx) = (stats.getDouble(2 * i), stats.getDouble(2 * i + 1))
      val width = if (mx > mn) mx - mn else 1.0
      floor((col(c).cast("double") - lit(mn)) / lit(width) * lit(65535.0))
        .cast("long")
    }
    val z = call_function("zInterleave", scaled: _*)
    df.withColumn("__zorder", z)
      .repartitionByRange(numFiles, col("__zorder"))
      .sortWithinPartitions("__zorder")
      .drop("__zorder")
      .write.mode(writeMode).parquet(path)
  }

  /** Parquet write with BLOOM FILTERS on the named columns — the
    * point-lookup complement to min/max skipping: an equality probe on
    * a high-cardinality, unsorted column (ids, hashes) can skip a row
    * group whose bloom filter excludes the value, where min/max ranges
    * exclude almost nothing. `ndv` sizes the filters (expected
    * distinct values per row group). */
  def bloomParquet(df: DataFrame, path: String, bloomCols: Seq[String],
      ndv: Long = 100000, mode: String = "overwrite"): Unit = {
    val w = df.write.mode(mode)
    val withOpts = bloomCols.foldLeft(w) { (wr, c) =>
      wr.option(s"parquet.bloom.filter.enabled#$c", "true")
        .option(s"parquet.bloom.filter.expected.ndv#$c", ndv.toString)
    }
    withOpts.parquet(path)
  }

  /** Per-file (min, max) footer statistics for one integral column —
    * metadata reads only. The evidence a layout pass (zorder, sorted
    * write) actually clustered the data, and the basis for manual
    * file-level pruning decisions. */
  def fileColumnRanges(spark: SparkSession, path: String,
      column: String): Seq[(String, Long, Long)] = {
    import scala.jdk.CollectionConverters._
    val hconf = spark.sparkContext.hadoopConfiguration
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(hconf)
    fs.listStatus(p).toSeq
      .filter(s => s.isFile && s.getPath.getName.endsWith(".parquet"))
      .map { st =>
        withFooter(st, hconf) { reader =>
          val stats = reader.getRowGroups.asScala.flatMap(
            _.getColumns.asScala
              .filter(_.getPath.toDotString == column).map(_.getStatistics))
          val mins = stats.map(_.genericGetMin.asInstanceOf[Number].longValue)
          val maxs = stats.map(_.genericGetMax.asInstanceOf[Number].longValue)
          (st.getPath.getName, mins.min, maxs.max)
        }
      }
  }

  /** True iff the column chunk metadata carries a bloom filter (used
    * by the spec to prove [[bloomParquet]] wrote them). */
  def hasBloomFilter(spark: SparkSession, path: String,
      column: String): Boolean = {
    import scala.jdk.CollectionConverters._
    val hconf = spark.sparkContext.hadoopConfiguration
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(hconf)
    fs.listStatus(p)
      .filter(s => s.isFile && s.getPath.getName.endsWith(".parquet"))
      .exists { st =>
        withFooter(st, hconf)(_.getRowGroups.asScala.exists(
          _.getColumns.asScala.exists(c =>
            c.getPath.toDotString == column && c.getBloomFilterOffset >= 0)))
      }
  }

  /** Reads one parquet file's footer with the given Hadoop conf.
    * `ParquetFileReader.open(InputFile)` alone builds default read
    * options over a fresh `Configuration`, which re-parses Hadoop's
    * XML defaults from the classpath on every file. */
  def withFooter[T](st: org.apache.hadoop.fs.FileStatus,
      conf: org.apache.hadoop.conf.Configuration)(
      read: org.apache.parquet.hadoop.ParquetFileReader => T): T = {
    val reader = org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromStatus(st, conf),
      org.apache.parquet.HadoopReadOptions.builder(conf).build())
    try read(reader) finally reader.close()
  }

  /** Compact a parquet directory to ~`targetFileBytes` output files —
    * the maintenance pass every incrementally-written table needs:
    * streaming sinks and per-batch appends leave thousands of small
    * files whose open/footer costs dominate a later 100 TB scan.
    *
    * File count is sized from the directory's actual on-disk bytes
    * (driver-side listing, no data read), the rows flow through ONE
    * `coalesce` — a narrow, shuffle-free repack — and the rewrite goes
    * to a staging path first so a crash mid-compaction can never
    * destroy the source directory. Returns (files before, files after).
    */
  def compactParquet(
      spark: SparkSession,
      path: String,
      targetFileBytes: Long = 128L * 1024 * 1024): (Int, Int) = {
    val hconf = spark.sparkContext.hadoopConfiguration
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(hconf)
    val parts = fs.listStatus(p)
      .filter(s => s.isFile && s.getPath.getName.endsWith(".parquet"))
    val totalBytes = parts.map(_.getLen).sum
    val nOut = math.max(1, math.ceil(totalBytes.toDouble / targetFileBytes).toInt)
    if (parts.length <= nOut) return (parts.length, parts.length)

    val staging = new org.apache.hadoop.fs.Path(
      p.getParent, s".${p.getName}.compact.tmp")
    fs.delete(staging, true)
    spark.read.parquet(path).coalesce(nOut)
      .write.mode("overwrite").parquet(staging.toString)
    // swap: the old directory disappears only after the new one is
    // fully written; rename is atomic per directory on HDFS-like stores
    val backup = new org.apache.hadoop.fs.Path(
      p.getParent, s".${p.getName}.compact.old")
    fs.delete(backup, true)
    if (!fs.rename(p, backup))
      throw new java.io.IOException(s"compact: cannot stage out $p")
    if (!fs.rename(staging, p)) {
      fs.rename(backup, p) // restore on failure
      throw new java.io.IOException(s"compact: cannot publish $staging")
    }
    fs.delete(backup, true)
    val after = fs.listStatus(p)
      .count(s => s.isFile && s.getPath.getName.endsWith(".parquet"))
    (parts.length, after)
  }
}
