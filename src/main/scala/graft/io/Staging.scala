package graft.io

import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions.{broadcast, col, floor, greatest,
  least, lit, max, min, shiftleft, shiftright}
import org.apache.spark.sql.types.StructType

/** Sources and sinks F1-F6 (SURVEY.md §2.1).
  *
  * The reference stages everything as timestamped CSVs under an object
  * -store prefix (`data/utils.py`), appends new rows into an
  * operational store (`transformation_db.py:116`), and truncate-loads
  * a derived mart (`transformation_dw.py:154-156` et al.). Here the
  * staging layer is the `*.csv` entries of a directory and the stores
  * are parquet directories — same topology, engine-native formats. On
  * a cluster the paths are object-store URIs; nothing else changes.
  *
  * Every file-system call here resolves through [[Fs.get]] and every
  * path write starts from [[Fs.write]], so a local store's
  * directories and files get their mode bits without a forked
  * `chmod` process (see [[Fs]]).
  */
object Staging {

  /** Scheme-agnostic listing: the `*.csv` entries directly under
    * `prefix` (files, or the directories a Spark CSV write leaves).
    * Resolved through Hadoop's [[org.apache.hadoop.fs.FileSystem]] so
    * the same code answers correctly for `file:`, `hdfs:`, `s3a:`,
    * `gs:` — the reference's staging layer IS an object store
    * (`data/utils.py:28-34` lists GCS blobs), and a `java.io.File`
    * probe there would silently report "no files" and turn the
    * operational load into a no-op. The readers scan exactly these
    * paths: the one listing answers both "is there anything to load"
    * and "what", and Spark is never handed the glob pattern as a
    * path (its sink-metadata check would stat the pattern literally
    * and log a `FileNotFoundException` per read). */
  private def csvPaths(spark: SparkSession, prefix: String): Seq[String] = {
    val path = new org.apache.hadoop.fs.Path(s"$prefix/*.csv")
    Option(Fs.get(spark, path).globStatus(path)).toSeq.flatten
      .map(_.getPath.toString)
  }

  /** F1 — multi-file CSV scan: read every `*.csv` under a prefix and
    * union (reference `load_csv_from_gcs_to_df`, utils.py:28-45).
    * Spark globs + unions natively and splits large files; the schema
    * is explicit instead of per-file inferred. Missing/empty prefix →
    * empty frame (reference utils.py:43-45 fallback), as an empty
    * LOCAL relation: the file probe has already answered "is there
    * anything to load", and a consumer reads that answer from the plan
    * (`OperationalLoad`'s empty-batch skip) instead of a scan. */
  def readCsvPrefix(spark: SparkSession, prefix: String,
                    schema: StructType): DataFrame = {
    val paths = csvPaths(spark, prefix)
    if (paths.isEmpty)
      spark.createDataFrame(java.util.List.of[org.apache.spark.sql.Row](),
        schema)
    else spark.read.option("header", "true").schema(schema).csv(paths: _*)
  }

  /** F1 with row-level error isolation: the reference catches
    * exceptions per record and skips them (extraction.py:160-165).
    * The Spark form is PERMISSIVE parsing with a corrupt-record
    * column: malformed rows are captured, well-formed rows load.
    * Returns (clean rows, corrupt raw lines).
    *
    * SCALE NOTE: `cache = true` (the default) caches the parsed input
    * so the clean/corrupt split is one parse; Spark requires a
    * materialization boundary before filtering `_corrupt_record`
    * anyway. At 100 TB staging batches a full-input cache is the
    * wrong trade — pass `cache = false` to parse the prefix twice
    * instead (two streaming scans, zero memory footprint; the
    * `spark.read.json/csv`-equivalent of a `badRecordsPath` sink). */
  def readCsvPrefixIsolated(spark: SparkSession, prefix: String,
                            schema: StructType,
                            cache: Boolean = true): (DataFrame, DataFrame) = {
    val withCorrupt = StructType(schema.fields :+
      org.apache.spark.sql.types.StructField("_corrupt_record",
        org.apache.spark.sql.types.StringType))
    def parse() = {
      val paths = csvPaths(spark, prefix)
      if (paths.isEmpty) spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], withCorrupt)
      else {
        val df = spark.read
          .option("header", "true")
          .option("mode", "PERMISSIVE")
          .option("columnNameOfCorruptRecord", "_corrupt_record")
          .schema(withCorrupt)
          .csv(paths: _*)
        // corrupt-record access requires a materialization boundary
        // when the query touches ONLY the corrupt column (Spark
        // disallows that on the streaming parse path)
        if (cache) df.cache() else df
      }
    }
    val raw = parse()
    val raw2 = if (cache) raw else parse()
    val clean = raw.filter(raw("_corrupt_record").isNull)
      .drop("_corrupt_record")
    // keep a real column referenced on the uncached path so the scan
    // is never corrupt-column-only (the restriction above), then drop
    val corrupt = raw2.filter(raw2("_corrupt_record").isNotNull)
      .select("_corrupt_record", schema.fieldNames.head)
      .select("_corrupt_record")
    (clean, corrupt)
  }

  /** F2 — timestamped CSV sink: `{base}_{yyyyMMdd_HHmmss}.csv`
    * (reference `save_df_to_gcs`, utils.py:6-26). The reference writes
    * one blob; we keep that contract for small staging batches via
    * coalesce(1) — large frames should use [[appendParquet]] instead. */
  def writeCsvStamped(df: DataFrame, prefix: String,
                      baseName: String): String = {
    val stamp = java.time.format.DateTimeFormatter
      .ofPattern("yyyyMMdd_HHmmss").withZone(java.time.ZoneOffset.UTC)
      .format(java.time.Instant.now())
    val path = s"$prefix/${baseName}_$stamp.csv"
    Fs.write(df.coalesce(1)).option("header", "true")
      .mode(SaveMode.Overwrite).csv(path)
    path
  }

  /** F4 — full-table scan of an operational store table. */
  def readTable(spark: SparkSession, storeDir: String,
                table: String): DataFrame =
    spark.read.parquet(s"$storeDir/$table")

  /** Scheme-agnostic existence probe (see [[csvPaths]]): a
    * `java.io.File` check here would make [[ensureTable]] re-truncate
    * and `loadIfNew` skip its anti-join (double-append) the moment the
    * store lives on an object store. */
  def tableExists(spark: SparkSession, storeDir: String,
                  table: String): Boolean = {
    val path = new org.apache.hadoop.fs.Path(s"$storeDir/$table")
    val fs = Fs.get(spark, path)
    fs.exists(path)
  }

  /** F5 — append sink (reference `to_sql(if_exists='append')`,
    * transformation_db.py:116). */
  def appendParquet(df: DataFrame, storeDir: String, table: String): Unit =
    Fs.write(df).mode(SaveMode.Append).parquet(s"$storeDir/$table")

  /** Partitioned append: new files land inside the partition dirs,
    * existing files are never touched (the layout the incremental IVF
    * postings store uses so probes read only their partitions). */
  def appendPartitioned(df: DataFrame, storeDir: String, table: String,
                        partitionCols: Seq[String]): Unit =
    Fs.write(df).mode(SaveMode.Append)
      .partitionBy(partitionCols: _*)
      .parquet(s"$storeDir/$table")

  /** F6 — truncate-load sink (reference BigQuery WRITE_TRUNCATE,
    * transformation_dw.py:154-156). */
  def overwriteParquet(df: DataFrame, storeDir: String,
                       table: String): Unit =
    Fs.write(df).mode(SaveMode.Overwrite).parquet(s"$storeDir/$table")

  /** Store-format marker: a tiny `_graft_<name>` file beside an
    * index/store's tables holding a format-version string. Readers
    * probe it to decide whether a persisted layout predates an
    * on-disk-format change (e.g. the sorted `__tokset` arrays the
    * incremental-minhash verify kernel requires since r13) and fall
    * back to a defensive normalization instead of silently
    * mis-reading legacy data. Hadoop-FS (scheme-agnostic), same
    * reasoning as [[tableExists]]; overwrite is atomic-enough for a
    * single small file written once at store creation. */
  def writeMarker(spark: SparkSession, storeDir: String, name: String,
                  value: String): Unit = {
    val path = new org.apache.hadoop.fs.Path(s"$storeDir/_graft_$name")
    val fs = Fs.get(spark, path)
    val out = fs.create(path, true)
    try out.write(value.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
  }

  /** Read a [[writeMarker]] stamp; None when the marker is absent
    * (legacy store or fresh dir). */
  def readMarker(spark: SparkSession, storeDir: String,
                 name: String): Option[String] = {
    val path = new org.apache.hadoop.fs.Path(s"$storeDir/_graft_$name")
    val fs = Fs.get(spark, path)
    if (!fs.exists(path)) None
    else {
      val in = fs.open(path)
      try {
        val bytes = new Array[Byte](256)
        val n = math.max(0, in.read(bytes))
        Some(new String(bytes, 0, n,
          java.nio.charset.StandardCharsets.UTF_8).trim)
      } finally in.close()
    }
  }

  /** F6 at the 100 TB form — partition-scoped truncate-load: the
    * frame is written `partitionBy(partitionCols)` with DYNAMIC
    * partition overwrite, so only the partitions the frame actually
    * emits are replaced; every other partition's files are untouched.
    * Rebuilding one day of a date-partitioned fact table is then a
    * one-day write, not a full-table rewrite (SCALING.md names this
    * as the replaceWhere-style scale path for the mart). The option
    * is set per-write, not session-wide, so plain [[overwriteParquet]]
    * keeps its whole-table truncate semantics. */
  def overwritePartitionsDynamic(df: DataFrame, storeDir: String,
                                 table: String,
                                 partitionCols: Seq[String]): Unit =
    Fs.write(df).mode(SaveMode.Overwrite)
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy(partitionCols: _*)
      .parquet(s"$storeDir/$table")

  /** Clustered (sorted) write: range-partition the frame on
    * `clusterCols` and sort within each partition before writing, so
    * every output file covers a NARROW, near-disjoint key range. The
    * payoff is file/row-group SKIPPING: parquet footers carry per-
    * column min/max stats, and a pushed-down predicate on the cluster
    * key then eliminates the files/row groups whose range can't match
    * — on a 100 TB table a point or range query reads a handful of
    * files instead of all of them. Unclustered writes spread every
    * key across every file (each file's [min,max] ≈ the full domain),
    * making the same stats useless. The physical property (disjoint
    * per-file ranges) is asserted from the actual parquet footers in
    * ClusteringSpec, not assumed. `repartitionByRange` samples the
    * data to pick balanced boundaries — one extra pass, the standard
    * price of clustering at write time, amortized over every
    * subsequent pruned read. */
  def writeClusteredBy(df: DataFrame, storeDir: String, table: String,
                       clusterCols: Seq[String], files: Int): Unit = {
    val clustered = df.repartitionByRange(files, clusterCols.map(col): _*)
      .sortWithinPartitions(clusterCols.map(col): _*)
    Fs.write(clustered).mode(SaveMode.Overwrite)
      .parquet(s"$storeDir/$table")
  }

  /** Z-order (Morton-curve) clustered write over TWO numeric
    * dimensions: each row's dimensions are bucketed to `2^bits` cells
    * and the cell ids bit-interleaved into one z-value; range
    * partitioning + in-partition sort on z makes every file cover a
    * compact RECTANGLE of the 2-D key space, so footer min/max stats
    * prune files on predicates over EITHER dimension (or both) — the
    * property single-key clustering ([[writeClusteredBy]]) only gives
    * the leading key. Asserted from actual footers in ClusteringSpec.
    *
    * Bucketing is linear over each dimension's observed [min, max]
    * (one tiny agg, broadcast back — no driver-side pass over data).
    * Heavily skewed dimensions would want quantile boundaries instead
    * (same z-map, different bucket function); linear keeps the map a
    * pure codegen'd expression. The interleave itself unrolls to
    * `2*bits` constant shift/or terms inside whole-stage codegen. */
  def writeZOrdered(df: DataFrame, storeDir: String, table: String,
                    colA: String, colB: String, files: Int,
                    bits: Int = 12): Unit = {
    val stats = df.agg(
      min(col(colA)).cast("double").as("__alo"),
      max(col(colA)).cast("double").as("__ahi"),
      min(col(colB)).cast("double").as("__blo"),
      max(col(colB)).cast("double").as("__bhi"))
    val cells = (1L << bits) - 1
    def bucket(c: String, lo: Column, hi: Column): Column =
      least(lit(cells), greatest(lit(0L),
        floor((col(c).cast("double") - lo) /
          ((hi - lo) / lit(cells.toDouble) + lit(Double.MinPositiveValue)))
          .cast("bigint")))
    def interleave(a: Column, b: Column): Column =
      (0 until bits).foldLeft(lit(0L)) { (z, i) =>
        z.bitwiseOR(shiftleft(shiftright(a, i).bitwiseAND(lit(1L)),
            2 * i + 1))
          .bitwiseOR(shiftleft(shiftright(b, i).bitwiseAND(lit(1L)),
            2 * i))
      }
    val zordered = df.crossJoin(broadcast(stats))
      .withColumn("__z", interleave(
        bucket(colA, col("__alo"), col("__ahi")),
        bucket(colB, col("__blo"), col("__bhi"))))
      .drop("__alo", "__ahi", "__blo", "__bhi")
      .repartitionByRange(files, col("__z"))
      .sortWithinPartitions(col("__z"))
      .drop("__z")
    Fs.write(zordered).mode(SaveMode.Overwrite).parquet(s"$storeDir/$table")
  }

  /** D1/D2 — ensure a store table exists with its declared schema
    * (reference CREATE TABLE IF NOT EXISTS, transformation_db.py:11-89,
    * transformation_dw.py:6-120). Parquet stores are schema-on-write,
    * so "create if not exists" = write one zero-row file once
    * ([[ParquetFooters.writeEmpty]]): a footer holding the schema,
    * written on the driver with no Spark job. An existing table is
    * left as it is. */
  def ensureTable(spark: SparkSession, storeDir: String, table: String,
                  schema: StructType): Unit =
    if (!tableExists(spark, storeDir, table))
      ParquetFooters.writeEmpty(spark, s"$storeDir/$table", schema)
}
