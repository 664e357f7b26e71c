package graft.io

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.parquet.column.ParquetProperties
import org.apache.parquet.hadoop.{ParquetFileWriter, ParquetWriter}
import org.apache.parquet.hadoop.util.HadoopOutputFile
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.datasources.parquet.{
  ParquetReadSupport, SparkToParquetSchemaConverter}
import org.apache.spark.sql.types.StructType

/** Parquet FOOTER metadata, read and written on the driver: exact row
  * counts in place of `spark.read.parquet(dir).count()`, and a table
  * with a schema and no rows in place of an empty-frame Spark write.
  *
  * Reading. Every store commit in this repo returns the post-commit
  * row count (the operator's acknowledgement surface). Computing it as
  * a Spark `count()` pays, per commit: a driver file listing, a schema
  * inference footer pass, a job submission, and a full task wave —
  * pure fixed cost that the guide's "remove work you throw away"
  * rule (§1.2) says to delete, since parquet footers already record
  * exact per-block row counts. Summing them is metadata-only I/O:
  * no task launch, no row decode, no schema inference. The value is
  * bit-identical to the count job's by construction (the parquet
  * spec requires exact counts; Spark's own metadata-only count
  * optimization relies on the same invariant).
  *
  * Writing. A zero-row table is metadata too: one parquet file with no
  * row group, whose footer holds the schema. [[writeEmpty]] writes it
  * from the driver, so DDL (`Staging.ensureTable`) and the emptied
  * versions of [[VersionedStore]] start no Spark job; any frame with
  * rows still goes through Spark's writer. The footer carries Spark's
  * row-metadata key (the Catalyst schema as JSON), as Spark's own
  * writer does. Spark's reader takes the schema from that key when it
  * is there; the parquet schema has no place for what Catalyst keeps
  * beside the types (column comments and other field metadata,
  * `CHAR`/`VARCHAR` lengths), so without the key an inference or
  * `mergeSchema` read can return a `StructType` other than the one
  * declared. With it, inference, requested-schema and `mergeSchema`
  * reads return the declared schema, as for a file Spark wrote.
  *
  * Crash window: the file is written under a hidden `.`-prefixed name
  * and renamed into place, so a reader never sees a partial file. A
  * crash before the rename leaves a directory with no visible data
  * file (at most the hidden partial one), which is what Spark's
  * committer leaves when a job dies before its commit.
  *
  * Scale posture: footer reads are one small ranged read per file,
  * parallelized across a bounded pool. Files-per-commit is bounded
  * by the commit's write parallelism (not by table size — the
  * VersionedStore partitioned path only writes TOUCHED partitions),
  * so the driver-side cost stays proportional to the batch, never
  * the store. An empty-table write is one file of a few hundred bytes
  * whatever the cluster size. A table format with manifest row counts
  * (Iceberg, Delta) makes this a pure metadata lookup; this is the
  * raw-parquet analog.
  */
object ParquetFooters {

  /** Recursively list data files under `dir`, skipping hidden
    * files/dirs (`_` / `.` prefixes) exactly as Spark's file index
    * does. A missing dir contributes no files (matches the explicit-
    * schema read of an all-empty dynamic-partition write). */
  private def dataFiles(fs: FileSystem, dir: Path): Seq[FileStatus] = {
    if (!fs.exists(dir)) return Nil
    fs.listStatus(dir).toSeq.flatMap { st =>
      val name = st.getPath.getName
      if (name.startsWith("_") || name.startsWith(".")) Nil
      else if (st.isDirectory) dataFiles(fs, st.getPath)
      else Seq(st)
    }
  }

  /** Sum of footer row counts over every data file under `dirs`.
    * Footer reads run on the JVM common pool when the file count
    * makes it worthwhile. */
  def rowCount(spark: SparkSession, dirs: Seq[String]): Long = {
    val conf = spark.sessionState.newHadoopConf()
    val files: Array[FileStatus] = dirs.iterator.flatMap { d =>
      val p = new Path(d)
      dataFiles(Fs.get(p, conf), p)
    }.toArray
    def countOf(st: FileStatus): Long = {
      val in = org.apache.parquet.hadoop.util.HadoopInputFile
        .fromStatus(st, conf)
      val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
      try r.getRecordCount finally r.close()
    }
    if (files.length <= 4) files.iterator.map(countOf).sum
    else java.util.Arrays.stream(files).parallel()
      .mapToLong(st => countOf(st)).sum()
  }

  /** Write `schema` as a table with no rows: one `part-…parquet` file
    * under `dir` (created if absent) whose footer has no row group,
    * Spark's parquet schema for `schema` under the session's conf, and
    * the row-metadata key (header). Starts no Spark job. */
  def writeEmpty(spark: SparkSession, dir: String,
                 schema: StructType): Unit = {
    val conf = Fs.localWrites(spark.sessionState.newHadoopConf())
    val root = new Path(dir)
    val fs = Fs.get(root, conf)
    val name = s"part-00000-${java.util.UUID.randomUUID()}-c000.parquet"
    val hidden = new Path(root, s".$name")
    val w = new ParquetFileWriter(HadoopOutputFile.fromPath(hidden, conf),
      new SparkToParquetSchemaConverter(spark.sessionState.conf)
        .convert(schema),
      ParquetFileWriter.Mode.CREATE, ParquetWriter.DEFAULT_BLOCK_SIZE,
      ParquetWriter.MAX_PADDING_SIZE_DEFAULT, null,
      ParquetProperties.builder().build())
    w.start()
    w.end(java.util.Map.of(ParquetReadSupport.SPARK_METADATA_KEY,
      schema.json))
    if (!fs.rename(hidden, new Path(root, name)))
      throw new java.io.IOException(s"rename $hidden -> $name failed")
  }
}
