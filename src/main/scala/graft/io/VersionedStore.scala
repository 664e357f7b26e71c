package graft.io

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}

/** Store mutations: the one path for upsert and delete by key on a
  * parquet table, whole-table ([[mergeUpsert]], [[deleteKeys]]) or
  * partition-granular on one partition column
  * ([[mergeUpsertPartitioned]], [[deleteKeysPartitioned]]), and for
  * the whole-table rewrite of a state table whose next state reads
  * its current one ([[commitTransform]]: the rollup and sketch stores
  * of [[graft.etl.RollupMaintain]], the SCD2 history of
  * [[graft.etl.ScdHistory]]). Every mutation commits a new immutable
  * version; nothing a reader can see is ever renamed, so the commit
  * is atomic on HDFS/POSIX and on S3-style object stores alike (where
  * a rename is a non-atomic copy+delete).
  *
  * Layout: `<storeDir>/<table>/_v_<000000N>/data/part-*.parquet`
  * (immutable once committed) + `_v_<N>/_COMMIT` (a one-line JSON
  * marker) + an advisory `<table>/_MANIFEST` pointer.
  *
  * THE COMMIT POINT is the completed write of `_COMMIT` — a single
  * small object. On S3 that write is one atomic PUT; on HDFS/POSIX
  * `create()` exposes an empty file before its bytes land, so readers
  * treat a marker that is empty or unparsable as NOT committed (see
  * [[markerCommitted]]) — the commit point is then the close() that
  * makes the bytes durable, and a crash mid-write reads as
  * uncommitted on every store. Readers resolve the current version by
  * listing version dirs and taking the highest with a VALID `_COMMIT`
  * marker; a version directory without one is invisible, whatever
  * half-written state its `data/` holds. The Spark committer's own
  * internal task-file renames all happen INSIDE the uncommitted
  * `data/` dir, so their non-atomicity on an object store costs
  * time, never correctness (StoreOpsSpec drills the protocol on a
  * filesystem whose rename is literally copy+delete).
  *
  * Crash windows (single writer per table):
  *   - dies during the data write → no `_COMMIT`, readers unaffected;
  *     the dead dir is cleared by the next commit;
  *   - dies after `_COMMIT`, before manifest/prune → the commit IS
  *     durable (readers list), the manifest is advisory and refreshed
  *     by the next commit, stale versions prune then too;
  *   - the batch is REPLAYED after any of the above → `batchId`
  *     dedup: a commit whose batchId matches ANY retained version's
  *     is acknowledged as already applied, no new version (detection
  *     window = `keepVersions`, see [[appliedBatchIds]]) — exactly-once
  *     semantics the operator never has to hand-repair.
  *
  * Old versions are kept `keepVersions` deep (cheap time-travel /
  * debugging, bounded storage); pruning happens strictly AFTER the
  * new marker lands, so a crash mid-prune leaves extra read-only
  * garbage, never a corrupt table.
  *
  * PARTITION-GRANULAR versions: the `commit` path rewrites the whole
  * table per version — correct, but a 100 TB store cannot pay a full
  * rewrite to upsert one day's partition. The `*Partitioned` entry
  * points write ONLY the partitions an operation touches into the new
  * version's `data/` and record a per-version `_PARTS` manifest —
  * one line per live partition naming the OWNER version whose `data/`
  * holds its files. Untouched partitions carry forward by reference:
  * their files are never listed, read, or rewritten (StoreOpsSpec
  * asserts byte-identity across an upsert). The commit point is
  * unchanged — `_PARTS` lands inside the uncommitted version dir
  * BEFORE `_COMMIT`, so a crash between the two reads as uncommitted
  * and both properties hold at once: object-store atomicity (no
  * reader-visible rename, single-PUT commit) AND partition-scoped
  * write amplification. This is the same shape a transactional table
  * format (Iceberg/Delta) uses: immutable data files + a manifest
  * naming the live set + an atomic pointer swap.
  *
  * Pruning with carry-forward is OWNER-AWARE: a version dir older
  * than the keep window survives as long as ANY retained version's
  * manifest still references it as a partition owner (deleting it
  * would tear live partitions out of the current table). Superseded
  * files inside a retained owner dir are the storage cost of that
  * protection; [[compactPartitioned]] rebases every partition onto a
  * fresh full snapshot so aged owner dirs become prunable — the
  * rewrite-manifests/expire-snapshots maintenance cycle, scheduled by
  * the operator, never forced onto the commit path.
  *
  * Reference tie-in: the reference's truncate-load gets this same
  * atomicity from BigQuery's committed-job semantics
  * (transformation_dw.py:154-156); this is the engine-side analog for
  * raw parquet on an object store.
  */
object VersionedStore {
  private val VerPrefix = "_v_"
  private val Marker = "_COMMIT"
  private val Parts = "_PARTS"

  private def vname(v: Long): String = f"$VerPrefix$v%07d"

  /** The partition manifest of one version: header line
    * `#partcol=<name>\t<catalogType>`, then one `<ownerVersion>\t<dir>`
    * line per live partition (`dir` is the Spark-escaped partition
    * directory name, e.g. `dt=2024-01-01`). Owner = the version whose
    * `data/<dir>` holds the partition's files. Written INSIDE the
    * uncommitted version dir before `_COMMIT`, so manifest visibility
    * is gated by the same single-PUT commit point as the data. */
  private case class PartsManifest(partCol: String, partType: String,
                                   entries: Seq[(Long, String)])

  private def readParts(fs: org.apache.hadoop.fs.FileSystem,
                        vdir: org.apache.hadoop.fs.Path)
      : Option[PartsManifest] = {
    val m = new org.apache.hadoop.fs.Path(vdir, Parts)
    if (!fs.exists(m)) return None
    val in = fs.open(m)
    val lines = try scala.io.Source.fromInputStream(in, "UTF-8")
      .getLines().toList finally in.close()
    val header = lines.head.stripPrefix("#partcol=").split("\t", 2)
    val entries = lines.tail.filter(_.nonEmpty).map { l =>
      val Array(v, dir) = l.split("\t", 2)
      (v.toLong, dir)
    }
    Some(PartsManifest(header(0), header(1), entries))
  }

  private def writeParts(fs: org.apache.hadoop.fs.FileSystem,
                         vdir: org.apache.hadoop.fs.Path,
                         mf: PartsManifest): Unit = {
    val txt = (s"#partcol=${mf.partCol}\t${mf.partType}" +:
      mf.entries.sortBy(e => (e._2, e._1))
        .map { case (v, dir) => s"$v\t$dir" }).mkString("", "\n", "\n")
    val out = fs.create(new org.apache.hadoop.fs.Path(vdir, Parts), false)
    try out.write(txt.getBytes("UTF-8")) finally out.close()
  }

  /** Read one committed version: plain `data/` scan, or — when the
    * version carries a `_PARTS` manifest — the union of per-owner
    * reads over exactly the partition directories the manifest lists.
    * Grouping by owner keeps each read under one `basePath` so Spark
    * recovers the partition column from directory names; the cast
    * pins its type to the one recorded at commit time (directory-name
    * inference could otherwise drift between owner groups). */
  private def readVersion(spark: SparkSession, root: String,
                          vdir: org.apache.hadoop.fs.Path): DataFrame = {
    val fs = Fs.get(spark, root)
    readParts(fs, vdir) match {
      case None     => spark.read.parquet(s"$vdir/data")
      case Some(mf) => readEntries(spark, root, mf, mf.entries)
    }
  }

  /** Union of per-owner-version reads over exactly the listed
    * partition directories — the partition-PRUNED read: restricting
    * `entries` restricts the I/O to those directories, nothing else
    * is listed or opened. */
  private def readEntries(spark: SparkSession, root: String,
                          mf: PartsManifest,
                          entries: Seq[(Long, String)]): DataFrame = {
    import org.apache.spark.sql.functions.col
    entries.groupBy(_._1).toSeq.sortBy(_._1).map { case (owner, es) =>
      val base = s"$root/${vname(owner)}/data"
      spark.read.option("basePath", base)
        .parquet(es.map(e => s"$base/${e._2}"): _*)
        .withColumn(mf.partCol, col(mf.partCol).cast(mf.partType))
    }.reduce(_.unionByName(_))
  }

  /** Exact row count of one committed version from parquet footers
    * alone ([[ParquetFooters]] scaladoc): plain versions count their
    * `data/` dir; partition-granular versions count exactly the
    * directories the `_PARTS` manifest references (never a whole
    * owner dir — it may hold superseded partitions). Replaces the
    * post-commit / replay-ack `readTable(...).count()` Spark jobs:
    * same value by construction, metadata-only cost. */
  private def versionRowCount(spark: SparkSession, root: String,
                              vdir: org.apache.hadoop.fs.Path): Long = {
    val fs = Fs.get(spark, root)
    readParts(fs, vdir) match {
      case None => ParquetFooters.rowCount(spark, Seq(s"$vdir/data"))
      case Some(mf) => ParquetFooters.rowCount(spark,
        mf.entries.map { case (owner, dir) =>
          s"$root/${vname(owner)}/data/$dir" })
    }
  }

  /** [[versionRowCount]] of the CURRENT committed version — the
    * public serve-side count API (callers previously paid a
    * `readTable(...).count()` job for the same number). */
  def currentRowCount(spark: SparkSession, storeDir: String,
                      table: String): Long = {
    val (_, p) = currentVersion(spark, storeDir, table).getOrElse(
      throw new java.util.NoSuchElementException(
        s"no committed version of $storeDir/$table"))
    versionRowCount(spark, s"$storeDir/$table", p)
  }

  /** Spark-escaped partition directory name for one string-cast value
    * (null → `__HIVE_DEFAULT_PARTITION__`), identical to what
    * `partitionBy` renders. */
  private def renderDirName(partCol: String, v: String): String = {
    import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
    val enc = if (v == null) ExternalCatalogUtils.DEFAULT_PARTITION_NAME
              else ExternalCatalogUtils.escapePathName(v)
    s"$partCol=$enc"
  }

  /** Partition dirs a `partitionBy` write actually produced —
    * authoritative names, listed from the written output. */
  private def listPartDirs(fs: org.apache.hadoop.fs.FileSystem,
                           dataDir: org.apache.hadoop.fs.Path)
      : Seq[String] =
    fs.listStatus(dataDir).toSeq
      .filter(s => s.isDirectory && s.getPath.getName.contains("="))
      .map(_.getPath.getName)

  /** A version counts as committed only if its marker EXISTS, is
    * non-empty, AND parses. On S3 a PUT is all-or-nothing, but on
    * HDFS/POSIX `create()` makes an empty file visible before its
    * bytes land — a crash inside that window must read as "not
    * committed" (the dead dir is cleared by the next commit's corpse
    * sweep and the retried batch then commits cleanly), never as a
    * committed version whose batch_id is unrecoverable, which would
    * punch a hole in [[appliedBatchIds]]'s replay-dedup window. */
  private def markerCommitted(fs: org.apache.hadoop.fs.FileSystem,
                              vdir: org.apache.hadoop.fs.Path): Boolean = {
    val m = new org.apache.hadoop.fs.Path(vdir, Marker)
    try {
      if (fs.getFileStatus(m).getLen == 0L) return false
      val in = fs.open(m)
      val txt = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
                finally in.close()
      "\"version\":\\d+".r.findFirstIn(txt).nonEmpty
    } catch { case _: java.io.IOException => false }
  }

  /** (version, path, committed) for every version dir present. */
  private def versions(spark: SparkSession, storeDir: String,
                       table: String)
      : Seq[(Long, org.apache.hadoop.fs.Path, Boolean)] = {
    val root = new org.apache.hadoop.fs.Path(s"$storeDir/$table")
    val fs = Fs.get(spark, root)
    if (!fs.exists(root)) return Nil
    fs.listStatus(root).toSeq
      .filter(s => s.isDirectory && s.getPath.getName.startsWith(VerPrefix))
      .flatMap { s =>
        val n = s.getPath.getName.stripPrefix(VerPrefix)
        n.toLongOption.map { v =>
          (v, s.getPath, markerCommitted(fs, s.getPath))
        }
      }
      .sortBy(_._1)
  }

  private def currentVersion(spark: SparkSession, storeDir: String,
                             table: String)
      : Option[(Long, org.apache.hadoop.fs.Path)] =
    versions(spark, storeDir, table).filter(_._3).lastOption
      .map { case (v, p, _) => (v, p) }

  def tableExists(spark: SparkSession, storeDir: String,
                  table: String): Boolean =
    currentVersion(spark, storeDir, table).nonEmpty

  /** Read the current committed version (one LIST round trip — the
    * version count is bounded by `keepVersions` plus live partition
    * owners, so resolution never scans history). Transparently follows
    * a `_PARTS` manifest when the version is partition-granular. */
  def readTable(spark: SparkSession, storeDir: String,
                table: String): DataFrame = {
    val (_, p) = currentVersion(spark, storeDir, table).getOrElse(
      throw new java.util.NoSuchElementException(
        s"no committed version of $storeDir/$table"))
    readVersion(spark, s"$storeDir/$table", p)
  }

  private def markerBatchId(spark: SparkSession,
                            p: org.apache.hadoop.fs.Path): Option[String] = {
    val fs = Fs.get(spark, p)
    val in = fs.open(new org.apache.hadoop.fs.Path(p, Marker))
    val txt = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
              finally in.close()
    "\"batch_id\":\"([^\"]*)\"".r.findFirstMatchIn(txt).map(_.group(1))
      .filter(_.nonEmpty)
  }

  /** The current version's batchId, if any. */
  def lastBatchId(spark: SparkSession, storeDir: String,
                  table: String): Option[String] =
    currentVersion(spark, storeDir, table)
      .flatMap { case (_, p) => markerBatchId(spark, p) }

  /** Batch ids of every RETAINED committed version — the replay-
    * detection window. A batch re-delivered while its version is
    * still within `keepVersions` is recognized and acknowledged; a
    * pipeline whose at-least-once redelivery can lag further behind
    * sizes `keepVersions` to its redelivery horizon (the same
    * contract checkpoint-retention gives a streaming sink). */
  def appliedBatchIds(spark: SparkSession, storeDir: String,
                      table: String): Set[String] =
    versions(spark, storeDir, table).filter(_._3)
      .flatMap { case (_, p, _) => markerBatchId(spark, p) }.toSet

  /** The shared commit machinery: replay-dedup, corpse sweep, `write`
    * into the fresh uncommitted version dir, the single-PUT `_COMMIT`
    * commit point, then crash-safe housekeeping (advisory pointer +
    * owner-aware prune). `write(fs, vdir, next)` must leave the
    * version dir fully populated — data AND, for partition-granular
    * versions, its `_PARTS` manifest — before it returns. */
  private def commitVersion(spark: SparkSession, storeDir: String,
                            table: String, batchId: Option[String],
                            keepVersions: Int)
                           (write: (org.apache.hadoop.fs.FileSystem,
                                    org.apache.hadoop.fs.Path,
                                    Long) => Unit): Long = {
    if (batchId.exists(appliedBatchIds(spark, storeDir, table)))
      return currentRowCount(spark, storeDir, table)
    val root = s"$storeDir/$table"
    val fs = Fs.get(spark, root)
    val vs = versions(spark, storeDir, table)
    val next = vs.lastOption.map(_._1 + 1).getOrElse(1L)
    // clear dead uncommitted dirs (crashed writers — single-writer
    // contract); readers never saw them. Committed dirs are safe: a
    // partition OWNER is always a committed version.
    vs.filterNot(_._3).foreach { case (_, p, _) => fs.delete(p, true) }
    val vdir = new org.apache.hadoop.fs.Path(root, vname(next))
    write(fs, vdir, next)
    // ---- the commit point: one small object PUT ----
    val marker =
      s"""{"version":$next,"batch_id":"${batchId.getOrElse("")}"}"""
    val out = fs.create(new org.apache.hadoop.fs.Path(vdir, Marker), false)
    try out.write((marker + "\n").getBytes("UTF-8")) finally out.close()
    // post-commit housekeeping — crash-safe to skip or die inside:
    // advisory manifest pointer, then prune beyond the keep window.
    // OWNER-AWARE: a version dir referenced as a partition owner by
    // ANY retained version's manifest must survive, or pruning would
    // tear live partitions out of a readable table.
    val mTmp = new org.apache.hadoop.fs.Path(root, "_MANIFEST")
    val mo = fs.create(mTmp, true)
    try mo.write((marker + "\n").getBytes("UTF-8")) finally mo.close()
    val committed = versions(spark, storeDir, table).filter(_._3)
    val owners: Set[Long] = committed
      .filter { case (v, _, _) => v > next - keepVersions }
      .flatMap { case (v, p, _) =>
        readParts(fs, p).map(_.entries.map(_._1)).getOrElse(Nil) :+ v
      }.toSet
    committed
      .filter { case (v, _, _) =>
        v <= next - keepVersions && !owners.contains(v) }
      .foreach { case (_, p, _) => fs.delete(p, true) }
    versionRowCount(spark, root, vdir)
  }

  /** Commit `df` as the table's next version. Returns the committed
    * row count. If `batchId` matches any retained version's, the batch
    * already applied — acknowledged without writing (replay-idempotent
    * across every crash window above). */
  def commit(spark: SparkSession, df: DataFrame, storeDir: String,
             table: String, batchId: Option[String] = None,
             keepVersions: Int = 2): Long =
    commitVersion(spark, storeDir, table, batchId, keepVersions) {
      (_, vdir, _) =>
        Fs.write(df).mode(SaveMode.Overwrite).parquet(s"$vdir/data")
    }

  /** Read-modify-write commit: `f(current)` becomes the next version.
    * The old version dir is immutable while the new one writes, so a
    * lineage that reads the store needs no staging copy and there is
    * no delete-before-rename window at all. */
  def commitTransform(spark: SparkSession, storeDir: String,
                      table: String, batchId: Option[String] = None,
                      keepVersions: Int = 2)
                     (f: DataFrame => DataFrame): Long =
    commit(spark, f(readTable(spark, storeDir, table)), storeDir, table,
      batchId, keepVersions)

  /** Upsert by key, versioned: replaced rows drop out, new rows land,
    * everything else carries forward — one new immutable version. */
  def mergeUpsert(spark: SparkSession, updates: DataFrame,
                  storeDir: String, table: String, key: String,
                  batchId: Option[String] = None): Long =
    if (!tableExists(spark, storeDir, table))
      commit(spark, updates, storeDir, table, batchId)
    else commitTransform(spark, storeDir, table, batchId) { store =>
      store.join(updates.select(key), Seq(key), "left_anti")
        .unionByName(updates)
    }

  /** Targeted key deletion, versioned. Missing table = nothing to
    * delete. */
  def deleteKeys(spark: SparkSession, keys: DataFrame, storeDir: String,
                 table: String, key: String,
                 batchId: Option[String] = None): Long = {
    if (!tableExists(spark, storeDir, table)) return 0L
    val doomed = keys.select(org.apache.spark.sql.functions
      .col(keys.columns.head).as(key)).distinct()
    commitTransform(spark, storeDir, table, batchId) { store =>
      store.join(doomed, Seq(key), "left_anti")
    }
  }

  // ----------------------------------------------------------------
  // Partition-granular versions: write only touched partitions, carry
  // the rest forward by manifest reference (scaladoc above).
  // ----------------------------------------------------------------

  /** Full partitioned snapshot as the next version: every partition
    * written here and owned here. The initial commit of a partitioned
    * table, and the target [[compactPartitioned]] rebases onto. */
  def commitPartitioned(spark: SparkSession, df: DataFrame,
                        storeDir: String, table: String, partCol: String,
                        batchId: Option[String] = None,
                        keepVersions: Int = 2): Long = {
    val typ = df.schema(partCol).dataType.catalogString
    commitVersion(spark, storeDir, table, batchId, keepVersions) {
      (fs, vdir, next) =>
        Fs.write(df).mode(SaveMode.Overwrite).partitionBy(partCol)
          .parquet(s"$vdir/data")
        val emitted =
          listPartDirs(fs, new org.apache.hadoop.fs.Path(s"$vdir/data"))
        if (emitted.isEmpty)
          // empty frame: a partitionBy write of zero rows leaves no
          // readable files — materialize an explicit empty PLAIN
          // version (partition col as an ordinary column) so the
          // schema survives; readers take the plain path
          ParquetFooters.writeEmpty(spark, s"$vdir/data", df.schema)
        else writeParts(fs, vdir,
          PartsManifest(partCol, typ, emitted.map(d => (next, d))))
    }
  }

  /** Delta commit shared by the partitioned upsert/delete: `merged`
    * holds the post-operation rows of the TOUCHED partitions only;
    * everything in `mf.entries` outside `touchedDirs` carries forward
    * by reference — its files are never listed, read, or rewritten. A
    * touched partition `merged` emits no rows for drops out of the
    * manifest (logically deleted; its old files age out with their
    * owner dir). */
  private def commitPartitionDelta(spark: SparkSession, storeDir: String,
                                   table: String, mf: PartsManifest,
                                   touchedDirs: Set[String],
                                   merged: DataFrame,
                                   batchId: Option[String],
                                   keepVersions: Int): Long =
    commitVersion(spark, storeDir, table, batchId, keepVersions) {
      (fs, vdir, next) =>
        Fs.write(merged).mode(SaveMode.Overwrite).partitionBy(mf.partCol)
          .parquet(s"$vdir/data")
        val emitted =
          listPartDirs(fs, new org.apache.hadoop.fs.Path(s"$vdir/data"))
        val carried = mf.entries.filterNot(e => touchedDirs.contains(e._2))
        val entries = carried ++ emitted.map(d => (next, d))
        if (entries.isEmpty)
          // the operation emptied the table: schema-preserving plain
          // empty version, same as commitPartitioned's empty case
          ParquetFooters.writeEmpty(spark, s"$vdir/data", merged.schema)
        else writeParts(fs, vdir, mf.copy(entries = entries))
    }

  /** String-cast partition values → rendered directory names, for
    * matching manifest entries. The collect is bounded by the
    * operation's touched-partition count (maintenance-batch constant,
    * not a data scan) and runs before any store mutation. */
  private def touchedDirNames(touched: DataFrame,
                              partCol: String): Set[String] = {
    import org.apache.spark.sql.functions.col
    touched.select(col(partCol).cast("string")).distinct().collect()
      .map(r => renderDirName(partCol,
        if (r.isNullAt(0)) null else r.getString(0)))
      .toSet
  }

  /** Partition-granular upsert: rewrites ONLY the partitions the
    * updates write into plus the partitions updated keys currently
    * live in (covers a key moving between partitions); every other
    * partition carries forward by manifest reference. The touched-set
    * probe is a column-pruned key+partition scan, and the survivor
    * read opens exactly the touched partitions' directories. */
  def mergeUpsertPartitioned(spark: SparkSession, updates: DataFrame,
                             storeDir: String, table: String,
                             key: String, partCol: String,
                             batchId: Option[String] = None,
                             keepVersions: Int = 2): Long = {
    import org.apache.spark.sql.functions.col
    if (batchId.exists(appliedBatchIds(spark, storeDir, table)))
      return currentRowCount(spark, storeDir, table)
    currentVersion(spark, storeDir, table) match {
      case None =>
        commitPartitioned(spark, updates, storeDir, table, partCol,
          batchId, keepVersions)
      case Some((_, vdir)) =>
        val root = s"$storeDir/$table"
        readParts(Fs.get(spark, root), vdir) match {
          case None =>
            // current version is plain (created by `commit`, or an
            // emptied placeholder): merge and re-snapshot partitioned
            val store = readVersion(spark, root, vdir)
            val merged = store
              .join(updates.select(col(key)), Seq(key), "left_anti")
              .unionByName(updates)
            commitPartitioned(spark, merged, storeDir, table, partCol,
              batchId, keepVersions)
          case Some(mf) =>
            require(mf.partCol == partCol,
              s"table $table is partitioned by ${mf.partCol}, not $partCol")
            val cur = readVersion(spark, root, vdir)
            val touched = cur.select(col(key), col(partCol))
              .join(updates.select(col(key)), Seq(key), "left_semi")
              .select(col(partCol))
              .unionByName(updates.select(col(partCol)))
            val dirs = touchedDirNames(touched, partCol)
            val touchedEntries = mf.entries.filter(e => dirs.contains(e._2))
            val survivors =
              if (touchedEntries.isEmpty) updates.limit(0)
              else readEntries(spark, root, mf, touchedEntries)
                .join(updates.select(col(key)), Seq(key), "left_anti")
            commitPartitionDelta(spark, storeDir, table, mf, dirs,
              survivors.unionByName(updates), batchId, keepVersions)
        }
    }
  }

  /** Partition-granular key deletion: only partitions actually
    * holding a doomed key are rewritten (found by a column-pruned
    * key+partition scan); a partition whose every row is doomed drops
    * out of the manifest. Partition column comes from the manifest —
    * no caller-side bookkeeping. */
  def deleteKeysPartitioned(spark: SparkSession, keys: DataFrame,
                            storeDir: String, table: String, key: String,
                            batchId: Option[String] = None,
                            keepVersions: Int = 2): Long = {
    import org.apache.spark.sql.functions.col
    if (!tableExists(spark, storeDir, table)) return 0L
    if (batchId.exists(appliedBatchIds(spark, storeDir, table)))
      return currentRowCount(spark, storeDir, table)
    val (_, vdir) = currentVersion(spark, storeDir, table).get
    val root = s"$storeDir/$table"
    readParts(Fs.get(spark, root), vdir) match {
      case None =>
        deleteKeys(spark, keys, storeDir, table, key, batchId)
      case Some(mf) =>
        val doomed = keys.select(col(keys.columns.head).as(key)).distinct()
        val cur = readVersion(spark, root, vdir)
        val touched = cur.select(col(key), col(mf.partCol))
          .join(doomed, Seq(key), "left_semi")
          .select(col(mf.partCol))
        val dirs = touchedDirNames(touched, mf.partCol)
        val touchedEntries = mf.entries.filter(e => dirs.contains(e._2))
        if (touchedEntries.isEmpty)
          return currentRowCount(spark, storeDir, table)
        val survivors = readEntries(spark, root, mf, touchedEntries)
          .join(doomed, Seq(key), "left_anti")
        commitPartitionDelta(spark, storeDir, table, mf, dirs,
          survivors, batchId, keepVersions)
    }
  }

  /** Distinct owner versions the CURRENT version's manifest
    * references — >1 proves partitions carried forward by reference
    * across commits (a plain or freshly-snapshotted version reports
    * 1, a missing table 0). Diagnostic surface for the carry-forward
    * invariant; hash-gated by the registry's
    * `versioned_store_partitioned` query. */
  def ownerVersionCount(spark: SparkSession, storeDir: String,
                        table: String): Int =
    currentVersion(spark, storeDir, table) match {
      case None => 0
      case Some((_, vdir)) =>
        readParts(Fs.get(spark, s"$storeDir/$table"), vdir) match {
          case Some(mf) => mf.entries.map(_._1).distinct.size
          case None     => 1
        }
    }

  /** Maintenance: rebase every live partition onto one fresh full
    * snapshot, so owner dirs older than the keep window stop being
    * referenced and prune on subsequent commits. The scheduled
    * expire-snapshots step of the protocol — storage reclamation off
    * the commit path. */
  def compactPartitioned(spark: SparkSession, storeDir: String,
                         table: String, batchId: Option[String] = None,
                         keepVersions: Int = 2): Long = {
    val (_, vdir) = currentVersion(spark, storeDir, table).getOrElse(
      throw new java.util.NoSuchElementException(
        s"no committed version of $storeDir/$table"))
    val root = s"$storeDir/$table"
    val mf = readParts(Fs.get(spark, root), vdir).getOrElse(
      throw new IllegalStateException(
        s"$table's current version is not partition-granular"))
    commitPartitioned(spark, readVersion(spark, root, vdir), storeDir,
      table, mf.partCol, batchId, keepVersions)
  }
}
