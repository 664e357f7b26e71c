package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import graft.io.Staging

/** Store maintenance operations: dynamic partition overwrite, and
  * keyed upsert/delete through
  * [[graft.io.VersionedStore]] (whole-table and partition-scoped). */
class StoreOpsSpec extends SparkSpec {
  import spark.implicits._

  test("a dynamic overwrite replaces only the partitions it emits; " +
    "other partitions' files are untouched") {
    val store = Files.createTempDirectory("graft-dynamic").toString
    Staging.overwritePartitionsDynamic(
      Seq((1L, "v1", "d1"), (2L, "v1", "d2")).toDF("id", "v", "dt"),
      store, "t", Seq("dt"))
    // file name → bytes of one partition's parquet files
    def files(part: String): Map[String, Seq[Byte]] =
      new java.io.File(s"$store/t/$part").listFiles().toSeq
        .filter(_.getName.endsWith(".parquet"))
        .map(f => f.getName -> Files.readAllBytes(f.toPath).toSeq).toMap
    val d1Before = files("dt=d1")
    val d2Before = files("dt=d2")
    assert(d1Before.nonEmpty && d2Before.nonEmpty)
    Staging.overwritePartitionsDynamic(
      Seq((2L, "v2", "d2"), (3L, "v2", "d2")).toDF("id", "v", "dt"),
      store, "t", Seq("dt"))
    assert(files("dt=d1") == d1Before, "partition d1 was rewritten")
    assert(files("dt=d2").keySet.intersect(d2Before.keySet).isEmpty,
      "partition d2 kept a file of the first write")
    assert(Staging.readTable(spark, store, "t")
      .select("id", "v", "dt").as[(Long, String, String)].collect().toSet ==
      Set((1L, "v1", "d1"), (2L, "v2", "d2"), (3L, "v2", "d2")))
  }

  // ---------------------------------------------------------------
  // VersionedStore: the object-store-atomic commit protocol
  // ---------------------------------------------------------------
  import graft.io.VersionedStore

  private def committedVersions(store: String, table: String): Seq[String] =
    new java.io.File(s"$store/$table").listFiles().toSeq
      .filter(f => f.isDirectory && f.getName.startsWith("_v_") &&
        new java.io.File(f, "_COMMIT").exists())
      .map(_.getName).sorted

  test("versioned store: commit/upsert/delete roundtrip, pruned to the " +
    "keep window") {
    val store = Files.createTempDirectory("graft-vs").toString
    VersionedStore.commit(spark,
      Seq((1L, "a"), (2L, "b")).toDF("id", "v"), store, "t", Some("b1"))
    assert(VersionedStore.readTable(spark, store, "t")
      .as[(Long, String)].collect().toMap == Map(1L -> "a", 2L -> "b"))
    val n2 = VersionedStore.mergeUpsert(spark,
      Seq((2L, "b2"), (3L, "c")).toDF("id", "v"), store, "t", "id",
      Some("b2"))
    assert(n2 == 3)
    val n3 = VersionedStore.deleteKeys(spark, Seq(1L).toDF("id"),
      store, "t", "id", Some("b3"))
    assert(n3 == 2)
    assert(VersionedStore.readTable(spark, store, "t")
      .as[(Long, String)].collect().toMap ==
      Map(2L -> "b2", 3L -> "c"))
    // keepVersions = 2: current + previous survive, older pruned
    assert(committedVersions(store, "t") ==
      Seq("_v_0000002", "_v_0000003"))
  }

  test("versioned store: a replayed batch is acknowledged without a " +
    "new version (exactly-once across crash-and-retry)") {
    val store = Files.createTempDirectory("graft-vs-replay").toString
    VersionedStore.commit(spark, Seq((1L, 10L)).toDF("id", "x"),
      store, "t", Some("b1"))
    VersionedStore.mergeUpsert(spark, Seq((1L, 11L)).toDF("id", "x"),
      store, "t", "id", Some("b2"))
    val before = committedVersions(store, "t")
    // an at-least-once driver re-delivers batch b2 after a crash: the
    // upsert must be a no-op ack, not a re-fold
    val n = VersionedStore.mergeUpsert(spark,
      Seq((1L, 11L)).toDF("id", "x"), store, "t", "id", Some("b2"))
    assert(n == 1)
    assert(committedVersions(store, "t") == before)
    assert(VersionedStore.readTable(spark, store, "t")
      .as[(Long, Long)].collect().toSeq == Seq(1L -> 11L))
    assert(VersionedStore.lastBatchId(spark, store, "t") == Some("b2"))
  }

  test("versioned store: a writer that died mid-write is invisible to " +
    "readers and cleared by the next commit") {
    val store = Files.createTempDirectory("graft-vs-crash").toString
    VersionedStore.commit(spark, Seq((1L, "a")).toDF("id", "v"),
      store, "t", Some("b1"))
    // simulate a crash during a later version's data write: the dir
    // exists, holds partial garbage, and has NO _COMMIT marker
    val dead = new java.io.File(s"$store/t/_v_0000009/data")
    dead.mkdirs()
    java.nio.file.Files.write(dead.toPath.resolve("part-garbage"),
      "not parquet".getBytes)
    // readers resolve the last COMMITTED version, never the corpse
    assert(VersionedStore.readTable(spark, store, "t")
      .as[(Long, String)].collect().toSeq == Seq(1L -> "a"))
    // the next commit clears the corpse and numbers itself above it
    VersionedStore.commit(spark, Seq((2L, "b")).toDF("id", "v"),
      store, "t", Some("b2"))
    assert(!new java.io.File(s"$store/t/_v_0000009").exists())
    assert(committedVersions(store, "t").last == "_v_0000010")
    assert(VersionedStore.readTable(spark, store, "t")
      .as[(Long, String)].collect().toSeq == Seq(2L -> "b"))
  }

  test("versioned store: death after the marker, before prune, is a " +
    "durable commit") {
    val store = Files.createTempDirectory("graft-vs-marker").toString
    def vdir(v: Int) = new java.io.File(f"$store/t/_v_$v%07d")
    VersionedStore.commit(spark, Seq((1L, "a")).toDF("id", "v"),
      store, "t", Some("b1"))
    VersionedStore.commit(spark, Seq((2L, "b")).toDF("id", "v"),
      store, "t", Some("b2"))
    // simulate the post-marker crash: v3's marker lands but its prune
    // never runs (a keep window wide enough to prune nothing), so v1
    // outlives the default keep window
    VersionedStore.commit(spark, Seq((3L, "c")).toDF("id", "v"),
      store, "t", Some("b3"), keepVersions = 10)
    assert(vdir(1).exists())
    // resolution lists markers, so the commit is still visible
    assert(VersionedStore.readTable(spark, store, "t")
      .as[(Long, String)].collect().toSeq == Seq(3L -> "c"))
    assert(VersionedStore.lastBatchId(spark, store, "t") == Some("b3"))
    // the next commit prunes what the dead one left behind
    VersionedStore.commit(spark, Seq((4L, "d")).toDF("id", "v"),
      store, "t", Some("b4"))
    assert(!vdir(1).exists() && !vdir(2).exists() && vdir(3).exists())
    assert(VersionedStore.readTable(spark, store, "t")
      .as[(Long, String)].collect().toSeq == Seq(4L -> "d"))
  }

  test("mergeUpsert replaces same-key rows and appends new keys") {
    val store = Files.createTempDirectory("graft-upsert").toString
    VersionedStore.commit(spark,
      Seq((1L, "a"), (2L, "b")).toDF("id", "v"), store, "t")
    val n = VersionedStore.mergeUpsert(spark,
      Seq((2L, "b2"), (3L, "c")).toDF("id", "v"), store, "t", "id")
    assert(n == 3)
    val rows = VersionedStore.readTable(spark, store, "t")
      .as[(Long, String)].collect().toMap
    assert(rows == Map(1L -> "a", 2L -> "b2", 3L -> "c"))
  }

  // ---------------------------------------------------------------
  // Partition-granular versions: _PARTS manifests, carry-forward by
  // reference, owner-aware pruning, compaction
  // ---------------------------------------------------------------

  /** (name, length, mtime) of one partition's parquet files inside one
    * version dir — byte-identity proxy for "never rewritten". */
  private def vPartFiles(store: String, table: String, v: String,
                         part: String): Set[(String, Long, Long)] = {
    val dir = new java.io.File(s"$store/$table/$v/data/$part")
    if (!dir.exists()) Set.empty
    else dir.listFiles().filter(_.getName.endsWith(".parquet"))
      .map(f => (f.getName, f.length, f.lastModified)).toSet
  }

  test("partitioned versioned store: upsert writes only touched " +
    "partitions — untouched partition files carry forward byte-identical") {
    val store = Files.createTempDirectory("graft-vsp").toString
    VersionedStore.commitPartitioned(spark,
      Seq((1L, "a", "d1"), (2L, "b", "d1"), (3L, "c", "d2"),
        (9L, "z", "d9")).toDF("id", "v", "dt"),
      store, "t", "dt", Some("b1"))
    val d2Before = vPartFiles(store, "t", "_v_0000001", "dt=d2")
    val d9Before = vPartFiles(store, "t", "_v_0000001", "dt=d9")
    assert(d2Before.nonEmpty && d9Before.nonEmpty)
    // update key 2 (partition d1) + new key 4 in brand-new d3
    val n = VersionedStore.mergeUpsertPartitioned(spark,
      Seq((2L, "b2", "d1"), (4L, "d", "d3")).toDF("id", "v", "dt"),
      store, "t", "id", "dt", Some("b2"))
    assert(n == 5)
    assert(VersionedStore.readTable(spark, store, "t")
      .select("id", "v").as[(Long, String)].collect().toMap ==
      Map(1L -> "a", 2L -> "b2", 3L -> "c", 4L -> "d", 9L -> "z"))
    // the new version's data dir holds ONLY the touched partitions
    val v2parts = new java.io.File(s"$store/t/_v_0000002/data")
      .listFiles().filter(_.getName.contains("=")).map(_.getName).toSet
    assert(v2parts == Set("dt=d1", "dt=d3"))
    // untouched partitions: the exact same files, in the OLD owner dir
    assert(vPartFiles(store, "t", "_v_0000001", "dt=d2") == d2Before,
      "untouched partition d2 was rewritten")
    assert(vPartFiles(store, "t", "_v_0000001", "dt=d9") == d9Before,
      "untouched partition d9 was rewritten")
  }

  test("partitioned versioned store: delete rewrites only partitions " +
    "holding a doomed key; an emptied partition drops from the " +
    "manifest; replay is an ack") {
    val store = Files.createTempDirectory("graft-vsp-del").toString
    VersionedStore.commitPartitioned(spark,
      Seq((1L, "a", "d1"), (2L, "b", "d1"), (3L, "c", "d2"),
        (4L, "d", "d3")).toDF("id", "v", "dt"),
      store, "t", "dt", Some("b1"))
    val d3Before = vPartFiles(store, "t", "_v_0000001", "dt=d3")
    // key 2 (mixed d1) and key 3 (all of d2)
    val n = VersionedStore.deleteKeysPartitioned(spark,
      Seq(2L, 3L).toDF("id"), store, "t", "id", Some("b2"))
    assert(n == 2)
    assert(VersionedStore.readTable(spark, store, "t")
      .select("id", "v", "dt").as[(Long, String, String)]
      .collect().toSet == Set((1L, "a", "d1"), (4L, "d", "d3")))
    // only d1 was rewritten; d3 carried forward in place
    val v2parts = new java.io.File(s"$store/t/_v_0000002/data")
      .listFiles().filter(_.getName.contains("=")).map(_.getName).toSet
    assert(v2parts == Set("dt=d1"))
    assert(vPartFiles(store, "t", "_v_0000001", "dt=d3") == d3Before)
    // crash-retry replay of the delete batch: ack, no new version
    val before = committedVersions(store, "t")
    val nReplay = VersionedStore.deleteKeysPartitioned(spark,
      Seq(2L, 3L).toDF("id"), store, "t", "id", Some("b2"))
    assert(nReplay == 2 && committedVersions(store, "t") == before)
  }

  test("partitioned versioned store: pruning never deletes a version " +
    "dir still owning live partitions; compaction rebases and frees it") {
    val store = Files.createTempDirectory("graft-vsp-prune").toString
    VersionedStore.commitPartitioned(spark,
      Seq((1L, "a", "d1"), (3L, "c", "d2")).toDF("id", "v", "dt"),
      store, "t", "dt", Some("b1"))
    // two more versions touching ONLY d1: v1 ages past keepVersions=2
    // but still owns live d2 — it must survive the prune
    VersionedStore.mergeUpsertPartitioned(spark,
      Seq((1L, "a2", "d1")).toDF("id", "v", "dt"),
      store, "t", "id", "dt", Some("b2"))
    VersionedStore.mergeUpsertPartitioned(spark,
      Seq((1L, "a3", "d1")).toDF("id", "v", "dt"),
      store, "t", "id", "dt", Some("b3"))
    assert(committedVersions(store, "t")
      .contains("_v_0000001"), "live partition owner was pruned")
    assert(VersionedStore.readTable(spark, store, "t")
      .select("id", "v").as[(Long, String)].collect().toMap ==
      Map(1L -> "a3", 3L -> "c"))
    // compaction rebases every partition onto a fresh snapshot (v4);
    // after one more commit the v3 manifest ages out and v1 unprunes
    VersionedStore.compactPartitioned(spark, store, "t", Some("b4"))
    VersionedStore.mergeUpsertPartitioned(spark,
      Seq((1L, "a4", "d1")).toDF("id", "v", "dt"),
      store, "t", "id", "dt", Some("b5"))
    assert(!committedVersions(store, "t").contains("_v_0000001"),
      "compaction should have freed the aged owner dir")
    assert(VersionedStore.readTable(spark, store, "t")
      .select("id", "v").as[(Long, String)].collect().toMap ==
      Map(1L -> "a4", 3L -> "c"))
  }

  test("partitioned versioned store: NULL partition rows survive " +
    "partition-scoped operations (manifest dir-name rendering)") {
    val store = Files.createTempDirectory("graft-vsp-null").toString
    VersionedStore.commitPartitioned(spark,
      Seq((1L, "a", Some("d1")), (3L, "c", None), (4L, "d", None))
        .toDF("id", "v", "dt"),
      store, "t", "dt", Some("b1"))
    // delete a key living in the NULL partition: its survivor must be
    // re-emitted, the d1 partition carried forward untouched
    val n = VersionedStore.deleteKeysPartitioned(spark,
      Seq(3L).toDF("id"), store, "t", "id", Some("b2"))
    assert(n == 2)
    assert(VersionedStore.readTable(spark, store, "t")
      .select("id", "dt").as[(Long, Option[String])].collect().toSet ==
      Set((1L, Some("d1")), (4L, None)))
    val v2parts = new java.io.File(s"$store/t/_v_0000002/data")
      .listFiles().filter(_.getName.contains("=")).map(_.getName).toSet
    assert(v2parts == Set("dt=__HIVE_DEFAULT_PARTITION__"))
  }

  test("partitioned versioned store: a writer that died after data+" +
    "manifest but before the marker is invisible and swept; the " +
    "emptied-table edge keeps a readable schema") {
    val store = Files.createTempDirectory("graft-vsp-crash").toString
    VersionedStore.commitPartitioned(spark,
      Seq((1L, "a", "d1")).toDF("id", "v", "dt"),
      store, "t", "dt", Some("b1"))
    // corpse: data AND _PARTS landed, _COMMIT did not — the version
    // must be invisible (commit point not reached) and swept later
    val dead = new java.io.File(s"$store/t/_v_0000005/data/dt=d9")
    dead.mkdirs()
    java.nio.file.Files.write(
      new java.io.File(dead.getParentFile.getParentFile, "_PARTS")
        .toPath, "#partcol=dt\tstring\n5\tdt=d9\n".getBytes)
    assert(VersionedStore.readTable(spark, store, "t")
      .select("id").as[Long].collect().toSeq == Seq(1L))
    // deleting every key empties the table: schema must survive
    val n = VersionedStore.deleteKeysPartitioned(spark,
      Seq(1L).toDF("id"), store, "t", "id", Some("b2"))
    assert(n == 0)
    assert(!new java.io.File(s"$store/t/_v_0000005").exists(),
      "uncommitted corpse not swept")
    val emptied = VersionedStore.readTable(spark, store, "t")
    assert(emptied.count() == 0)
    assert(emptied.columns.toSet == Set("id", "v", "dt"))
    // repopulating an emptied (plain) table re-snapshots partitioned
    VersionedStore.mergeUpsertPartitioned(spark,
      Seq((5L, "e", "d2")).toDF("id", "v", "dt"),
      store, "t", "id", "dt", Some("b3"))
    assert(VersionedStore.readTable(spark, store, "t")
      .select("id", "v", "dt").as[(Long, String, String)]
      .collect().toSeq == Seq((5L, "e", "d2")))
  }

  test("partition-scoped mergeUpsert rewrites only touched partitions") {
    val store = Files.createTempDirectory("graft-upsert-p").toString
    VersionedStore.commitPartitioned(spark,
      Seq((1L, "a", "d1"), (2L, "b", "d1"), (3L, "c", "d2"))
        .toDF("id", "v", "dt"), store, "t", "dt")
    val d2Before = vPartFiles(store, "t", "_v_0000001", "dt=d2")
    // update key 2 (partition d1) and introduce key 4 in new d3
    val n = VersionedStore.mergeUpsertPartitioned(spark,
      Seq((2L, "b2", "d1"), (4L, "d", "d3")).toDF("id", "v", "dt"),
      store, "t", "id", "dt")
    assert(n == 4)
    val rows = VersionedStore.readTable(spark, store, "t")
      .select("id", "v").as[(Long, String)].collect().toMap
    assert(rows == Map(1L -> "a", 2L -> "b2", 3L -> "c", 4L -> "d"))
    // untouched d2 is still read from version 1's files
    assert(vPartFiles(store, "t", "_v_0000001", "dt=d2") == d2Before,
      "untouched partition was rewritten")
    assert(VersionedStore.ownerVersionCount(spark, store, "t") == 2)
  }

  test("partition-scoped mergeUpsert keeps existing rows when a NEW key " +
    "lands in an EXISTING partition") {
    // the touched set must include the partitions the updates write
    // INTO, not only those holding updated store keys, or a partition
    // receiving only brand-new keys loses its survivors
    val store = Files.createTempDirectory("graft-upsert-newkey").toString
    VersionedStore.commitPartitioned(spark,
      Seq((1L, "a", "d1"), (2L, "b", "d1"), (3L, "c", "d2"))
        .toDF("id", "v", "dt"), store, "t", "dt")
    val n = VersionedStore.mergeUpsertPartitioned(spark,
      Seq((4L, "d", "d2")).toDF("id", "v", "dt"), store, "t", "id", "dt")
    assert(n == 4)
    val rows = VersionedStore.readTable(spark, store, "t")
      .select("id", "v").as[(Long, String)].collect().toMap
    assert(rows == Map(1L -> "a", 2L -> "b", 3L -> "c", 4L -> "d"))
  }

  test("partition-scoped mergeUpsert clears a partition a key moved " +
    "out of (no stale duplicate)") {
    // a partition whose ONLY row was an updated key that moved
    // elsewhere emits nothing; it must leave the manifest, not keep
    // its old files live
    val store = Files.createTempDirectory("graft-upsert-move").toString
    VersionedStore.commitPartitioned(spark,
      Seq((1L, "a", "d1"), (2L, "b", "d2")).toDF("id", "v", "dt"),
      store, "t", "dt")
    val n = VersionedStore.mergeUpsertPartitioned(spark,
      Seq((1L, "a2", "d2")).toDF("id", "v", "dt"), store, "t", "id", "dt")
    assert(n == 2)
    val rows = VersionedStore.readTable(spark, store, "t")
      .select("id", "v", "dt").as[(Long, String, String)].collect().toSet
    assert(rows == Set((1L, "a2", "d2"), (2L, "b", "d2")))
  }

  test("partition-scoped mergeUpsert clears moved-out TIMESTAMP " +
    "partitions (directory-name rendering)") {
    // JVM Timestamp.toString renders '...00:00:00.0' but the directory
    // is the Spark string cast '...00:00:00', escaped — a toString-
    // built directory name misses the moved-out partition
    val store = Files.createTempDirectory("graft-upsert-ts").toString
    val mk = (s: String) => java.sql.Timestamp.valueOf(s)
    VersionedStore.commitPartitioned(spark,
      Seq((1L, "a", mk("2020-01-01 00:00:00")),
        (2L, "b", mk("2020-01-02 00:00:00"))).toDF("id", "v", "ts"),
      store, "t", "ts")
    VersionedStore.mergeUpsertPartitioned(spark,
      Seq((1L, "a2", mk("2020-01-02 00:00:00"))).toDF("id", "v", "ts"),
      store, "t", "id", "ts")
    val rows = VersionedStore.readTable(spark, store, "t")
      .select("id", "v", "ts").as[(Long, String, java.sql.Timestamp)]
      .collect().toSet
    assert(rows == Set((1L, "a2", mk("2020-01-02 00:00:00")),
      (2L, "b", mk("2020-01-02 00:00:00"))))
  }

  test("deleteKeys removes ids; partition-scoped form rewrites only " +
    "partitions holding a doomed key") {
    val store = Files.createTempDirectory("graft-del").toString
    // whole-table form
    VersionedStore.commit(spark,
      Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "v"), store, "t")
    val n = VersionedStore.deleteKeys(spark, Seq(2L).toDF("id"),
      store, "t", "id")
    assert(n == 2)
    assert(VersionedStore.readTable(spark, store, "t")
      .select("id").as[Long].collect().sorted.toSeq == Seq(1L, 3L))
    // partition-scoped: d2 holds no doomed key → its files carry forward
    VersionedStore.commitPartitioned(spark,
      Seq((1L, "a", "d1"), (2L, "b", "d1"), (3L, "c", "d2"))
        .toDF("id", "v", "dt"), store, "p", "dt")
    val d2Before = vPartFiles(store, "p", "_v_0000001", "dt=d2")
    val n2 = VersionedStore.deleteKeysPartitioned(spark,
      Seq(1L).toDF("id"), store, "p", "id")
    assert(n2 == 2)
    assert(vPartFiles(store, "p", "_v_0000001", "dt=d2") == d2Before,
      "untouched partition was rewritten")
    // deleting EVERY key of a partition drops it from the table
    VersionedStore.deleteKeysPartitioned(spark, Seq(3L).toDF("id"),
      store, "p", "id")
    val rows = VersionedStore.readTable(spark, store, "p")
      .select("id", "dt").as[(Long, String)].collect().toSeq
    assert(rows == Seq(2L -> "d1"))
  }

  test("partition-scoped deleteKeys keeps non-doomed rows of a " +
    "NULL-valued partition") {
    // the NULL partition (__HIVE_DEFAULT_PARTITION__) must match its
    // manifest entry, or its survivors are never re-emitted; here a
    // second partition empties in the same delete
    val store = Files.createTempDirectory("graft-del-nullpart").toString
    VersionedStore.commitPartitioned(spark,
      Seq((1L, "a", Some("d1")), (2L, "b", None), (3L, "c", None),
        (4L, "d", None)).toDF("id", "v", "dt"), store, "p", "dt")
    val n = VersionedStore.deleteKeysPartitioned(spark,
      Seq(1L, 3L).toDF("id"), store, "p", "id")
    assert(n == 2)
    val rows = VersionedStore.readTable(spark, store, "p")
      .select("id", "dt").as[(Long, Option[String])].collect().toSet
    assert(rows == Set((2L, None), (4L, None)))
  }

  test("deleteKeys that empties the table leaves it readable; missing " +
    "table is a no-op") {
    val store = Files.createTempDirectory("graft-del-all").toString
    VersionedStore.commitPartitioned(spark,
      Seq((1L, "a", "d1"), (2L, "b", "d2")).toDF("id", "v", "dt"),
      store, "p", "dt")
    val n = VersionedStore.deleteKeysPartitioned(spark,
      Seq(1L, 2L).toDF("id"), store, "p", "id")
    assert(n == 0)
    val emptied = VersionedStore.readTable(spark, store, "p")
    assert(emptied.count() == 0)
    assert(emptied.columns.toSet == Set("id", "v", "dt"))
    // a table that was never created is "nothing to delete", not an error
    assert(VersionedStore.deleteKeysPartitioned(spark, Seq(1L).toDF("id"),
      store, "never_created", "id") == 0L)
    assert(VersionedStore.deleteKeys(spark, Seq(1L).toDF("id"),
      store, "never_created", "id") == 0L)
  }

  test("partitioned versioned store: full protocol on the copy+delete-" +
    "rename object-store simulation") {
    spark.sparkContext.hadoopConfiguration.set("fs.objsim.impl",
      classOf[ObjectStoreSimFs].getName)
    val local = Files.createTempDirectory("graft-vsp-objsim").toString
    val store = s"objsim://$local"
    ObjectStoreSimFs.renames.set(0)
    VersionedStore.commitPartitioned(spark,
      Seq((1L, "a", "d1"), (2L, "b", "d1"), (3L, "c", "d2"))
        .toDF("id", "v", "dt"),
      store, "t", "dt", Some("b1"))
    VersionedStore.mergeUpsertPartitioned(spark,
      Seq((2L, "b2", "d1")).toDF("id", "v", "dt"),
      store, "t", "id", "dt", Some("b2"))
    VersionedStore.deleteKeysPartitioned(spark, Seq(1L).toDF("id"),
      store, "t", "id", Some("b3"))
    // replay after a simulated crash-and-retry
    val n = VersionedStore.deleteKeysPartitioned(spark,
      Seq(1L).toDF("id"), store, "t", "id", Some("b3"))
    assert(n == 2)
    assert(VersionedStore.readTable(spark, store, "t")
      .select("id", "v").as[(Long, String)].collect().toMap ==
      Map(2L -> "b2", 3L -> "c"))
    // untouched d2 still owned by (and physically inside) version 1
    assert(vPartFiles(local, "t", "_v_0000001", "dt=d2").nonEmpty)
    assert(ObjectStoreSimFs.renames.get() > 0,
      "no renames observed — the objsim scheme was not actually used")
  }

  test("versioned store: full protocol on a filesystem whose rename is " +
    "copy+delete (object-store simulation)") {
    spark.sparkContext.hadoopConfiguration.set("fs.objsim.impl",
      classOf[ObjectStoreSimFs].getName)
    val local = Files.createTempDirectory("graft-vs-objsim").toString
    val store = s"objsim://$local"
    ObjectStoreSimFs.renames.set(0)
    VersionedStore.commit(spark,
      Seq((1L, "a"), (2L, "b")).toDF("id", "v"), store, "t", Some("b1"))
    VersionedStore.mergeUpsert(spark,
      Seq((2L, "b2"), (3L, "c")).toDF("id", "v"), store, "t", "id",
      Some("b2"))
    VersionedStore.deleteKeys(spark, Seq(1L).toDF("id"), store, "t",
      "id", Some("b3"))
    // replay the delete after a simulated crash-and-retry
    val n = VersionedStore.deleteKeys(spark, Seq(1L).toDF("id"), store,
      "t", "id", Some("b3"))
    assert(n == 2)
    assert(VersionedStore.readTable(spark, store, "t")
      .as[(Long, String)].collect().toMap ==
      Map(2L -> "b2", 3L -> "c"))
    // the committer internals really did route through copy+delete —
    // the protocol was exercised on non-atomic rename, not around it
    assert(ObjectStoreSimFs.renames.get() > 0,
      "no renames observed — the objsim scheme was not actually used")
  }
}
