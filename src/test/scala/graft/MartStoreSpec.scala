package graft

import java.nio.file.Files

import graft.io.MartStore

/** Cross-table atomic publish: a reader must never observe a mix of
  * pre- and post-rebuild tables, whatever point the publisher crashed
  * at — the multi-table property the reference's 11 sequential
  * truncate-loads lack. */
class MartStoreSpec extends SparkSpec {
  import spark.implicits._

  test("publishAll commits every table at once; a snapshot never " +
    "mixes commits; an old snapshot stays consistent (time-travel)") {
    val store = Files.createTempDirectory("graft-mart-atomic").toString
    MartStore.publishAll(spark, Seq(
      "a" -> Seq((1L, "a1")).toDF("id", "v"),
      "b" -> Seq((1L, "b1")).toDF("id", "v")), store, Some("p1"))
    val s1 = MartStore.snapshot(spark, store).get
    assert(s1.tables == Map("a" -> 1L, "b" -> 1L))
    MartStore.publishAll(spark, Seq(
      "a" -> Seq((1L, "a2")).toDF("id", "v"),
      "b" -> Seq((1L, "b2")).toDF("id", "v")), store, Some("p2"))
    val s2 = MartStore.snapshot(spark, store).get
    // the new snapshot reads the new PAIR, the old handle the old PAIR
    // — both internally consistent, never (a2, b1) or (a1, b2)
    assert(s2.readTable(spark, "a").as[(Long, String)].head()._2 == "a2")
    assert(s2.readTable(spark, "b").as[(Long, String)].head()._2 == "b2")
    assert(s1.readTable(spark, "a").as[(Long, String)].head()._2 == "a1")
    assert(s1.readTable(spark, "b").as[(Long, String)].head()._2 == "b1")
  }

  test("a publisher that died between table writes is invisible; the " +
    "next publish sweeps its orphans and commits cleanly") {
    val store = Files.createTempDirectory("graft-mart-crash").toString
    MartStore.publishAll(spark, Seq(
      "a" -> Seq((1L, "a1")).toDF("id", "v"),
      "b" -> Seq((1L, "b1")).toDF("id", "v")), store, Some("p1"))
    // simulate the crash window: table a's NEXT version dir was
    // written, table b's was not, the marker never landed
    Seq((1L, "a2-dead")).toDF("id", "v")
      .write.parquet(s"$store/a/_v_0000002/data")
    // readers: still the committed pair, no mixing
    val s = MartStore.snapshot(spark, store).get
    assert(s.tables == Map("a" -> 1L, "b" -> 1L))
    assert(s.readTable(spark, "a").as[(Long, String)].head()._2 == "a1")
    // an unparsable half-written marker is equally invisible
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$store/_commits/_c_0000002"),
      Array.emptyByteArray)
    assert(MartStore.snapshot(spark, store).get.version == 1L)
    // ...and so is a TRUNCATED one that still carries a parsable
    // prefix (crash mid-write after flushing part of the JSON) — the
    // strict parse requires the complete tables block + closing brace
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$store/_commits/_c_0000003"),
      """{"mart_version":3,"batch_id":"px","publisher":"x","tables":{"a"""")
    assert(MartStore.snapshot(spark, store).get.version == 1L)
    // the retried publish commits ABOVE every corpse (marker-file
    // numbers are never reused) and its post-commit sweep removes them
    val s2 = MartStore.publishAll(spark, Seq(
      "a" -> Seq((1L, "a2")).toDF("id", "v"),
      "b" -> Seq((1L, "b2")).toDF("id", "v")), store, Some("p2"))
    assert(s2.version == 4L)
    assert(s2.readTable(spark, "a").as[(Long, String)].head()._2 == "a2")
    assert(s2.readTable(spark, "b").as[(Long, String)].head()._2 == "b2")
    // corpses gone; retention is COUNT-based over VALID commits, so
    // commit 1 stays (keepCommits=2 valid commits: 1 and 4 — corpse
    // numbers never shrink the window)
    val names = new java.io.File(s"$store/_commits").listFiles()
      .map(_.getName).filter(_.startsWith("_c_")).sorted.toSeq
    assert(names == Seq("_c_0000001", "_c_0000004"), names)
  }

  test("a replayed publish batch is acknowledged without a new commit; " +
    "a subset publish carries unlisted tables forward") {
    val store = Files.createTempDirectory("graft-mart-replay").toString
    MartStore.publishAll(spark, Seq(
      "a" -> Seq((1L, "a1")).toDF("id", "v"),
      "b" -> Seq((1L, "b1")).toDF("id", "v")), store, Some("p1"))
    // subset: only a rebuilds; b carries forward at version 1
    val s2 = MartStore.publishAll(spark, Seq(
      "a" -> Seq((1L, "a2")).toDF("id", "v")), store, Some("p2"))
    assert(s2.tables == Map("a" -> 2L, "b" -> 1L))
    assert(s2.readTable(spark, "b").as[(Long, String)].head()._2 == "b1")
    // crash-retry replay of p2: ack, same commit, no new versions
    val s3 = MartStore.publishAll(spark, Seq(
      "a" -> Seq((1L, "a2")).toDF("id", "v")), store, Some("p2"))
    assert(s3.version == 2L && s3.tables == s2.tables)
  }

  test("commits prune to the keep window and unreferenced version " +
    "dirs prune with them; carried-forward versions survive") {
    val store = Files.createTempDirectory("graft-mart-prune").toString
    MartStore.publishAll(spark, Seq(
      "a" -> Seq((1L, "a1")).toDF("id", "v"),
      "b" -> Seq((1L, "b1")).toDF("id", "v")), store, Some("p1"))
    // three more publishes touching ONLY a: commit 1 ages out of
    // keepCommits=2 but b's version-1 dir is still referenced by the
    // retained commits' carry-forward — it must survive
    (2 to 4).foreach { i =>
      MartStore.publishAll(spark, Seq(
        "a" -> Seq((1L, s"a$i")).toDF("id", "v")), store, Some(s"p$i"))
    }
    // dir names carry a per-publish nonce suffix — compare the
    // numeric version prefixes
    def verDirs(t: String) = Option(
      new java.io.File(s"$store/$t").listFiles()).getOrElse(Array.empty)
      .filter(_.getName.startsWith("_v_"))
      .map(_.getName.stripPrefix("_v_").take(7).toLong).sorted.toSeq
    assert(verDirs("a") == Seq(3L, 4L))
    assert(verDirs("b") == Seq(1L))
    val markers = new java.io.File(s"$store/_commits").listFiles()
      .map(_.getName).filter(_.startsWith("_c_")).sorted.toSeq
    assert(markers == Seq("_c_0000003", "_c_0000004"))
    val s = MartStore.snapshot(spark, store).get
    assert(s.readTable(spark, "a").as[(Long, String)].head()._2 == "a4")
    assert(s.readTable(spark, "b").as[(Long, String)].head()._2 == "b1")
  }

  test("full protocol on the copy+delete-rename object-store " +
    "simulation") {
    spark.sparkContext.hadoopConfiguration.set("fs.objsim.impl",
      classOf[ObjectStoreSimFs].getName)
    val local = Files.createTempDirectory("graft-mart-objsim").toString
    val store = s"objsim://$local"
    ObjectStoreSimFs.renames.set(0)
    MartStore.publishAll(spark, Seq(
      "a" -> Seq((1L, "a1")).toDF("id", "v"),
      "b" -> Seq((1L, "b1")).toDF("id", "v")), store, Some("p1"))
    MartStore.publishAll(spark, Seq(
      "a" -> Seq((1L, "a2")).toDF("id", "v")), store, Some("p2"))
    val s = MartStore.publishAll(spark, Seq(
      "a" -> Seq((1L, "a2")).toDF("id", "v")), store, Some("p2"))
    assert(s.version == 2L)
    assert(s.readTable(spark, "a").as[(Long, String)].head()._2 == "a2")
    assert(s.readTable(spark, "b").as[(Long, String)].head()._2 == "b1")
    assert(ObjectStoreSimFs.renames.get() > 0)
  }

  test("two-publisher race: exactly one marker survives and the " +
    "loser fails loudly, on both filesystem models") {
    def markerFor(nonce: String, ver: String) =
      s"""{"mart_version":1,"batch_id":"pB","publisher":"$nonce",""" +
        s""""tables":{"a":"_v_000000${ver}_$nonce"}}"""

    // atomic-create model (local fs): publisher B computed the same
    // next commit number before A landed; B's PUT must refuse and
    // surface as ConcurrentPublishException, leaving A's commit intact
    val store = Files.createTempDirectory("graft-mart-race").toString
    MartStore.publishAll(spark,
      Seq("a" -> Seq((1L, "a1")).toDF("id", "v")), store, Some("pA"))
    val fs = new org.apache.hadoop.fs.Path(store)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val mpath =
      new org.apache.hadoop.fs.Path(s"$store/_commits/_c_0000001")
    intercept[graft.io.ConcurrentPublishException] {
      MartStore.landMarker(fs, mpath, markerFor("B-nonce", "9"), "B-nonce")
    }
    assert(MartStore.snapshot(spark, store).get.tables == Map("a" -> 1L))

    // blind-PUT model (S3 PutObject semantics): both PUTs "succeed";
    // the PUT/PUT/verify/verify interleaving must make the FIRST
    // writer detect its overwrite and the second verify as winner
    spark.sparkContext.hadoopConfiguration.set("fs.objput.impl",
      classOf[BlindPutSimFs].getName)
    val local2 = Files.createTempDirectory("graft-mart-race2").toString
    val cdir = new org.apache.hadoop.fs.Path(s"objput://$local2/_commits")
    val fs2 = cdir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs2.mkdirs(cdir)
    val m2 = new org.apache.hadoop.fs.Path(cdir, "_c_0000001")
    MartStore.landMarker(fs2, m2, markerFor("nonce-A", "1"), "nonce-A")
    MartStore.landMarker(fs2, m2, markerFor("nonce-B", "2"), "nonce-B")
    intercept[graft.io.ConcurrentPublishException] {
      MartStore.verifyOwnMarker(fs2, m2, "nonce-A")
    }
    MartStore.verifyOwnMarker(fs2, m2, "nonce-B") // the winner
    // exactly one marker file survives, carrying the winner's content
    val markers = fs2.listStatus(cdir).map(_.getPath.getName).toSeq
    assert(markers == Seq("_c_0000001"))
    assert(MartStore.snapshot(spark, s"objput://$local2").get
      .tables == Map("a" -> 2L))
  }

  test("a losing publisher's uncommitted version dirs never touch " +
    "the winner's data and are swept by the next successful publish") {
    val store = Files.createTempDirectory("graft-mart-loser").toString
    MartStore.publishAll(spark,
      Seq("a" -> Seq((1L, "a1")).toDF("id", "v")), store, Some("p1"))
    // a loser computed version 2 for table a, wrote its (nonce-unique)
    // dir, then lost the marker race and threw — its path can never
    // collide with any other publisher's, and it deleted nothing
    Seq((1L, "a2-loser")).toDF("id", "v")
      .write.parquet(s"$store/a/_v_0000002_deadbeef/data")
    val s1 = MartStore.snapshot(spark, store).get
    assert(s1.readTable(spark, "a").as[(Long, String)].head()._2 == "a1")
    // the next successful publish allocates v3 (above the corpse —
    // dir numbers are never reused), commits, and its POST-commit
    // sweep removes the corpse (v2 <= committed ceiling 3, unreferenced)
    val s2 = MartStore.publishAll(spark,
      Seq("a" -> Seq((1L, "a2")).toDF("id", "v")), store, Some("p2"))
    assert(s2.tables == Map("a" -> 3L))
    assert(s2.readTable(spark, "a").as[(Long, String)].head()._2 == "a2")
    val vs = new java.io.File(s"$store/a").listFiles()
      .map(_.getName).filter(_.startsWith("_v_"))
      .map(_.stripPrefix("_v_").take(7).toLong).sorted.toSeq
    assert(vs == Seq(1L, 3L), vs.toString) // corpse swept, v1 retained
  }

  test("an expired lease rejects the stalled publisher's late marker " +
    "at the commit point: nothing committed, store untouched") {
    val store = Files.createTempDirectory("graft-mart-lease").toString
    MartStore.publishAll(spark,
      Seq("a" -> Seq((1L, "a1")).toDF("id", "v")), store, Some("p1"))
    // a publisher that stalled past its lease deadline reaches the
    // commit point; the fence fires BEFORE the marker PUT
    val expired = new graft.io.PublishLease {
      override def assertHeldForCommit(c: Long): Unit =
        throw new graft.io.LeaseExpiredException(
          s"lease expired before commit $c")
    }
    intercept[graft.io.LeaseExpiredException] {
      MartStore.publishAll(spark,
        Seq("a" -> Seq((1L, "a2-zombie")).toDF("id", "v")), store,
        Some("p2"), lease = expired)
    }
    // the late marker never landed: readers still resolve commit 1,
    // and the only on-disk residue is the UNCOMMITTED version dir
    // (invisible; swept by the next successful publish)
    val s = MartStore.snapshot(spark, store).get
    assert(s.version == 1L && s.tables == Map("a" -> 1L))
    assert(s.readTable(spark, "a").as[(Long, String)].head()._2 == "a1")
    val markers = new java.io.File(s"$store/_commits").listFiles()
      .map(_.getName).filter(_.startsWith("_c_")).toSeq
    assert(markers == Seq("_c_0000001"), markers)
    // ...and the retried publish (lease re-acquired → default fence)
    // commits cleanly and sweeps the zombie's orphan dir
    val s2 = MartStore.publishAll(spark,
      Seq("a" -> Seq((1L, "a2")).toDF("id", "v")), store, Some("p2"))
    assert(s2.readTable(spark, "a").as[(Long, String)].head()._2 == "a2")
  }

  test("a zombie publisher whose number got shadowed is reported, " +
    "not returned as success") {
    val store = Files.createTempDirectory("graft-mart-shadow").toString
    MartStore.publishAll(spark,
      Seq("a" -> Seq((1L, "a1")).toDF("id", "v")), store, Some("p1"))
    // simulate the keepCommits-zombie interleaving through the lease
    // injection point: this publisher computed nextC=2, then "stalls"
    // at the commit point while a rival lands commit 3; the no-op
    // lease lets the late marker through, and the post-commit re-list
    // must raise rather than return an unreadable Snapshot
    val stallThenProceed = new graft.io.PublishLease {
      override def assertHeldForCommit(c: Long): Unit = {
        java.nio.file.Files.writeString(
          java.nio.file.Paths.get(s"$store/_commits/_c_0000003"),
          """{"mart_version":3,"batch_id":"rival","publisher":"R",""" +
            """"tables":{"a":"_v_0000003_rivalaa"}}""")
        () // lease considered held — the marker lands anyway
      }
    }
    intercept[graft.io.ShadowedCommitException] {
      MartStore.publishAll(spark,
        Seq("a" -> Seq((1L, "a2-shadowed")).toDF("id", "v")), store,
        Some("p2"), lease = stallThenProceed)
    }
    // the shadowed marker IS durable (its batchId stays in the replay
    // horizon) but readers resolve the rival's higher commit
    val names = new java.io.File(s"$store/_commits").listFiles()
      .map(_.getName).filter(_.startsWith("_c_")).sorted.toSeq
    assert(names == Seq("_c_0000001", "_c_0000002", "_c_0000003"), names)
    assert(MartStore.snapshot(spark, store).get.version == 3L)
    assert(MartStore.appliedBatchIds(spark, store).contains("p2"))
  }
}
