package graft.io

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}

/** Cross-table atomic publish: the multi-table answer to
  * [[VersionedStore]]'s single-table commits. The reference's mart
  * rebuild truncate-loads 11 tables one by one
  * (`transformation_dw.py:122-334`) — a reader querying mid-rebuild
  * sees some tables new and some old. Here a publish writes every
  * table's next version dir UNCOMMITTED, then lands ONE small commit
  * marker naming all (table → version-dir) pairs:
  *
  * Layout: `<storeDir>/<table>/_v_<N>_<nonce>/data/` (immutable data,
  * no per-table marker — visibility is gated solely by the mart
  * commit; the per-publish nonce in the dir name makes version dirs
  * PUBLISHER-UNIQUE, so racing publishers can never write or sweep
  * each other's paths) + `<storeDir>/_commits/_c_<M>` (one-line JSON
  * `{"mart_version":M,"batch_id":"…","publisher":"…",
  * "tables":{"t1":"_v_0000003_ab12cd34",…}}`).
  *
  * THE COMMIT POINT is the completed write of `_c_<M>` — a single
  * small object PUT covering ALL tables at once. A reader resolves a
  * [[Snapshot]] from the highest valid marker ONCE and reads every
  * table through it, so it observes one consistent table-set by
  * construction: there is no interleaving in which it can see table A
  * from commit M and table B from commit M-1. A marker is VALID only
  * if it parses completely (trailing brace, tables block present) —
  * a truncated half-written marker reads as not-committed.
  *
  * Crash windows (single publisher per store):
  *   - dies after writing some tables' version dirs, before the
  *     marker → readers unaffected (old marker still current); the
  *     orphaned dirs are swept by the next SUCCESSFUL publish's
  *     post-commit housekeeping;
  *   - dies after the marker, before prune → the commit IS durable;
  *     stale markers/versions prune on the next publish;
  *   - dies mid-marker-write → the truncated file is invalid (never
  *     a commit); the next publish allocates the NEXT commit number
  *     (numbers with any existing file are never reused) and removes
  *     the corpse after committing;
  *   - the publish batch is REPLAYED → `batchId` dedup against every
  *     retained commit: acknowledged, no new versions.
  *
  * A publish may cover a SUBSET of tables: unlisted tables carry
  * forward at their current version in the new marker (the
  * incremental form — rebuild 2 of 11 tables, commit all 11
  * consistently). Old commits are kept `keepCommits` deep; version
  * dirs referenced by NO retained commit are pruned with them.
  *
  * CONCURRENT PUBLISHERS: the design assumes one publisher per store,
  * but a second one must fail LOUDLY, never corrupt. Nonce-unique
  * version dirs mean the data paths can never collide, and ALL
  * sweeping happens post-commit (only a publisher whose marker just
  * landed sweeps — a loser throws before any delete), restricted to
  * unreferenced dirs whose version number is ≤ the table's committed
  * maximum (a younger publisher's in-flight dirs carry a HIGHER
  * number and are untouchable). The marker race itself resolves by
  * filesystem model:
  *   - HDFS/local: atomic create-if-absent — the second create
  *     throws, surfaced as [[ConcurrentPublishException]];
  *   - object stores: create is a blind PUT with last-writer-wins —
  *     both "succeed". publishAll therefore re-reads the marker it
  *     just wrote and checks the embedded per-publish `publisher`
  *     nonce; a mismatch means this publish was overwritten and it
  *     throws [[ConcurrentPublishException]]. A read-back that FAILS
  *     outright is NOT treated as a lost race — it surfaces as the
  *     I/O error it is (the commit may well have landed; the caller
  *     must re-inspect, not blindly retry).
  * Either way exactly one publisher's marker survives as commit N,
  * the loser's uncommitted version dirs are swept by a later
  * publish, and a loser's retry dedups on `batchId` if the winner
  * was a replay of the same batch. The post-PUT verification closes
  * the race to the PUT-to-read window — on stores with
  * read-after-write consistency (S3 since 2020) the overwrite is
  * detected; a store without even that needs an external lease,
  * which no marker protocol can replace.
  *
  * Residual caveat (keepCommits zombie): a publisher that computes
  * its commit number, then stalls across ≥ `keepCommits` SUCCESSFUL
  * publishes by others, can find its number's marker file aged away
  * and land a marker BELOW the current maximum — durable but never
  * visible (readers take the highest commit). Two defenses, both in
  * `publishAll`: (1) the [[PublishLease]] fence is asserted at the
  * commit point, so a lease-backed deployment rejects the stalled
  * publisher's late marker BEFORE it lands ([[LeaseExpiredException]],
  * nothing committed); (2) lease or not, a post-commit re-list
  * raises [[ShadowedCommitException]] when the landed marker sits
  * below an already-higher commit, so a shadowed publish is reported
  * rather than returned as success. Size `keepCommits` above any
  * plausible publisher stall (the same horizon rule as `batchId`
  * replay dedup), and front the store with a real lease when
  * publishers can hang for whole retention windows. */

/** A concurrent publisher won the commit race (MartStore scaladoc,
  * "CONCURRENT PUBLISHERS"): nothing from this publish is visible;
  * the store is exactly as the winner left it. Retry the publish —
  * a same-`batchId` winner dedups the retry into an acknowledge. */
class ConcurrentPublishException(message: String)
  extends RuntimeException(message)

/** This publish's marker landed DURABLY but a higher commit already
  * exists, so readers (who take the highest commit) may never have
  * observed it — the keepCommits-zombie outcome (MartStore scaladoc,
  * "Residual caveat"). The marker is retained and its `batchId` is in
  * the replay horizon, so a retry of the same batch is acknowledged,
  * not re-published; the exception exists so a shadowed publish is
  * REPORTED instead of returned as a successful Snapshot. */
final class ShadowedCommitException(message: String)
  extends ConcurrentPublishException(message)

/** The publisher's lease expired before the commit point
  * ([[PublishLease]]): NOTHING was committed — the marker was never
  * PUT; only uncommitted (invisible) version dirs were written, and
  * the next successful publish sweeps them. Re-acquire the lease and
  * retry the batch. */
final class LeaseExpiredException(message: String)
  extends RuntimeException(message)

/** Fencing hook for the keepCommits-zombie window: a publisher that
  * stalls across a full marker-retention window can otherwise land a
  * durable-but-never-visible commit below the current maximum (see
  * MartStore scaladoc, "Residual caveat"). [[MartStore.publishAll]]
  * invokes [[assertHeldForCommit]] at the COMMIT POINT — after all
  * version dirs are written, immediately before the marker PUT — so
  * an implementation backed by a real fencing primitive (a ZK/etcd
  * lease, a DynamoDB conditional write, a lock table) rejects the
  * stalled publisher's late marker before it lands. Contract: throw
  * [[LeaseExpiredException]] if the lease is no longer held; the
  * implementation must consider the lease held through the PUT-to-
  * verify window (i.e. renew with a margin wider than one marker
  * PUT), and the lease's validity horizon must be ≤ the time
  * `keepCommits` successful publishes take — then a zombie is fenced
  * BEFORE its number can be shadowed. The default
  * ([[PublishLease.Unfenced]]) is a no-op: single-publisher stores
  * need no fence, and the post-commit shadow re-check in publishAll
  * still reports (rather than hides) a zombie that raced through. */
trait PublishLease {
  def assertHeldForCommit(commitNumber: Long): Unit
}

object PublishLease {
  /** No fencing — the single-publisher default. */
  object Unfenced extends PublishLease {
    override def assertHeldForCommit(commitNumber: Long): Unit = ()
  }
}

object MartStore {
  private val CommitsDir = "_commits"
  private val CPrefix = "_c_"
  private val VerPrefix = "_v_"
  private val VerName = """_v_(\d+).*""".r

  private def vname(v: Long, nonce: String): String =
    f"$VerPrefix$v%07d_$nonce"

  /** Numeric version of a `_v_<N>_<nonce>` version-dir name. */
  private def vnum(dirName: String): Option[Long] = dirName match {
    case VerName(d) => d.toLongOption
    case _          => None
  }

  /** One resolved, immutable view of the whole store: every
    * `readTable` against the same snapshot reads from the same mart
    * commit — the all-or-nothing reader contract. `dirs` maps table →
    * version-dir name (the marker's ground truth); `tables` exposes
    * the numeric versions. */
  case class Snapshot(version: Long, batchId: Option[String],
                      dirs: Map[String, String], storeDir: String) {
    def tables: Map[String, Long] =
      dirs.flatMap { case (t, d) => vnum(d).map(t -> _) }
    def readTable(spark: SparkSession, table: String): DataFrame = {
      val d = dirs.getOrElse(table,
        throw new java.util.NoSuchElementException(
          s"table $table not in mart commit $version"))
      spark.read.parquet(s"$storeDir/$table/$d/data")
    }
  }

  private def readMarkerText(fs: org.apache.hadoop.fs.FileSystem,
                             p: org.apache.hadoop.fs.Path)
      : Option[String] =
    try {
      val in = fs.open(p)
      try Some(scala.io.Source.fromInputStream(in, "UTF-8").mkString)
      finally in.close()
    } catch { case _: java.io.IOException => None }

  /** Strict marker parse: the text must END with the closing brace
    * and carry a complete `"tables":{…}` block — a marker truncated
    * mid-write (crash, disk-full) parses as None, i.e. NOT
    * committed, never as a valid commit with a gutted table map. */
  private def parseMarker(txt: String)
      : Option[(Long, Option[String], Map[String, String])] =
    for {
      _ <- if (txt.trim.endsWith("}")) Some(()) else None
      m <- """"mart_version":(\d+)""".r.findFirstMatchIn(txt)
      body <- """"tables":\{([^}]*)\}""".r.findFirstMatchIn(txt)
        .map(_.group(1))
    } yield {
      val batch = """"batch_id":"([^"]*)"""".r.findFirstMatchIn(txt)
        .map(_.group(1)).filter(_.nonEmpty)
      // one "table":"<dir-name>" entry per table
      val tables = """"([^"]+)":"([^"]+)"""".r.findAllMatchIn(body)
        .map(g => g.group(1) -> g.group(2)).toMap
      (m.group(1).toLong, batch, tables)
    }

  /** Every VALID commit marker, ascending. An empty, truncated, or
    * unparsable marker file (crash mid-write) is skipped — not
    * committed. */
  private def commits(spark: SparkSession, storeDir: String)
      : Seq[(Long, org.apache.hadoop.fs.Path,
             (Long, Option[String], Map[String, String]))] = {
    val dir = new org.apache.hadoop.fs.Path(s"$storeDir/$CommitsDir")
    val fs = Fs.get(spark, storeDir)
    if (!fs.exists(dir)) return Nil
    fs.listStatus(dir).toSeq
      .filter(s => s.isFile && s.getPath.getName.startsWith(CPrefix))
      .flatMap { s =>
        s.getPath.getName.stripPrefix(CPrefix).toLongOption.flatMap { n =>
          readMarkerText(fs, s.getPath).flatMap(parseMarker)
            .filter(_._1 == n).map(p => (n, s.getPath, p))
        }
      }
      .sortBy(_._1)
  }

  /** Highest commit-marker FILE number present, valid or not — commit
    * numbers with any existing file are never reused, so a truncated
    * corpse can never collide with (or be resurrected by) a retry. */
  private def maxMarkerFile(fs: org.apache.hadoop.fs.FileSystem,
                            storeDir: String): Long = {
    val dir = new org.apache.hadoop.fs.Path(s"$storeDir/$CommitsDir")
    if (!fs.exists(dir)) return 0L
    fs.listStatus(dir).toSeq
      .filter(s => s.isFile && s.getPath.getName.startsWith(CPrefix))
      .flatMap(_.getPath.getName.stripPrefix(CPrefix).toLongOption)
      .maxOption.getOrElse(0L)
  }

  def snapshot(spark: SparkSession, storeDir: String): Option[Snapshot] =
    commits(spark, storeDir).lastOption.map { case (v, _, (_, b, t)) =>
      Snapshot(v, b, t, storeDir)
    }

  /** Batch ids of every retained commit — the replay-detection
    * window, as in [[VersionedStore.appliedBatchIds]]. */
  def appliedBatchIds(spark: SparkSession, storeDir: String): Set[String] =
    commits(spark, storeDir).flatMap(_._3._2).toSet

  private def versionDirs(fs: org.apache.hadoop.fs.FileSystem,
                          troot: org.apache.hadoop.fs.Path)
      : Seq[(Long, org.apache.hadoop.fs.Path)] =
    if (!fs.exists(troot)) Nil
    else fs.listStatus(troot).toSeq
      .filter(s => s.isDirectory && s.getPath.getName.startsWith(VerPrefix))
      .flatMap(s => vnum(s.getPath.getName).map(v => (v, s.getPath)))

  /** PUT the marker with create-if-absent semantics. On an
    * atomic-create filesystem a collision with a concurrent
    * publisher's VALID marker surfaces as
    * [[ConcurrentPublishException]]; any other create/write failure
    * (including colliding with a truncated corpse) rethrows as the
    * I/O error it is. On a blind-PUT store both writes "succeed" and
    * the loser is caught by [[verifyOwnMarker]]. Package-visible so
    * MartStoreSpec can drive the PUT/PUT/verify/verify interleaving
    * deterministically. */
  private[graft] def landMarker(fs: org.apache.hadoop.fs.FileSystem,
                                mpath: org.apache.hadoop.fs.Path,
                                marker: String,
                                nonce: String): Unit =
    try {
      val out = fs.create(mpath, false)
      try out.write((marker + "\n").getBytes("UTF-8")) finally out.close()
    } catch {
      case e: java.io.IOException =>
        // ONE read of the marker under this commit number; validity
        // and ownership both derive from that single snapshot of the
        // file (two reads could straddle a racing overwrite and
        // disagree). If a valid marker exists and it is OURS, the
        // write actually completed and only the tail of the
        // create/close path failed (e.g. flush-on-close error) — the
        // commit landed; treating it as lost would invite a duplicate
        // publish. Only a RIVAL's valid marker is a lost race; no
        // valid marker at all rethrows the I/O error.
        val existing =
          if (fs.exists(mpath)) readMarkerText(fs, mpath) else None
        if (existing.flatMap(parseMarker).isEmpty) throw e
        val own = existing.exists(t =>
          """"publisher":"([^"]*)"""".r.findFirstMatchIn(t)
            .map(_.group(1)).contains(nonce))
        if (!own)
          throw new ConcurrentPublishException(
            s"commit $mpath was published concurrently " +
              s"(atomic create refused: ${e.getMessage})")
    }

  /** Last-writer-wins detection for stores whose create() is a blind
    * PUT (see scaladoc): the surviving marker must carry OUR nonce.
    * A SUCCESSFUL read with a different nonce = overwritten →
    * [[ConcurrentPublishException]]. A read that keeps FAILING is an
    * I/O problem, not a lost race — the commit may have landed, so
    * it surfaces as an IOException telling the caller to re-inspect
    * rather than blindly re-publish. */
  private[graft] def verifyOwnMarker(fs: org.apache.hadoop.fs.FileSystem,
                                     mpath: org.apache.hadoop.fs.Path,
                                     nonce: String): Unit = {
    val winner = (1 to 3).iterator
      .map(_ => readMarkerText(fs, mpath))
      .collectFirst { case Some(t) => t }
      .getOrElse(throw new java.io.IOException(
        s"commit marker $mpath could not be read back after the PUT — " +
          "the commit may have landed; inspect the store before " +
          "retrying the publish"))
    if (!""""publisher":"([^"]*)"""".r.findFirstMatchIn(winner)
        .map(_.group(1)).contains(nonce))
      throw new ConcurrentPublishException(
        s"commit $mpath was overwritten by a concurrent publisher " +
          "between PUT and verify — this publish did not land")
  }

  /** Publish `tables` as one atomic commit: write each table's next
    * version dir (nonce-unique path), land the single marker naming
    * every table's version dir (published ones advance, the rest
    * carry forward), then — having WON the commit — sweep aged
    * markers, invalid marker corpses, and version dirs no retained
    * commit references. Returns the committed snapshot.
    * Replay-idempotent on `batchId`.
    *
    * `lease` is the zombie-publisher fence ([[PublishLease]]): it is
    * asserted at the commit point, after the version-dir writes and
    * immediately before the marker PUT, so a publisher whose lease
    * expired mid-stall aborts with [[LeaseExpiredException]] having
    * committed nothing. Independent of the lease, a post-commit
    * re-list detects the shadowed outcome (our marker landed below an
    * already-higher commit) and raises [[ShadowedCommitException]]
    * instead of returning a Snapshot no reader will ever resolve. */
  def publishAll(spark: SparkSession, tables: Seq[(String, DataFrame)],
                 storeDir: String, batchId: Option[String] = None,
                 keepCommits: Int = 2,
                 lease: PublishLease = PublishLease.Unfenced): Snapshot = {
    if (batchId.exists(appliedBatchIds(spark, storeDir)))
      return snapshot(spark, storeDir).get
    val fs = Fs.get(spark, storeDir)
    val cs = commits(spark, storeDir)
    val cur: Map[String, String] = cs.lastOption.map(_._3._3)
      .getOrElse(Map.empty)
    // never reuse a commit number with ANY file (valid or corpse)
    val nextC = math.max(cs.lastOption.map(_._1).getOrElse(0L),
      maxMarkerFile(fs, storeDir)) + 1
    val nonce = java.util.UUID.randomUUID().toString
    val nonce8 = nonce.replace("-", "").take(8)
    // write every table's next version dir, side by side
    // ([[graft.IndependentJobs]] waits for all of them) — all
    // UNCOMMITTED until the one marker below, on paths no other
    // publisher can collide with (the nonce); a crash or a failed
    // write anywhere here leaves the store exactly as readers
    // currently see it. NOTHING is deleted before the commit point.
    val newDirs: Map[String, String] =
      graft.IndependentJobs.run(tables.map { case (name, df) =>
        name -> { () =>
          val troot = new org.apache.hadoop.fs.Path(s"$storeDir/$name")
          val v =
            versionDirs(fs, troot).map(_._1).maxOption.getOrElse(0L) + 1
          val dirName = vname(v, nonce8)
          Fs.write(df).mode(SaveMode.Overwrite)
            .parquet(s"$storeDir/$name/$dirName/data")
          dirName
        }
      })
    val all = cur ++ newDirs
    // ---- the commit point: ONE small object PUT for ALL tables ----
    val body = all.toSeq.sortBy(_._1)
      .map { case (t, d) => s""""$t":"$d"""" }.mkString(",")
    val marker = s"""{"mart_version":$nextC,"batch_id":"${
      batchId.getOrElse("")}","publisher":"$nonce","tables":{$body}}"""
    val cdir = new org.apache.hadoop.fs.Path(s"$storeDir/$CommitsDir")
    fs.mkdirs(cdir)
    val mpath = new org.apache.hadoop.fs.Path(cdir, f"$CPrefix$nextC%07d")
    // zombie fence: a publisher that stalled between computing nextC
    // and reaching this line asserts its lease is STILL held before
    // the marker can land — an expired lease aborts with nothing
    // committed (only invisible version dirs, swept later)
    lease.assertHeldForCommit(nextC)
    landMarker(fs, mpath, marker, nonce)
    verifyOwnMarker(fs, mpath, nonce)
    // ---- post-commit housekeeping — WE are the committed publisher
    // (a loser threw above and deletes nothing, ever). Crash-safe to
    // skip or die inside: everything here re-runs on the next
    // successful publish.
    val after = commits(spark, storeDir)
    // shadowed-commit report: if the re-list already shows a VALID
    // commit above ours, readers resolve that one — our durable
    // marker may never have been (and never again will be) the
    // store's visible state. Raise rather than return a Snapshot
    // nobody can read; the retained marker keeps our batchId in the
    // replay horizon, so a retry is acknowledged, not duplicated.
    // (A racer landing nextC+1 in the instant after our verify trips
    // this too — indistinguishable from the zombie case by re-list,
    // and the same retry-acknowledge path resolves both.)
    after.filter(_._1 > nextC).map(_._1).maxOption.foreach { shadowMax =>
      throw new ShadowedCommitException(
        s"commit $nextC landed below the store's current maximum " +
          s"$shadowMax — a concurrent publisher shadowed this publish " +
          "(keepCommits-zombie window); the marker is durable but " +
          "readers resolve the higher commit. Retry the batch: the " +
          "batchId dedup acknowledges it if this commit is retained.")
    }
    // COUNT-based retention (never number-distance: commit numbers
    // skip over corpses, and a number window would silently retain
    // fewer than keepCommits valid commits — shrinking both the
    // time-travel window and the batchId replay horizon)
    val retained = after.takeRight(keepCommits)
    val retainedNames = retained.map(_._2.getName).toSet
    val validNames = after.map(_._2.getName).toSet
    fs.listStatus(cdir).toSeq
      .filter(s => s.isFile && s.getPath.getName.startsWith(CPrefix))
      .foreach { s =>
        val id = s.getPath.getName.stripPrefix(CPrefix).toLongOption
        val aged = validNames.contains(s.getPath.getName) &&
          !retainedNames.contains(s.getPath.getName)
        // invalid corpses at or below our commit number (an in-flight
        // racer writing a HIGHER number is untouchable)
        val corpse = !validNames.contains(s.getPath.getName) &&
          id.forall(_ <= nextC)
        if (aged || corpse) fs.delete(s.getPath, false)
      }
    val live: Map[String, Set[String]] = retained.flatMap(_._3._3.toSeq)
      .groupBy(_._1).map { case (t, ds) => t -> ds.map(_._2).toSet }
    // committed ceiling per table: only dirs STRICTLY below it are
    // sweepable. At-ceiling dirs are protected even when unreferenced
    // — on a blind-PUT store a rival's same-numbered dir can be the
    // one the SURVIVING marker references during the PUT-to-verify
    // window, and dirs above belong to a younger in-flight publisher.
    val ceiling: Map[String, Long] = live.map { case (t, ds) =>
      t -> ds.flatMap(vnum).maxOption.getOrElse(0L)
    }
    fs.listStatus(new org.apache.hadoop.fs.Path(storeDir)).toSeq
      .filter(s => s.isDirectory && s.getPath.getName != CommitsDir)
      .foreach { tdir =>
        val name = tdir.getPath.getName
        versionDirs(fs, tdir.getPath)
          .filter { case (v, p) =>
            // a table with NO committed version keeps everything: a
            // racing first publish's in-flight dirs must survive
            // (its corpses clean up once the table first commits)
            !live.getOrElse(name, Set.empty).contains(p.getName) &&
              v < ceiling.getOrElse(name, 0L) }
          .foreach { case (_, p) => fs.delete(p, true) }
      }
    // blind-PUT closure: if a rival overwrote our marker AFTER the
    // first verify, the sweep above ran with a stale view — re-check
    // so the loss is REPORTED (the strict-below ceiling already kept
    // the sweep from touching any same-numbered rival dir)
    verifyOwnMarker(fs, mpath, nonce)
    Snapshot(nextC, batchId, all, storeDir)
  }
}
