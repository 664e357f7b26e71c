package graft.queries

import org.apache.spark.sql.SparkSession

/** Shared scratch-dir and build-once fixture-store plumbing for
  * registry queries, factored so the naming/cleanup scheme and the
  * session-cache discipline cannot drift between the queries that
  * need them (dpp/zorder/postings stores, the store-maintenance
  * sequences).
  */
object FixtureStore {

  /** Session-lifetime keyed memoizer for build-once artifacts
    * (snapshot stores, persisted model frames, index fixtures).
    * `map.synchronized { getOrElseUpdate(k, build) }` holds EVERY
    * key hostage to one multi-second build — exactly the
    * parallel-warmup shape the AqeGate fix targets: a concurrent
    * query on a DIFFERENT (session, dir) key would block for the
    * whole build. Here the monitor only installs a per-key lazy
    * cell; the build runs under the CELL's own lock, so same-key
    * callers still build exactly once (and block only on their own
    * key) while different keys never wait on each other. A build
    * that throws leaves the cell unpoisoned — lazy initialization
    * retries on the next force. */
  final class KeyedOnce[K, V] {
    private final class Cell(thunk: () => V) {
      lazy val value: V = thunk()
    }
    private val cells = scala.collection.mutable.Map.empty[K, Cell]
    def apply(key: K)(build: => V): V = {
      val cell = cells.synchronized {
        cells.getOrElseUpdate(key, new Cell(() => build))
      }
      cell.value
    }
  }

  /** The deterministic per-(query, sf-dir) scratch path — exposed
    * separately from [[clearedScratchDir]] because an oracle twin
    * that reads a persisted fixture back (the `bpe_token_count_store`
    * merge table) must compose the SAME path formula at SQL-generation
    * time, and duplicating the formula is how the two sides drift. */
  def scratchDirFor(name: String, d: String): String =
    s"${System.getProperty("java.io.tmpdir")}/graft_q_${name}_" +
      java.lang.Integer.toHexString(d.hashCode)

  /** Deterministic per-(query, sf-dir) scratch dir, cleared on call.
    * Queries that WRITE stores use this so repeated bench executions
    * do not accrete state across runs — each execution owns its
    * batches. */
  def clearedScratchDir(s: SparkSession, name: String,
                        d: String): String = {
    val dir = scratchDirFor(name, d)
    val dp = new org.apache.hadoop.fs.Path(dir)
    dp.getFileSystem(s.sparkContext.hadoopConfiguration).delete(dp, true)
    dir
  }

  private val cache =
    new KeyedOnce[(SparkSession, String, String), String]

  /** Build-once store per (session, query-name, sf-dir): a
    * production store (partitioned fact, clustered table, search
    * index) is written once per corpus snapshot and read many times,
    * so the fixture write is not the query under test — `build` runs
    * only on the first call for a given key. */
  def buildOnce(s: SparkSession, name: String, d: String)
               (build: String => Unit): String =
    cache((s, name, d)) {
      val dir = clearedScratchDir(s, name, d)
      build(dir)
      dir
    }

  /** Pin a memoized session artifact (ADVICE r16). Under a LOCAL
    * master `localCheckpoint(true)` is the right pin: lineage
    * truncation is safe (executor loss cannot happen — the executor
    * IS the driver) and [[clearRddCaches]] exempts
    * locally-checkpointed RDDs by contract. On any NON-local
    * deployment a localCheckpoint block is unrecoverable after
    * executor loss / dynamic-allocation release — every consumer of
    * the artifact would fail permanently — so pin with an eagerly
    * materialized reliable persist instead: full lineage is kept and
    * an evicted block recomputes transparently. */
  def pinArtifact(df: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame =
    if (df.sparkSession.sparkContext.isLocal) df.localCheckpoint(true)
    else {
      val p = df.persist(
        org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      p.count() // materialize now, like localCheckpoint(eager = true)
      p
    }

  /** Drop every cached RDD except local checkpoints — the one
    * inter-query cache clear (`graft.Bench` between timed queries and
    * after its parallel warmup; `graft.tools.TimeQuery` before each
    * timed run). Registry queries persist intermediates, but an
    * invocation cannot unpersist frames its returned plan still
    * depends on — so every execution leaves its caches pinned in
    * `persistentRdds`: MEMORY_AND_DISK blocks on disk AND their
    * upstream shuffle files (the ContextCleaner never reclaims a
    * shuffle an extant RDD references). Over 198 queries × (warmup +
    * passes) that is unbounded disk growth — the first r16 zipf16 leg
    * died ENOSPC in the steady tail exactly this way, with ~55 persist
    * sites re-persisting fresh RDDs per pass. Caches are never reused
    * across invocations (each call builds new RDDs), so dropping them
    * between sequential queries is semantics-free. Non-blocking
    * (block removal is async); callers run it outside their timers.
    *
    * LOCALLY-checkpointed RDDs (and only those — a RELIABLY-
    * checkpointed RDD's blocks are re-readable from its checkpoint
    * files, so its cache is droppable like any persist) are exempt:
    * a local checkpoint TRUNCATES lineage WITHOUT writing a
    * recoverable copy, so unpersisting one destroys its only copy —
    * and [[pinArtifact]] pins memoized session artifacts (the prefix-
    * filter pair sets, incremental-dedup survivors, cluster frames)
    * exactly that way under a local master; dropping them made every
    * later pass of those queries fail CHECKPOINT_RDD_BLOCK_ID_NOT_
    * FOUND (the r16 inherited-state bug). This exemption and the pin
    * choice in [[pinArtifact]] are one contract: a pin that is not a
    * local checkpoint carries full lineage, so the clear may drop its
    * blocks and it recomputes. Per-invocation checkpoint frames stay
    * small (k-row accounting / centroid / superstep frames) and the
    * ContextCleaner reclaims them on GC once unreferenced. */
  def clearRddCaches(spark: SparkSession): Unit =
    spark.sparkContext.getPersistentRDDs.values
      // local = materialized checkpoint WITHOUT a checkpoint file
      // (getCheckpointFile is defined only for reliable checkpoints;
      // RDD.isLocallyCheckpointed itself is private[spark]). All
      // engine artifacts checkpoint EAGERLY, so the marked-but-not-
      // yet-materialized window never reaches an inter-query clear.
      .filterNot(r => r.isCheckpointed && r.getCheckpointFile.isEmpty)
      .foreach(_.unpersist(blocking = false))
}
