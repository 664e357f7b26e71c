package graft.queries

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}

/** The session-artifact contract of the registry queries, in one
  * file: the scratch-dir scheme, the one build-once memo, the one pin
  * rule, and the inter-query cache clear that exempts exactly what
  * the pin rule pins. Query modules memoize only through [[memo]],
  * [[buildOnce]] and [[artifact]] — never with a module-local memo
  * table or a direct pin — so the naming/cleanup scheme, the
  * session-cache discipline and the bench isolation contract cannot
  * drift between modules (split across six modules, they produced
  * the r16 unpersist-killed-memo bug and the r17 masked regression).
  */
object FixtureStore {

  /** Session-lifetime keyed memoizer behind [[memo]].
    * `map.synchronized { getOrElseUpdate(k, build) }` would hold
    * EVERY key hostage to one multi-second build — the bench's
    * parallel warmup builds 8 queries at once, and a query on a
    * DIFFERENT (session, name, dir) key would block for the whole
    * build. Here the monitor only installs a per-key lazy cell; the
    * build runs under the CELL's own lock, so same-key callers still
    * build exactly once (and block only on their own key) while
    * different keys never wait on each other. A build that throws
    * leaves the cell unpoisoned — lazy initialization retries on the
    * next force. */
  private final class KeyedOnce[K, V] {
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

  /** The per-(query, sf-dir, JVM) scratch path — exposed separately
    * from [[clearedScratchDir]] because an oracle twin that reads a
    * persisted fixture back (the `bpe_token_count_store` merge table)
    * must compose the SAME path formula at SQL-generation time, and
    * duplicating the formula is how the two sides drift. The JVM's
    * process id is part of the name: two JVMs over the same data dir
    * (a test suite and a `Verify` dump) would otherwise share, and
    * clear, each other's stores mid-run. */
  def scratchDirFor(name: String, d: String): String =
    s"${System.getProperty("java.io.tmpdir")}/graft_q_${name}_" +
      s"${java.lang.Integer.toHexString(d.hashCode)}_" +
      ProcessHandle.current().pid()

  /** Deterministic per-(query, sf-dir) scratch dir, cleared on call.
    * Queries that WRITE stores use this so repeated bench executions
    * do not accrete state across runs — each execution owns its
    * batches. */
  def clearedScratchDir(s: SparkSession, name: String,
                        d: String): String = {
    val dir = scratchDirFor(name, d)
    val dp = new org.apache.hadoop.fs.Path(dir)
    graft.io.Fs.get(s, dp).delete(dp, true)
    dir
  }

  private val cache = new KeyedOnce[(SparkSession, String, String), Any]

  /** Session-lifetime memo per (session, name, sf dir): `build` runs
    * only on the first call for a key (same-key callers wait for it,
    * other keys never do; a build that throws is retried by the next
    * caller). One namespace with [[buildOnce]] and [[artifact]], so
    * every name is used by one of them only. For values that are not
    * a single DataFrame (a loaded merge list); a DataFrame artifact
    * goes through [[artifact]], which also pins it. */
  def memo[V](s: SparkSession, name: String, d: String)
             (build: => V): V =
    cache((s, name, d))(build).asInstanceOf[V]

  /** Build-once store per (session, query-name, sf-dir): a
    * production store (partitioned fact, clustered table, search
    * index) is written once per corpus snapshot and read many times,
    * so the fixture write is not the query under test — `build` runs
    * only on the first call for a given key. */
  def buildOnce(s: SparkSession, name: String, d: String)
               (build: String => Unit): String =
    memo(s, name, d) {
      val dir = clearedScratchDir(s, name, d)
      build(dir)
      dir
    }

  /** Memoized, pinned session artifact per (session, name, sf dir):
    * a snapshot-grain frame (pair set, model scores, cluster labels)
    * built once and served to every later execution of every
    * consuming query. The frame is pinned by [[pinArtifact]] — a
    * memoized frame that is NOT pinned silently recomputes its whole
    * plan for every consumer once [[clearRddCaches]] drops its
    * blocks (measured: in-suite `dedup_minhash_lsh` 3.5 s vs 1.7 s
    * isolated). Per-invocation frames are never pinned: only a memo
    * holds a pin, so pins are bounded by the number of names. */
  def artifact(s: SparkSession, name: String, d: String)
              (build: => DataFrame): DataFrame =
    memo(s, name, d)(pinArtifact(build))

  /** The pin rule (ADVICE r16). A frame that is already a
    * materialized local checkpoint (the pair-join operators end in
    * an eager `localCheckpoint`) is returned as it is — a second pin
    * would only copy it in one more job. Otherwise, under a LOCAL
    * master `localCheckpoint(true)` is the right pin: lineage
    * truncation is safe (executor loss cannot happen — the executor
    * IS the driver) and [[clearRddCaches]] exempts local checkpoints.
    * On any NON-local deployment a localCheckpoint block is
    * unrecoverable after executor loss / dynamic-allocation release —
    * every consumer of the artifact would fail permanently — so pin
    * with an eagerly materialized reliable persist instead: full
    * lineage is kept and an evicted block recomputes transparently. */
  private def pinArtifact(df: DataFrame): DataFrame =
    df.queryExecution.logical match {
      case r: org.apache.spark.sql.execution.LogicalRDD
          if isLocalPin(r.rdd) => df
      case _ if df.sparkSession.sparkContext.isLocal =>
        df.localCheckpoint(true)
      case _ =>
        val p = df.persist(
          org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        p.count() // materialize now, like localCheckpoint(eager = true)
        p
    }

  /** A materialized local checkpoint: checkpointed WITHOUT a
    * checkpoint file (`getCheckpointFile` is defined only for
    * reliable checkpoints; `RDD.isLocallyCheckpointed` itself is
    * private[spark]). Engine checkpoints are all EAGER, so the
    * marked-but-not-yet-materialized window never reaches a pin or
    * an inter-query clear. */
  private def isLocalPin(r: RDD[_]): Boolean =
    r.isCheckpointed && r.getCheckpointFile.isEmpty

  /** Clear the CacheManager, then drop every cached RDD except local
    * checkpoints — the one inter-query cache clear (`graft.Bench`
    * between timed queries and after its parallel warmup;
    * `graft.tools.TimeQuery` before each timed run). The catalog clear
    * comes first so a later run cannot be served an earlier run's
    * cached blocks through the CacheManager (skipping it hid a 2.2×
    * regression in r17). Registry queries persist intermediates, but an
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
    * and [[artifact]] pins memoized session artifacts exactly that
    * way under a local master; dropping them made every later pass
    * of those queries fail CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND (the r16
    * inherited-state bug). The exemption and the pin rule share
    * [[isLocalPin]]: a pin that is not a local checkpoint carries
    * full lineage, so the clear may drop its blocks and it
    * recomputes. Per-invocation checkpoint frames stay small (k-row
    * accounting / centroid / superstep frames) and the ContextCleaner
    * reclaims them on GC once unreferenced. */
  def clearRddCaches(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values
      .filterNot(isLocalPin)
      .foreach(_.unpersist(blocking = false))
  }
}
