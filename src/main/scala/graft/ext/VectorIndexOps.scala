package graft.ext

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.ops.Relational

/** Persisted, batch-incremental IVF (inverted-file) ANN index — the
  * centroid-family counterpart of the persisted MinHash/LSH dedup
  * index ([[DedupOps.incrementalMinhashDedup]]): a 100 TB corpus is
  * not re-indexed per query batch, it is indexed ONCE and maintained
  * per ingest batch at O(batch) cost.
  *
  * Index layout under `indexDir` (two parquet tables, same
  * [[graft.io.Staging]] store conventions as the LSH index):
  *   - `centroids` — (centroid_id, centroid array<double>): trained
  *     on the FIRST batch (hash-seeded spherical k-means,
  *     [[VectorOps.ivfCentroids]]) and FROZEN afterwards, so every
  *     batch's assignment is computed against the same geometry and
  *     incremental build ≡ one-shot build by construction
  *     (VectorIndexSpec asserts it). Re-training on corpus drift is a
  *     REBUILD (new index dir), not a mutation — the same posture as
  *     re-sharding a production ANN service.
  *   - `postings` — (centroid_id, doc_id, vec), PARTITIONED BY
  *     centroid_id and appended per batch: assignment is the same
  *     zero-shuffle broadcast-centroids narrow map as
  *     [[VectorOps.assignToCentroids]], so a batch append never
  *     shuffles corpus rows. Search probes read only the probed
  *     centroids' partitions.
  *
  * Append is at-least-once under replay (parquet append, like the
  * LSH index's band appends); search collapses duplicate
  * (query, neighbor) candidates before rescoring, so a replayed
  * batch cannot change any search result (spec-asserted).
  */
object VectorIndexOps {

  /** Fold one ingest batch into the index. Trains + persists the
    * centroid table iff absent; appends the batch's postings.
    * Returns the batch's posting count. */
  def updateIndex(spark: SparkSession, batch: DataFrame, idCol: String,
                  vecCol: String, indexDir: String,
                  nCentroids: Int): Long = {
    val cents =
      if (graft.io.Staging.tableExists(spark, indexDir, "centroids"))
        graft.io.Staging.readTable(spark, indexDir, "centroids")
      else {
        val c = VectorOps.ivfCentroids(batch, idCol, vecCol, nCentroids)
        graft.io.Staging.overwriteParquet(c, indexDir, "centroids")
        c
      }
    val centArr = cents.agg(array_sort(collect_list(struct(
      col("centroid_id"), col("centroid")))).as("__cs"))
    val postings = batch
      .select(col(idCol).as("doc_id"), col(vecCol).as("vec"))
      .crossJoin(broadcast(centArr))
      .withColumn("centroid_id",
        graft.functions.native.nearest_centroid(col("vec"), col("__cs")))
      .select("centroid_id", "doc_id", "vec")
    // posting count from the SAME job that writes (Observation — the
    // old count() re-ran assignment over the whole batch)
    val obs = new org.apache.spark.sql.Observation()
    graft.io.Staging.appendPartitioned(
      postings.observe(obs, count(lit(1)).as("n")),
      indexDir, "postings", Seq("centroid_id"))
    obs.get("n").asInstanceOf[Long]
  }

  /** Top-k cosine search against the persisted index: queries score
    * the (broadcast) centroid table, probe their top `nProbe`
    * centroids' postings, and exact-rescore the candidates. With
    * `nProbe == nCentroids` the probe is exhaustive and the result
    * must equal [[VectorOps.bruteForceTopK]] over everything indexed
    * — which is what the `ann_index_verified` oracle asserts; recall
    * at `nProbe < nCentroids` is asserted in VectorIndexSpec.
    *
    * The postings table is PARTITIONED BY centroid_id, and the union
    * of probed centroids is driver-known and bounded at
    * queries × nProbe BEFORE the candidate scan — so the probe set is
    * folded into the read as a LITERAL partition filter
    * ([[probedPostings]]): the scan provably touches only the probed
    * `centroid_id=` partitions (static partition pruning, asserted on
    * the scan's partition-count metric in VectorIndexSpec) rather
    * than relying on DPP firing through the broadcast join. At 100 TB
    * of postings that is the difference between a probe and a full
    * scan. Self-pairs are excluded for brute-force parity. */
  def searchIndex(spark: SparkSession, queries: DataFrame, idCol: String,
                  vecCol: String, indexDir: String, k: Int,
                  nProbe: Int): DataFrame = {
    val cents = graft.io.Staging.readTable(spark, indexDir, "centroids")
    val postings = graft.io.Staging.readTable(spark, indexDir, "postings")
    val scored = queries.select(col(idCol).as("query_id"),
        col(vecCol).as("__qvec"))
      .join(broadcast(cents))
      .withColumn("__sim", VectorOps.cosine(
        transform(col("__qvec"), x => x.cast("double")), col("centroid")))
    val probes = Relational.topNPerKey(scored, Seq("query_id"),
        Seq(col("__sim").desc, col("centroid_id")), nProbe)
      .select(col("query_id"), col("__qvec"), col("centroid_id"))
    val (probeIds, localProbes) = collectedProbes(probes)
    val candidates = postings
      .filter(col("centroid_id").isin(probeIds: _*))
      .join(broadcast(localProbes), Seq("centroid_id"))
      .filter(col("doc_id") =!= col("query_id"))
      // replayed appends duplicate postings; collapse BEFORE the
      // rescore so at-least-once maintenance cannot change results
      .dropDuplicates("query_id", "doc_id")
      .withColumn("cosine_sim",
        VectorOps.cosine(col("__qvec"), col("vec")))
      .select(col("query_id"), col("doc_id").as("neighbor_id"),
        col("cosine_sim"))
    Relational.topNPerKey(candidates, Seq("query_id"),
      Seq(col("cosine_sim").desc, col("neighbor_id")), k)
  }

  /** The probe frame collected ONCE (bounded at queries × nProbe
    * rows — the one place in the index family a driver collect is
    * provably small), re-served two ways: the distinct centroid ids
    * become a LITERAL `IN` partition filter on the postings read
    * (static pruning in the scan's `PartitionFilters` — guaranteed
    * by Catalyst's partition-pruning rule rather than by the
    * optimizer electing DPP), and the rows themselves become a
    * LOCAL frame for the broadcast join, so the probe-selection
    * pipeline (centroid scoring + top-nProbe) runs exactly one job
    * per search instead of once for the collect and again for the
    * broadcast build. */
  private def collectedProbes(probes: DataFrame)
      : (Seq[Any], DataFrame) = {
    val rows = probes.collect()
    val ids = rows.map(_.getAs[Any]("centroid_id")).distinct.toSeq
    val local = probes.sparkSession.createDataFrame(
      java.util.Arrays.asList(rows: _*), probes.schema)
    (ids, local)
  }

  /** Fold one ingest batch into an SQ8-QUANTIZED IVF index — the
    * faiss `IVF…,SQ8` composition: postings store one byte per
    * dimension instead of a float (4× smaller scan at search time —
    * at 100 TB of embeddings the code table IS what fits the probe
    * budget), under the same frozen-geometry maintenance contract as
    * [[updateIndex]]. THREE persisted tables:
    *   - `centroids` — trained on the first batch, frozen (as
    *     [[updateIndex]]);
    *   - `ranges` — per-dimension SQ8 (min, max), ALSO trained on the
    *     first batch and frozen: quantization geometry must not move
    *     between batches or previously-written codes silently change
    *     meaning; later batches' out-of-range components clamp to the
    *     boundary ([[VectorOps.sq8Code]]), and corpus drift is a
    *     REBUILD, the [[updateIndex]] posture;
    *   - `postings` — (centroid_id, doc_id, code array<int>),
    *     partitioned by centroid_id, appended per batch with the same
    *     zero-shuffle broadcast-assignment narrow map.
    * Append is at-least-once under replay; search dedupes candidates
    * before scoring (spec-asserted replay idempotence).
    *
    * DRIFT ACCOUNTING: "drift = rebuild" needs a drift METER, so the
    * returned [[Sq8BatchStats]] carries the batch's clamped-component
    * share — the fraction of vector components that fell OUTSIDE the
    * frozen batch-0 `[lo, hi]` and clamped to code 0/255. Batch 0
    * reports ~0 by construction; a rising share means later batches'
    * geometry has left the codebook's range and quantized distances
    * are saturating. Rule of thumb: sustained share beyond ~1 %
    * (faiss-style SQ8 tolerates occasional outliers; percent-level
    * saturation distorts ranking) → schedule a REBUILD into a fresh
    * index dir. Computed in one aggregate over the batch (narrow map
    * + scalar fold — no extra shuffle, no extra pass over postings).
    */
  def updateIndexSq8(spark: SparkSession, batch: DataFrame, idCol: String,
                     vecCol: String, indexDir: String,
                     nCentroids: Int): Sq8BatchStats = {
    val cents =
      if (graft.io.Staging.tableExists(spark, indexDir, "centroids"))
        graft.io.Staging.readTable(spark, indexDir, "centroids")
      else {
        val c = VectorOps.ivfCentroids(batch, idCol, vecCol, nCentroids)
        graft.io.Staging.overwriteParquet(c, indexDir, "centroids")
        c
      }
    val ranges =
      if (graft.io.Staging.tableExists(spark, indexDir, "ranges"))
        graft.io.Staging.readTable(spark, indexDir, "ranges")
      else {
        val r = VectorOps.sq8Ranges(batch, vecCol)
        graft.io.Staging.overwriteParquet(r, indexDir, "ranges")
        r
      }
    val centArr = cents.agg(array_sort(collect_list(struct(
      col("centroid_id"), col("centroid")))).as("__cs"))
    // posting count AND the clamp tallies ride the SAME job that
    // writes (the loadIfNew Observation discipline) — the clamp
    // columns exist mid-plan before the final projection, so drift
    // accounting costs no extra pass over the batch
    val coded = batch
      .select(col(idCol).as("doc_id"), col(vecCol).as("vec"))
      .crossJoin(broadcast(centArr))
      .withColumn("centroid_id",
        graft.functions.native.nearest_centroid(col("vec"), col("__cs")))
      .crossJoin(broadcast(ranges))
      .withColumn("__vd", transform(col("vec"), x => x.cast("double")))
      .withColumn("__cl", size(filter(
        arrays_zip(col("__vd").as("v"), col("__lo").as("lo"),
          col("__hi").as("hi")),
        s => s.getField("v") < s.getField("lo") ||
          s.getField("v") > s.getField("hi"))).cast("long"))
      .withColumn("code",
        VectorOps.sq8Code(col("vec"), col("__lo"), col("__hi")))
    val obs = new org.apache.spark.sql.Observation()
    graft.io.Staging.appendPartitioned(
      coded.observe(obs, count(lit(1)).as("n"),
          coalesce(sum(col("__cl")), lit(0L)).as("c"),
          coalesce(sum(size(col("__vd")).cast("long")), lit(0L)).as("d"))
        .select("centroid_id", "doc_id", "code"),
      indexDir, "postings", Seq("centroid_id"))
    Sq8BatchStats(obs.get("n").asInstanceOf[Long],
      obs.get("c").asInstanceOf[Long], obs.get("d").asInstanceOf[Long])
  }

  /** Per-batch SQ8 maintenance accounting from [[updateIndexSq8]]:
    * posting count plus the clamped-component tally under the index's
    * frozen quantization ranges — the drift meter of the
    * frozen-geometry contract (see [[updateIndexSq8]]'s threshold
    * note). */
  final case class Sq8BatchStats(nPostings: Long, nClamped: Long,
                                 nComponents: Long) {
    def clampShare: Double =
      if (nComponents == 0L) 0.0 else nClamped.toDouble / nComponents
  }

  /** Top-k search against the SQ8 index: probe selection is the same
    * raw-query-vs-centroid scoring as [[searchIndex]]; candidate
    * scoring is SYMMETRIC quantized cosine — the query is quantized
    * under the index's frozen ranges and both sides score as
    * de-quantized doubles (what an int8 SIMD kernel computes up to
    * scaling). The index stores no raw vectors, so there is no exact
    * re-rank leg — callers wanting one keep a refine store of
    * originals and re-rank the shortlist (the faiss refine layer;
    * [[VectorOps.sq8TopKWithRanges]] shows that composition). With
    * `nProbe == nCentroids` the probe is exhaustive and the ranking
    * is a pure function of (codes, ranges) — fully re-derivable by
    * the DuckDB oracle (`ann_index_sq8`). */
  def searchIndexSq8(spark: SparkSession, queries: DataFrame,
                     idCol: String, vecCol: String, indexDir: String,
                     k: Int, nProbe: Int): DataFrame = {
    val cents = graft.io.Staging.readTable(spark, indexDir, "centroids")
    val ranges = graft.io.Staging.readTable(spark, indexDir, "ranges")
    val postings = graft.io.Staging.readTable(spark, indexDir, "postings")
    val q = queries.select(col(idCol).as("query_id"),
        col(vecCol).as("__qvec"))
      .crossJoin(broadcast(ranges))
      .withColumn("__qrec", VectorOps.sq8Recon(
        VectorOps.sq8Code(col("__qvec"), col("__lo"), col("__hi")),
        col("__lo"), col("__hi")))
      .select("query_id", "__qvec", "__qrec")
    val scored = q.join(broadcast(cents))
      .withColumn("__sim", VectorOps.cosine(
        transform(col("__qvec"), x => x.cast("double")), col("centroid")))
    val probes = Relational.topNPerKey(scored, Seq("query_id"),
        Seq(col("__sim").desc, col("centroid_id")), nProbe)
      .select(col("query_id"), col("__qrec"), col("centroid_id"))
    val (probeIds, localProbes) = collectedProbes(probes)
    val candidates = postings
      .filter(col("centroid_id").isin(probeIds: _*))
      .join(broadcast(localProbes), Seq("centroid_id"))
      .filter(col("doc_id") =!= col("query_id"))
      .dropDuplicates("query_id", "doc_id")
      .crossJoin(broadcast(ranges))
      .withColumn("sq8_sim", VectorOps.cosine(col("__qrec"),
        VectorOps.sq8Recon(col("code"), col("__lo"), col("__hi"))))
      .select(col("query_id"), col("doc_id").as("neighbor_id"),
        col("sq8_sim"))
    Relational.topNPerKey(candidates, Seq("query_id"),
      Seq(col("sq8_sim").desc, col("neighbor_id")), k)
  }
}
