package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.ops.Relational

/** Vector similarity over `Array[Float]` embedding columns.
  *
  * All math runs through codegen'd higher-order functions
  * (`zip_with` + `aggregate`), elements cast to double before
  * multiply — no UDFs, no driver-side loops.
  *
  * Scale path: [[bruteForceTopK]] broadcasts the (small) query set and
  * scans the corpus once — O(corpus × queries), the exact baseline.
  * [[lshTopK]] buckets the corpus by sign-random-projection so each
  * query only scans its own bucket — the 100 TB path where the corpus
  * no longer fits a single scan per query batch. Hyperplanes are
  * derived from a hash, not RNG, so signatures are deterministic and
  * reproducible across runs/executors.
  */
object VectorOps {

  /** dot(a, b) in double precision (higher-order-function form). */
  def dotd(a: Column, b: Column): Column =
    aggregate(
      zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, v) => acc + v)

  def l2norm(a: Column): Column = sqrt(dotd(a, a))

  /** Cosine similarity via the native codegen'd Catalyst expression
    * ([[graft.functions.CosineSimilarity]]): one fused loop instead of
    * three interpreted higher-order passes. Bit-identical to
    * [[cosineHof]] (same accumulation order). */
  def cosine(a: Column, b: Column): Column =
    graft.functions.native.cosine_similarity(a, b)

  /** Composed-builtins form — kept as the cross-check reference.
    * `try_divide` (not `/`) so a zero-norm vector yields NULL under
    * ANSI mode instead of DIVIDE_BY_ZERO, matching the native
    * expression's zero-norm → NULL contract. */
  def cosineHof(a: Column, b: Column): Column =
    try_divide(dotd(a, b), l2norm(a) * l2norm(b))

  /** Exact top-k neighbors by cosine for each query vector.
    * `queries` must be small (it is broadcast); the corpus is scanned
    * once. Self-pairs excluded. Deterministic: ties broken by
    * neighbor id. */
  def bruteForceTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
                     vecCol: String, k: Int): DataFrame = {
    val q = queries.select(col(idCol).as("query_id"),
      col(vecCol).as("__qvec"))
    val joined = corpus.select(col(idCol).as("neighbor_id"),
        col(vecCol).as("__cvec"))
      .join(broadcast(q), col("neighbor_id") =!= col("query_id"))
      .withColumn("cosine_sim", cosine(col("__qvec"), col("__cvec")))
    Relational.topNPerKey(joined, Seq("query_id"),
        Seq(col("cosine_sim").desc, col("neighbor_id")), k)
      .select("query_id", "neighbor_id", "cosine_sim")
  }

  /** Deterministic pseudo-random hyperplane component for (plane i,
    * dim j): xxhash64 → uniform in [-1, 1]. */
  private def planeComponent(i: Column, j: Column): Column =
    (xxhash64(lit("graft-lsh"), i, j).cast("double") /
      lit(Long.MaxValue.toDouble))

  /** Per-table SRP bucket keys: `tables` independent signatures of
    * `bits` hyperplanes each (table t uses plane indices
    * t·bits..t·bits+bits-1), emitted as (table, bucket) structs.
    * Native single-loop expression ([[graft.functions.SrpBuckets]]);
    * bit-identical to [[srpBucketsHof]]. */
  def srpBuckets(vec: Column, bits: Int, tables: Int): Column =
    transform(graft.functions.native.srp_buckets(vec, bits, tables),
      (bucket, t) => struct(t.as("table"), bucket.as("bucket")))

  /** Composed-builtins form — kept as the cross-check reference. */
  def srpBucketsHof(vec: Column, bits: Int, tables: Int): Column = {
    val structs = (0 until tables).map { t =>
      val dims = size(vec)
      val terms = (0 until bits).map { i =>
        val proj = aggregate(
          zip_with(vec, sequence(lit(0), dims - 1),
            (x, j) => x.cast("double") * planeComponent(lit(t * bits + i), j)),
          lit(0.0), (acc, v) => acc + v)
        when(proj > 0, lit(1L << i)).otherwise(lit(0L))
      }
      struct(lit(t).as("table"), terms.reduce(_ + _).as("bucket"))
    }
    array(structs: _*)
  }

  /** Approximate top-k via multi-table LSH: candidates are vectors
    * sharing the query's bucket in ANY of `tables` independent SRP
    * tables, exact-rescored by cosine. More tables → higher recall at
    * proportional candidate cost. The bucket join shuffles on
    * (table, signature) — at 100 TB this is the difference between
    * scanning the corpus per query and scanning a few buckets. */
  def lshTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
              vecCol: String, k: Int, bits: Int = 12,
              tables: Int = 4): DataFrame = {
    val c = corpus.select(col(idCol).as("neighbor_id"),
        col(vecCol).as("__cvec"),
        explode(srpBuckets(col(vecCol), bits, tables)).as("__bucket"))
    val q = queries.select(col(idCol).as("query_id"),
        col(vecCol).as("__qvec"),
        explode(srpBuckets(col(vecCol), bits, tables)).as("__bucket"))
    val joined = c.join(broadcast(q), Seq("__bucket"))
      .filter(col("neighbor_id") =!= col("query_id"))
      .dropDuplicates("query_id", "neighbor_id")
      .withColumn("cosine_sim", cosine(col("__qvec"), col("__cvec")))
    Relational.topNPerKey(joined, Seq("query_id"),
        Seq(col("cosine_sim").desc, col("neighbor_id")), k)
      .select("query_id", "neighbor_id", "cosine_sim")
  }

  /** Exhaustive-probe twin of [[lshTopK]]: the identical pipeline —
    * per-table SRP signature explode, candidate join, cross-table
    * dedupe, exact cosine rescore, top-k — but the join key is
    * relaxed from (table, bucket) to the table id alone, i.e. every
    * bucket of every table is probed. With no bucket miss possible
    * the result is exactly brute-force top-k, so the whole LSH
    * plumbing runs under the same all-pairs SQL oracle as
    * `ann_cosine_topk`; bucket pruning is the ONLY thing the
    * production path adds on top of what is verified here (its
    * recall is asserted against brute force in VectorSpec). The table
    * count is fixed at [[lshTopK]]'s default of 4; with every bucket
    * probed it cannot change the result. */
  def lshTopKProbeAll(corpus: DataFrame, queries: DataFrame,
                      idCol: String, vecCol: String, k: Int,
                      bits: Int = 12): DataFrame = {
    val tables = 4
    val c = corpus.select(col(idCol).as("neighbor_id"),
        col(vecCol).as("__cvec"),
        explode(srpBuckets(col(vecCol), bits, tables)).as("__bucket"))
      .withColumn("__table", col("__bucket.table"))
    val q = queries.select(col(idCol).as("query_id"),
        col(vecCol).as("__qvec"),
        explode(srpBuckets(col(vecCol), bits, tables)).as("__bucket"))
      .withColumn("__table", col("__bucket.table"))
    val joined = c.join(broadcast(q), Seq("__table"))
      .filter(col("neighbor_id") =!= col("query_id"))
      .dropDuplicates("query_id", "neighbor_id")
      .withColumn("cosine_sim", cosine(col("__qvec"), col("__cvec")))
    Relational.topNPerKey(joined, Seq("query_id"),
        Seq(col("cosine_sim").desc, col("neighbor_id")), k)
      .select("query_id", "neighbor_id", "cosine_sim")
  }

  // ------------------------------------------------------------------
  // IVF (inverted-file) ANN — the centroid-bucketed scale path
  // ------------------------------------------------------------------

  /** Corpus-size-derived IVF list count: `⌈√n⌉` clamped to
    * [4, 65536] — the classic inverted-file sizing (per-list
    * occupancy ≈ √n, so probe cost `nProbe·√n` and centroid-scoring
    * cost `√n` stay balanced as the corpus grows; a fixed list count
    * degrades to a linear scan of ever-fatter lists). The 65536
    * ceiling keeps the centroid table broadcastable (≈ 65k ×
    * dim × 8 B). Monotone in `n` (VectorIndexSpec). Same
    * derivation family as [[DedupOps.chooseBlocks]] /
    * [[DedupOps.chooseMinhashParams]]: compute spent on the index
    * grows sublinearly to hold per-query cost flat. */
  def chooseNumCentroids(n: Long): Int =
    math.min(65536L,
      math.max(4L, math.ceil(math.sqrt(math.max(n, 0L).toDouble)).toLong))
      .toInt

  /** Deterministic spherical-k-means-lite centroid training: seeds
    * are the `k` corpus vectors with the smallest `xxhash64(id)`
    * (hash-picked, stable across runs/executors), refined by 2 Lloyd
    * iterations (no caller needs another count) under the cosine
    * metric. Fully distributed —
    * no driver-side collect: assignment is a broadcast join + per-id
    * argmin window; the mean recompute is posexplode → (centroid,
    * dim) aggregate → array rebuild. Returns (centroid_id,
    * centroid: array<double>).
    *
    * Scale: the centroid table is k rows by construction (broadcast
    * side); the corpus is scanned once per iteration. Persist
    * between iterations cuts lineage. */
  def ivfCentroids(corpus: DataFrame, idCol: String, vecCol: String,
                   k: Int): DataFrame = {
    val seeds = corpus
      .withColumn("__h", xxhash64(col(idCol)))
      .orderBy(col("__h"), col(idCol))
      .limit(k)
      .withColumn("__rn",
        row_number().over(org.apache.spark.sql.expressions.Window
          .orderBy(col("__h"), col(idCol))))
      .select((col("__rn") - 1).as("centroid_id"),
        transform(col(vecCol), x => x.cast("double")).as("centroid"))
    val folded = (1 to 2).foldLeft(seeds) { (cents, _) =>
      val assigned = assignToCentroids(corpus, idCol, vecCol, cents)
      val next = corpus
        .join(assigned, Seq(idCol))
        .select(col("centroid_id"), posexplode(col(vecCol))
          .as(Seq("dim", "component")))
        .groupBy("centroid_id", "dim")
        .agg(avg(col("component").cast("double")).as("mean"))
        .groupBy("centroid_id")
        .agg(array_sort(collect_list(struct(col("dim"), col("mean"))))
          .as("__dims"))
        .select(col("centroid_id"),
          transform(col("__dims"), s => s.getField("mean")).as("centroid"))
      next.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      // materialize the new centroids, then release the previous
      // iteration's cache (tiny, but persisted frames must not
      // accumulate for the session lifetime)
      next.count()
      cents.unpersist()
      next
    }
    // hand back a lineage-truncated k-row frame and release the final
    // iteration's explicit cache: localCheckpoint blocks are reclaimed
    // by the ContextCleaner when the frame is GC'd, so callers don't
    // have to own an unpersist
    val result = folded.localCheckpoint(true)
    folded.unpersist()
    result
  }

  /** Nearest-centroid assignment (the IVF index) as a NARROW MAP: the
    * k centroids are folded into one array row, broadcast, and each
    * corpus row computes its argmax-cosine centroid with a per-row
    * fold — zero shuffle of corpus rows (a join+window formulation
    * would shuffle corpus×k rows on the id; at 100 TB the assignment
    * must be scan-shaped, like every other per-row derivation).
    * Deterministic: centroids are scanned in centroid_id order and
    * ties keep the first (lowest id). Plan asserted shuffle-free in
    * VectorSpec. */
  /** Shared scaffold of both assignment forms: broadcast the k-row
    * centroid table as one sorted array row against the corpus, then
    * apply the given argmax column — keeping the two forms'
    * surroundings identical so the parity test compares ONLY the
    * argmax kernels. */
  private def assignWith(corpus: DataFrame, idCol: String, vecCol: String,
                         centroids: DataFrame)
                        (argmax: Column => Column): DataFrame = {
    val centArr = centroids
      .agg(array_sort(collect_list(struct(
        col("centroid_id"), col("centroid")))).as("__cs"))
    corpus.select(col(idCol), col(vecCol))
      .crossJoin(broadcast(centArr))
      .withColumn("centroid_id", argmax(col("__cs")))
      .select(col(idCol), col("centroid_id"))
  }

  def assignToCentroids(corpus: DataFrame, idCol: String, vecCol: String,
                        centroids: DataFrame): DataFrame =
    // native fused argmax loop ([[graft.functions.NearestCentroid]])
    // — one pass per row instead of an interpreted aggregate lambda
    // re-evaluating a cosine expression per centroid; bit-identical
    // to [[assignToCentroidsHof]] (NativeExprSpec)
    assignWith(corpus, idCol, vecCol, centroids)(cs =>
      graft.functions.native.nearest_centroid(col(vecCol), cs))

  /** Composed-builtins form of the assignment fold — kept as the
    * cross-check reference. */
  def assignToCentroidsHof(corpus: DataFrame, idCol: String,
                           vecCol: String,
                           centroids: DataFrame): DataFrame =
    assignWith(corpus, idCol, vecCol, centroids)(cs =>
      aggregate(cs,
        struct(lit(-2.0).as("sim"), lit(-1L).as("centroid_id")),
        (acc, c) => {
          val sim = cosine(col(vecCol), c.getField("centroid"))
          when(sim > acc.getField("sim"),
            struct(sim.as("sim"),
              c.getField("centroid_id").cast("long")
                .as("centroid_id")))
            .otherwise(acc)
        }).getField("centroid_id"))

  /** IVF top-k search: queries are scored against the k centroids
    * (broadcast), the top `nProbe` centroid lists are probed via a
    * join on centroid_id, and the candidates are exact-rescored. With
    * `nProbe == nCentroids` the search is exhaustive and equals
    * [[bruteForceTopK]] — which is exactly what the oracle query
    * asserts; recall at `nProbe < nCentroids` is asserted in
    * VectorSpec.
    *
    * Scale: the corpus is assigned once (the index — in production,
    * persisted/partitioned by centroid_id); each query batch then
    * touches ~nProbe/nCentroids of the corpus instead of all of it,
    * and the probe is a shuffle on centroid_id, not a
    * corpus-scan-per-query. */
  def ivfTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
              vecCol: String, k: Int, nCentroids: Int,
              nProbe: Int): DataFrame = {
    val cents = ivfCentroids(corpus, idCol, vecCol, nCentroids)
    val index = assignToCentroids(corpus, idCol, vecCol, cents)
    val probes = {
      val scored = queries.select(col(idCol).as("query_id"),
          col(vecCol).as("__qvec"))
        .join(broadcast(cents))
        .withColumn("__sim", cosine(
          transform(col("__qvec"), x => x.cast("double")), col("centroid")))
      Relational.topNPerKey(scored, Seq("query_id"),
          Seq(col("__sim").desc, col("centroid_id")), nProbe)
        .select(col("query_id"), col("__qvec"), col("centroid_id"))
    }
    val candidates = probes
      .join(index.withColumnRenamed(idCol, "neighbor_id"),
        Seq("centroid_id"))
      .join(corpus.select(col(idCol).as("neighbor_id"),
        col(vecCol).as("__cvec")), Seq("neighbor_id"))
      .filter(col("neighbor_id") =!= col("query_id"))
      .withColumn("cosine_sim", cosine(col("__qvec"), col("__cvec")))
    Relational.topNPerKey(candidates, Seq("query_id"),
        Seq(col("cosine_sim").desc, col("neighbor_id")), k)
      .select("query_id", "neighbor_id", "cosine_sim")
  }

  /** Blocked exact embedding near-dup pairs: all (a < b) pairs within
    * a blocking key (e.g. label, language, shard) whose cosine ≥
    * threshold — the verification-quality exact measure, viable when
    * blocks are small. Same cap policy as
    * [[graft.ext.DedupOps.ngramJaccardPairs]]: blocks larger than
    * `maxBlockSize` are dropped (B²/2 pairs within a block — an
    * uncapped hot block is a cartesian bomb). Fully deterministic,
    * so oracle-checkable against an exact SQL twin. */
  def cosineNearDupPairsBlocked(corpus: DataFrame, idCol: String,
                                vecCol: String, blockCols: Seq[String],
                                threshold: Double,
                                maxBlockSize: Int = 10000): DataFrame = {
    val base = corpus.select(
      (col(idCol) +: col(vecCol) +: blockCols.map(col)): _*)
    // persisted: the salt derive collect and the prune join both read
    // the census (the DedupOps.blockedPairs census note)
    val blockCensus = corpus.groupBy(blockCols.map(col): _*)
      .agg(count(lit(1)).as("__bsz"))
      .filter(col("__bsz") <= maxBlockSize && col("__bsz") > 1)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val smallBlocks = blockCensus.select(blockCols.map(col): _*)
    val a = base.toDF(("id_a" +: "__va" +: blockCols): _*)
      .join(smallBlocks, blockCols)
    val b = base.toDF(("id_b" +: "__vb" +: blockCols): _*)
    // pinned-width, salted: see computeDensePairJoin — an enum-small
    // block key (label) otherwise caps parallelism at #blocks, and
    // AQE byte-coalescing can collapse it entirely. The salt is
    // derived from the block-work census (Relational.pairWorkSalts).
    val salts = Relational.pairWorkSalts(blockCensus, "__bsz")
    Relational.computeDensePairJoin(a, b, blockCols, salts)
      .filter(col("id_a") < col("id_b"))
      .withColumn("cosine_sim", cosine(col("__va"), col("__vb")))
      .filter(col("cosine_sim") >= threshold)
      .select((blockCols.map(col) ++
        Seq(col("id_a"), col("id_b"), col("cosine_sim"))): _*)
  }

  // ------------------------------------------------------------------
  // Semantic dedup (SemDeDup-style: cluster-assign, prune within)
  // ------------------------------------------------------------------

  /** Per-group mean centroid vectors: (groupCol, centroid) with the
    * centroid an array<double>. Exact-decimal per-dimension sums (the
    * `vector_centroids` discipline) so the centroid components — and
    * therefore everything downstream of them — are bit-identical
    * across engines, partitionings, and runs. One posexplode +
    * two-level aggregation; output is group-count-sized. */
  def meanCentroids(corpus: DataFrame, vecCol: String,
                    groupCol: String): DataFrame =
    corpus.filter(col(vecCol).isNotNull)
      .select(col(groupCol), posexplode(col(vecCol))
        .as(Seq("__dim", "__comp")))
      .groupBy(col(groupCol), col("__dim"))
      .agg((graft.functions.DecimalDoubleSum.column(col("__comp")) /
        count(lit(1))).as("__mean"))
      .groupBy(col(groupCol))
      .agg(transform(
        sort_array(collect_list(struct(col("__dim"), col("__mean")))),
        s => s.getField("__mean")).as("centroid"))

  /** SemDeDup-style semantic deduplication: assign every vector to its
    * nearest centroid by cosine, then inside each cluster drop every
    * vector that has a lower-id cluster-mate with cosine ≥ `threshold`
    * (min-id survivor — the same survivor rule as the text dedup
    * family). Returns per-cluster accounting:
    * (cluster, n_assigned, n_dropped, n_kept, capped) — `capped`
    * marks clusters over `maxClusterSize`, whose pair stage was
    * skipped (all members kept, n_dropped = 0): the cartesian-bomb
    * guard with its coverage loss visible, never silent.
    *
    * Scale design — the whole point of SemDeDup: the quadratic
    * pairwise stage runs only WITHIN clusters, so with k sized to keep
    * clusters at ~10³–10⁴ vectors (k grows with the corpus; see
    * [[chooseNumCentroids]]) total pair work is n·(n/k)/2, linear in n
    * at fixed cluster size. Assignment is a broadcast of k centroids
    * against a single corpus scan (n·k fused-loop cosines, no
    * shuffle), then one shuffle each for the argmax group-fold and the
    * within-cluster self-join. The self-join is salted when the model
    * has fewer clusters than the session has cores (salt width
    * cores/k, zero replication at production k) and pinned at a fixed
    * partition width so AQE's byte-based coalescing cannot collapse
    * the compute-dense pair stage onto a single task. Determinism: cosines are rounded to 6
    * decimals BEFORE the argmax and the threshold test, with cluster
    * id as the explicit tiebreak, so the assignment — and hence the
    * output — is a pure function of the data, not of float summation
    * order. `centroids` must be (cluster, centroid array) with
    * broadcast-able cardinality.
    */
  def semanticDedup(corpus: DataFrame, idCol: String, vecCol: String,
                    centroids: DataFrame, clusterCol: String,
                    threshold: Double,
                    maxClusterSize: Int = Int.MaxValue): DataFrame = {
    val vecs = corpus.filter(col(vecCol).isNotNull)
      .select(col(idCol), col(vecCol))
    val scored = vecs.crossJoin(broadcast(centroids))
      // explicit float→double widening (exact) so the kernel's operand
      // types match the oracle's CAST(embedding AS DOUBLE[]) exactly
      .withColumn("__cs", round(cosine(
        col(vecCol).cast("array<double>"), col("centroid")), 6))
    // max_by on (cosine, -cluster): highest similarity wins, lowest
    // cluster id on ties — a map-side-combinable group fold, not a
    // window (no single-partition risk, partials shrink to one row
    // per vector before the exchange)
    // persisted: the assignment (the n·k cosine scan) feeds both the
    // pair stage and the per-cluster census — exactly the artifact
    // SemDeDup materializes in production
    val asg = scored.groupBy(col(idCol))
      .agg(max_by(col(clusterCol),
          struct(col("__cs"), -col(clusterCol))).as("__cluster"),
        first(col(vecCol)).as(vecCol))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // Per-cluster size census: k rows (centroids are broadcast-able
    // by contract). Materialized once and reused three ways — the
    // hot-cluster cap filter, the driver-side salt-width choice, and
    // the output's n_assigned column (so the accounting fold never
    // re-shuffles the corpus-scale assignment).
    val sizes = asg.groupBy(col("__cluster"))
      .agg(count(lit(1)).as("n_assigned"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val nClusters = sizes.count() // k-row bounded materialization
    // HOT-CLUSTER guard: the within-cluster self-join is linear only
    // while chooseNumCentroids keeps clusters ~10³–10⁴ — a dense
    // embedding region (near-dup-heavy web corpus, exactly SemDeDup's
    // input) can hand one centroid a mega-cluster and a quadratic
    // task. Clusters over `maxClusterSize` SKIP the pair stage (their
    // members all survive) and the skip is ACCOUNTED in the output's
    // `capped` column — the droppedBlockStats no-silent-caps
    // discipline.
    val paired =
      if (maxClusterSize == Int.MaxValue) asg
      else asg.join(broadcast(
          sizes.filter(col("n_assigned") <= maxClusterSize)
            .select("__cluster")),
        Seq("__cluster"))
    val joined = clusterPairJoin(paired, idCol, vecCol, nClusters)
    val dropped = joined
      .filter(col("__id_a") < col("__id_b"))
      .filter(round(cosine(col("__va"), col("__vb")), 6) >= threshold)
      .select(col("__cluster"), col("__id_b")).distinct()
      .groupBy("__cluster").agg(count(lit(1)).as("n_dropped"))
    val out = sizes
      .join(dropped, Seq("__cluster"), "left")
      .na.fill(0L, Seq("n_dropped"))
      .select(col("__cluster").as("cluster"), col("n_assigned"),
        col("n_dropped"),
        (col("n_assigned") - col("n_dropped")).as("n_kept"),
        (col("n_assigned") > maxClusterSize).as("capped"))
      // k-row accounting frame: freeze it eagerly so the corpus-scale
      // assignment cache can be released before returning
      .localCheckpoint(true)
    sizes.unpersist()
    asg.unpersist()
    out
  }

  /** The within-cluster (a < b before filtering) pair join of
    * [[semanticDedup]], exposed for plan-shape assertions.
    *
    * PAIR-STAGE PARALLELISM is #clusters × salt, never the scan's
    * partition count: with few clusters (k < cores — the registry's
    * 8-label model, or any small-k deployment) a plain equi-join on
    * __cluster runs its quadratic work on k tasks at best, and AQE's
    * BYTE-based coalescing makes it worse — a few MB of vectors look
    * "small" and collapse to one task doing hundreds of millions of
    * cosines (measured: 3.98 s → 15.7 s at sf1, a 20-minute single
    * task at sf4). Salt width adapts to k (cores/k, so a large-k
    * production model pays zero replication), and the explicit
    * fixed-width repartition on the join keys (REPARTITION_BY_NUM in
    * the plan — QueryPlanSpec pins it) is the AQE-coalesce opt-out
    * for this compute-dense exchange. */
  private[graft] def clusterPairJoin(paired: DataFrame, idCol: String,
                                     vecCol: String,
                                     nClusters: Long): DataFrame = {
    val par = paired.sparkSession.sparkContext.defaultParallelism
    val nSalts = math.max(1L, math.min(64L,
      par.toLong / math.max(1L, nClusters))).toInt
    val a = paired.select(col("__cluster"), col(idCol).as("__id_a"),
      col(vecCol).as("__va"))
    val b = paired.select(col("__cluster"), col(idCol).as("__id_b"),
      col(vecCol).as("__vb"))
    Relational.computeDensePairJoin(a, b, Seq("__cluster"), nSalts)
  }

  /** Per-dimension SQ8 scalar-quantization ranges over the corpus:
    * one row, two `array<double>` columns (`__lo`, `__hi`) holding
    * each dimension's min/max. The codebook of faiss-style SQ8 — a
    * 2·d-double artifact from one map-side-combinable fold. */
  def sq8Ranges(corpus: DataFrame, vecCol: String): DataFrame =
    corpus.filter(col(vecCol).isNotNull)
      .select(posexplode(col(vecCol)).as(Seq("__dim", "__c")))
      .groupBy(col("__dim"))
      .agg(min(col("__c").cast("double")).as("__mn"),
        max(col("__c").cast("double")).as("__mx"))
      .groupBy()
      .agg(
        transform(sort_array(collect_list(
            struct(col("__dim"), col("__mn")))),
          s => s.getField("__mn")).as("__lo"),
        transform(sort_array(collect_list(
            struct(col("__dim"), col("__mx")))),
          s => s.getField("__mx")).as("__hi"))

  /** 8-bit code for `vec` under ranges (`lo`, `hi`):
    * `round(255 (v - lo_i) / (hi_i - lo_i))` clamped to [0, 255]
    * (degenerate dimension → 0; out-of-range components — e.g. later
    * batches quantized under ranges frozen from an earlier one —
    * clamp to the boundary, the standard SQ posture). */
  def sq8Code(vec: Column, lo: Column, hi: Column): Column =
    transform(vec, (v, i) => {
      val l = element_at(lo, i + 1)
      val h = element_at(hi, i + 1)
      when(h === l, lit(0)).otherwise(
        least(greatest(
          round(lit(255.0) * (v.cast("double") - l) / (h - l)),
          lit(0.0)), lit(255.0)).cast("int"))
    })

  /** De-quantized double vector for a code array under (lo, hi):
    * `lo_i + q (hi_i - lo_i) / 255`. */
  def sq8Recon(code: Column, lo: Column, hi: Column): Column =
    transform(code, (q, i) => {
      val l = element_at(lo, i + 1)
      val h = element_at(hi, i + 1)
      l + q.cast("double") * (h - l) / lit(255.0)
    })

  /** Scalar-quantized (SQ8) ANN: corpus vectors compressed to one
    * byte per dimension with per-dimension linear ranges (the faiss
    * `ScalarQuantizer` QT_8bit scheme — public method), candidate
    * shortlist ranked by cosine over the DE-QUANTIZED codes, then the
    * top `shortlist` per query re-ranked by exact cosine on the
    * original vectors and cut to `k`. Output: (query_id, neighbor_id,
    * sq8_sim, cosine_sim) — the approximate score is kept so recall
    * diagnostics are free.
    *
    * The codebook `ranges` is PRE-BUILT ([[sq8Ranges]], one
    * map-combinable fold to a 2·d-double broadcast): in production it
    * persists next to the dataset snapshot and every consumer reads
    * the same one (quantization geometry must not drift between the
    * index build and the queries; the [[graft.ext.VectorIndexOps]]
    * frozen-ranges contract).
    *
    * Scale design: the quantized corpus is 4× smaller than float32
    * (8× vs double) — at 100 TB of embeddings the code table is what
    * fits the scan budget; the exact re-rank touches only
    * `shortlist` rows per query. Here the approx leg scores
    * reconstructed doubles so the DuckDB oracle can mirror the
    * arithmetic; a production kernel dots the int8 codes directly
    * (same ranking, integer SIMD). Both legs are deterministic —
    * ranks tie-break on neighbor id and every emitted similarity is
    * rounded to 6 decimals. Whether the quantized score is
    * bit-identical across engines is unconfirmed: at sf0.001 one
    * `ann_sq8_topk` `sq8_sim` reads 0.300746 in Spark and 0.300745 in
    * DuckDB (ROADMAP item 8). */
  def sq8TopKWithRanges(corpus: DataFrame, queries: DataFrame,
                        idCol: String, vecCol: String, k: Int,
                        shortlist: Int, ranges: DataFrame): DataFrame = {
    require(shortlist >= k, "shortlist >= k")
    val q = queries.select(col(idCol).as("query_id"),
        col(vecCol).as("__qvec"))
      .crossJoin(broadcast(ranges))
      .withColumn("__qrec",
        sq8Recon(sq8Code(col("__qvec"), col("__lo"), col("__hi")),
          col("__lo"), col("__hi")))
      .select("query_id", "__qvec", "__qrec")
    val c = corpus.select(col(idCol).as("neighbor_id"),
        col(vecCol).as("__cvec"))
      .crossJoin(broadcast(ranges))
      .withColumn("__crec",
        sq8Recon(sq8Code(col("__cvec"), col("__lo"), col("__hi")),
          col("__lo"), col("__hi")))
      .select("neighbor_id", "__cvec", "__crec")
    val scored = c.join(broadcast(q),
        col("neighbor_id") =!= col("query_id"))
      .withColumn("__asim", cosine(col("__qrec"), col("__crec")))
    val short = Relational.topNPerKey(scored, Seq("query_id"),
        Seq(col("__asim").desc, col("neighbor_id")), shortlist)
      .withColumn("cosine_sim", cosine(col("__qvec"), col("__cvec")))
    Relational.topNPerKey(short, Seq("query_id"),
        Seq(col("cosine_sim").desc, col("neighbor_id")), k)
      .select(col("query_id"), col("neighbor_id"),
        round(col("__asim"), 6).as("sq8_sim"),
        round(col("cosine_sim"), 6).as("cosine_sim"))
  }
}
