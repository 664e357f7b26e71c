package graft.queries

import org.apache.spark.sql.functions._
import graft.Tables
import graft.ext.VectorOps

/** Driver-contract queries for similarity search over the embeddings
  * table (`embedding: Array[Float]`, 64-dim).
  *
  * Oracle parity: cosine is computed in double on both sides (Spark
  * casts each float before multiply; DuckDB list_cosine_similarity
  * does the same); values rounded to 6 decimals to absorb
  * formula-order ULP differences. Ordering ties broken by neighbor id.
  */
object VectorQueries {

  /** Persisted IVF index FIXTURE for `ann_index_verified`, built once
    * per (session, sf dir) from three ingest batches — the query
    * under test is the search against the maintained index, not the
    * (one-time, production-amortized) index build. */
  private def ivfIndex(s: org.apache.spark.sql.SparkSession,
                       d: String): String =
    FixtureStore.buildOnce(s, "ivfidx", d) { dir =>
      val emb = Tables.embeddings(s, d)
      (0 until 3).foreach { i =>
        graft.ext.VectorIndexOps.updateIndex(s,
          emb.filter(pmod(col("vec_id"), lit(3)) === i),
          "vec_id", "embedding", dir, nCentroids = 8)
      }
    }

  /** Persisted SQ8-quantized IVF index FIXTURE for `ann_index_sq8` —
    * same 3-batch build shape as [[ivfIndex]]; ranges AND centroids
    * freeze on the first batch (vec_id % 3 == 0), which is what the
    * oracle re-derives. */
  private def sq8Index(s: org.apache.spark.sql.SparkSession,
                       d: String): String =
    FixtureStore.buildOnce(s, "sq8idx", d) { dir =>
      val emb = Tables.embeddings(s, d)
      (0 until 3).foreach { i =>
        graft.ext.VectorIndexOps.updateIndexSq8(s,
          emb.filter(pmod(col("vec_id"), lit(3)) === i),
          "vec_id", "embedding", dir, nCentroids = 8)
      }
    }

  /** Session-lifetime SQ8 codebook for `ann_sq8_topk` — the 2·d-double
    * per-dimension range frame is a snapshot artifact (persists next
    * to the dataset in production; quantization geometry must be the
    * same for every consumer), built once per (session, sf dir). */
  private def sq8RangesStore(s: org.apache.spark.sql.SparkSession,
                             d: String): org.apache.spark.sql.DataFrame =
    FixtureStore.artifact(s, "sq8_ranges", d) {
      VectorOps.sq8Ranges(Tables.embeddings(s, d), "embedding")
    }

  val defs: Map[String, QueryDef] = Map(

    // Exact brute-force cosine top-10 for 5 query vectors.
    "ann_cosine_topk" -> QueryDef(
      (s, d) => {
        val emb = Tables.embeddings(s, d)
        VectorOps.bruteForceTopK(emb, emb.filter(col("vec_id") < 5),
            "vec_id", "embedding", 10)
          .withColumn("cosine_sim", round(col("cosine_sim"), 6))
          .orderBy(col("query_id"), col("cosine_sim").desc,
            col("neighbor_id"))
      },
      Some("""SELECT query_id, neighbor_id,
        |  round(cosine_sim, 6) AS cosine_sim
        |FROM (SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
        |    list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
        |      CAST(c.embedding AS DOUBLE[])) AS cosine_sim,
        |    row_number() OVER (PARTITION BY q.vec_id
        |      ORDER BY list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
        |        CAST(c.embedding AS DOUBLE[])) DESC, c.vec_id) AS rn
        |  FROM embeddings q JOIN embeddings c
        |    ON q.vec_id < 5 AND c.vec_id <> q.vec_id)
        |WHERE rn <= 10
        |ORDER BY query_id, cosine_sim DESC, neighbor_id""".stripMargin)),

    // SQ8 scalar-quantized ANN: per-dimension [min, max] linear
    // 8-bit codes (the faiss ScalarQuantizer scheme), shortlist of 30
    // by cosine over the DE-QUANTIZED codes, exact re-rank to top 10.
    // Both legs under the full DuckDB oracle: the oracle recomputes
    // the ranges, the codes, the reconstruction, both cosines, and
    // both rank cuts — quantization arithmetic is exact cross-engine
    // (float-exact double ranges; round() at non-negative args is
    // half-up in both engines).
    "ann_sq8_topk" -> QueryDef(
      (s, d) => {
        val emb = Tables.embeddings(s, d)
        VectorOps.sq8TopKWithRanges(emb, emb.filter(col("vec_id") < 5),
            "vec_id", "embedding", k = 10, shortlist = 30,
            sq8RangesStore(s, d))
          .orderBy(col("query_id"), col("cosine_sim").desc,
            col("neighbor_id"))
      },
      Some("""WITH dims AS (SELECT u.dim, min(CAST(u.c AS DOUBLE)) AS mn,
        |    max(CAST(u.c AS DOUBLE)) AS mx
        |  FROM embeddings, LATERAL (SELECT
        |    unnest(generate_series(1, len(embedding))) AS dim,
        |    unnest(embedding) AS c) u
        |  GROUP BY u.dim),
        |rng AS (SELECT list(mn ORDER BY dim) AS lo,
        |    list(mx ORDER BY dim) AS hi FROM dims),
        |rec AS (SELECT vec_id, embedding,
        |    list_transform(CAST(embedding AS DOUBLE[]), (v, i) ->
        |      CASE WHEN hi[i] = lo[i] THEN lo[i]
        |        ELSE lo[i] + CAST(least(greatest(
        |          round(255 * (v - lo[i]) / (hi[i] - lo[i])), 0), 255)
        |          AS DOUBLE) * (hi[i] - lo[i]) / 255.0 END) AS recon
        |  FROM embeddings CROSS JOIN rng),
        |appx AS (SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
        |    list_cosine_similarity(q.recon, c.recon) AS asim,
        |    list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
        |      CAST(c.embedding AS DOUBLE[])) AS esim
        |  FROM rec q JOIN rec c
        |    ON q.vec_id < 5 AND c.vec_id <> q.vec_id),
        |sl AS (SELECT * FROM (SELECT *, row_number() OVER (
        |      PARTITION BY query_id ORDER BY asim DESC, neighbor_id)
        |      AS rn1 FROM appx) WHERE rn1 <= 30)
        |SELECT query_id, neighbor_id, round(asim, 6) AS sq8_sim,
        |  round(esim, 6) AS cosine_sim
        |FROM (SELECT *, row_number() OVER (PARTITION BY query_id
        |    ORDER BY esim DESC, neighbor_id) AS rn2 FROM sl)
        |WHERE rn2 <= 10
        |ORDER BY query_id, cosine_sim DESC, neighbor_id""".stripMargin)),

    // The persisted SQ8-QUANTIZED IVF index (faiss IVF…,SQ8) under
    // the full oracle: 3-batch incremental build with centroids AND
    // quantization ranges frozen on the first batch, probed
    // EXHAUSTIVELY — the ranking is then a pure function of
    // (codes, ranges), and DuckDB re-derives the first-batch ranges,
    // every code, both reconstructions, and the rank cut. The index
    // stores NO raw vectors (4× smaller postings scan — the 100 TB
    // point); sub-exhaustive recall + replay idempotence + frozen-
    // geometry maintenance are asserted in VectorIndexSpec.
    "ann_index_sq8" -> QueryDef(
      (s, d) => {
        val emb = Tables.embeddings(s, d)
        graft.ext.VectorIndexOps.searchIndexSq8(s,
            emb.filter(col("vec_id") < 5), "vec_id", "embedding",
            sq8Index(s, d), k = 10, nProbe = 8)
          .withColumn("sq8_sim", round(col("sq8_sim"), 6))
          .orderBy(col("query_id"), col("sq8_sim").desc,
            col("neighbor_id"))
      },
      Some("""WITH dims AS (SELECT u.dim, min(CAST(u.c AS DOUBLE)) AS mn,
        |    max(CAST(u.c AS DOUBLE)) AS mx
        |  FROM embeddings, LATERAL (SELECT
        |    unnest(generate_series(1, len(embedding))) AS dim,
        |    unnest(embedding) AS c) u
        |  WHERE vec_id % 3 = 0
        |  GROUP BY u.dim),
        |rng AS (SELECT list(mn ORDER BY dim) AS lo,
        |    list(mx ORDER BY dim) AS hi FROM dims),
        |rec AS (SELECT vec_id,
        |    list_transform(CAST(embedding AS DOUBLE[]), (v, i) ->
        |      CASE WHEN hi[i] = lo[i] THEN lo[i]
        |        ELSE lo[i] + CAST(least(greatest(
        |          round(255 * (v - lo[i]) / (hi[i] - lo[i])), 0), 255)
        |          AS DOUBLE) * (hi[i] - lo[i]) / 255.0 END) AS recon
        |  FROM embeddings CROSS JOIN rng)
        |SELECT query_id, neighbor_id, round(asim, 6) AS sq8_sim
        |FROM (SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
        |    list_cosine_similarity(q.recon, c.recon) AS asim,
        |    row_number() OVER (PARTITION BY q.vec_id
        |      ORDER BY list_cosine_similarity(q.recon, c.recon) DESC,
        |        c.vec_id) AS rn
        |  FROM rec q JOIN rec c
        |    ON q.vec_id < 5 AND c.vec_id <> q.vec_id)
        |WHERE rn <= 10
        |ORDER BY query_id, sq8_sim DESC, neighbor_id""".stripMargin)),

    // IVF (inverted-file) ANN: hash-seeded spherical k-means
    // centroids, nearest-centroid index, probe-then-rescore. Run
    // EXHAUSTIVELY here (nProbe = nCentroids), which must equal brute
    // force — so centroid training, assignment, probing and rescoring
    // are all under the exact DuckDB oracle. Sub-exhaustive recall
    // (nProbe < nCentroids) is asserted in VectorSpec.
    "ann_ivf_topk" -> QueryDef(
      (s, d) => {
        val emb = Tables.embeddings(s, d)
        VectorOps.ivfTopK(emb, emb.filter(col("vec_id") < 5),
            "vec_id", "embedding", 10, nCentroids = 8, nProbe = 8)
          .withColumn("cosine_sim", round(col("cosine_sim"), 6))
          .orderBy(col("query_id"), col("cosine_sim").desc,
            col("neighbor_id"))
      },
      Some("""SELECT query_id, neighbor_id,
        |  round(cosine_sim, 6) AS cosine_sim
        |FROM (SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
        |    list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
        |      CAST(c.embedding AS DOUBLE[])) AS cosine_sim,
        |    row_number() OVER (PARTITION BY q.vec_id
        |      ORDER BY list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
        |        CAST(c.embedding AS DOUBLE[])) DESC, c.vec_id) AS rn
        |  FROM embeddings q JOIN embeddings c
        |    ON q.vec_id < 5 AND c.vec_id <> q.vec_id)
        |WHERE rn <= 10
        |ORDER BY query_id, cosine_sim DESC, neighbor_id""".stripMargin)),

    // Scale path: LSH-bucketed ANN (sign-random-projection buckets).
    // The bucketed candidate set is hash-family-specific, so the query
    // emits the checkable INVARIANTS of the production run instead of
    // the raw row set (the approx_distinct pattern — full hash gate,
    // no rows-only adjudication): per query,
    //   - kth_exact_sim: the exact 10th-best cosine, which DuckDB
    //     recomputes from the embeddings (real cross-engine value);
    //   - recall_ge_30pct: >= 3 of the LSH top-10 are in the exact
    //     top-10. Deterministic (hash-seeded planes, fixed data);
    //     realized 4-6 of 10 at the gate SF. This corpus is the HARD
    //     regime for SRP — top-1 cosines are only 0.32-0.40 (no
    //     near-dup structure), so bucket agreement needs wide probing:
    //     measured recall at (bits=8, tables=4) is ~0/10, and the
    //     production tuning here is (bits=6, tables=12) — fewer bits
    //     per table = coarser buckets, more tables = more chances —
    //     the standard LSH response to a low-similarity workload;
    //   - no_phantom: PROVABLE, not just measured — every returned
    //     neighbor scoring strictly above kth_exact_sim (on the
    //     rounded values; rounding is monotone) must BE in the exact
    //     top-10, because LSH prunes candidates but rescoring is
    //     exact cosine: bucket pruning can only MISS, never fabricate.
    "ann_lsh_topk" -> QueryDef(
      (s, d) => {
        val emb = Tables.embeddings(s, d)
        val queries = emb.filter(col("vec_id") < 5)
        val exact = VectorOps.bruteForceTopK(emb, queries,
          "vec_id", "embedding", 10)
        val kth = exact.groupBy("query_id")
          .agg(round(min(col("cosine_sim")), 6).as("kth_exact_sim"))
        VectorOps.lshTopK(emb, queries, "vec_id", "embedding", 10,
            bits = 6, tables = 12)
          .join(exact.select(col("query_id"), col("neighbor_id"),
            lit(true).as("__hit")), Seq("query_id", "neighbor_id"), "left")
          .join(kth, Seq("query_id"))
          .groupBy("query_id", "kth_exact_sim")
          .agg(
            (sum(when(col("__hit"), 1).otherwise(0)) >= 3)
              .as("recall_ge_30pct"),
            (sum(when(col("__hit").isNull &&
              round(col("cosine_sim"), 6) > col("kth_exact_sim"), 1)
              .otherwise(0)) === 0).as("no_phantom"))
          .select("query_id", "kth_exact_sim", "recall_ge_30pct",
            "no_phantom")
          .orderBy("query_id")
      },
      Some("""SELECT query_id, round(cosine_sim, 6) AS kth_exact_sim,
        |  TRUE AS recall_ge_30pct, TRUE AS no_phantom
        |FROM (SELECT q.vec_id AS query_id,
        |    list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
        |      CAST(c.embedding AS DOUBLE[])) AS cosine_sim,
        |    row_number() OVER (PARTITION BY q.vec_id
        |      ORDER BY list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
        |        CAST(c.embedding AS DOUBLE[])) DESC, c.vec_id) AS rn
        |  FROM embeddings q JOIN embeddings c
        |    ON q.vec_id < 5 AND c.vec_id <> q.vec_id)
        |WHERE rn = 10
        |ORDER BY query_id""".stripMargin)),

    // LSH ANN under the full DuckDB oracle, the `ann_ivf_topk` trick
    // applied to SRP: run the identical LSH pipeline (per-table
    // signature explode → candidate join → cross-table dedupe → exact
    // rescore → top-k) with the probe relaxed to ALL buckets of every
    // table. No bucket miss is possible, so the result must equal
    // brute-force top-k — signature computation, join plumbing,
    // dedupe and rescore are all under the exact all-pairs oracle.
    // Bucket pruning (the one step relaxed here) is recall-asserted
    // vs brute force in VectorSpec and carries the in-query
    // `in_exact_topk` invariant in `ann_lsh_topk` above.
    "ann_lsh_verified" -> QueryDef(
      (s, d) => {
        val emb = Tables.embeddings(s, d)
        VectorOps.lshTopKProbeAll(emb, emb.filter(col("vec_id") < 5),
            "vec_id", "embedding", 10, bits = 8)
          .withColumn("cosine_sim", round(col("cosine_sim"), 6))
          .orderBy(col("query_id"), col("cosine_sim").desc,
            col("neighbor_id"))
      },
      Some("""SELECT query_id, neighbor_id,
        |  round(cosine_sim, 6) AS cosine_sim
        |FROM (SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
        |    list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
        |      CAST(c.embedding AS DOUBLE[])) AS cosine_sim,
        |    row_number() OVER (PARTITION BY q.vec_id
        |      ORDER BY list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
        |        CAST(c.embedding AS DOUBLE[])) DESC, c.vec_id) AS rn
        |  FROM embeddings q JOIN embeddings c
        |    ON q.vec_id < 5 AND c.vec_id <> q.vec_id)
        |WHERE rn <= 10
        |ORDER BY query_id, cosine_sim DESC, neighbor_id""".stripMargin)),

    // The PERSISTED incremental IVF index under the full oracle: the
    // index is built once from three ingest batches (frozen centroids,
    // centroid-partitioned postings — ext.VectorIndexOps), then probed
    // EXHAUSTIVELY (nProbe = nCentroids), which must equal brute force
    // — proving the maintained index holds every vector exactly once
    // and the probe/rescore machinery is exact. Batch-vs-one-shot
    // equivalence, sub-exhaustive recall, and replay idempotence are
    // asserted in VectorIndexSpec.
    "ann_index_verified" -> QueryDef(
      (s, d) => {
        val emb = Tables.embeddings(s, d)
        graft.ext.VectorIndexOps.searchIndex(s,
            emb.filter(col("vec_id") < 5), "vec_id", "embedding",
            ivfIndex(s, d), 10, nProbe = 8)
          .withColumn("cosine_sim", round(col("cosine_sim"), 6))
          .orderBy(col("query_id"), col("cosine_sim").desc,
            col("neighbor_id"))
      },
      Some("""SELECT query_id, neighbor_id,
        |  round(cosine_sim, 6) AS cosine_sim
        |FROM (SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
        |    list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
        |      CAST(c.embedding AS DOUBLE[])) AS cosine_sim,
        |    row_number() OVER (PARTITION BY q.vec_id
        |      ORDER BY list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
        |        CAST(c.embedding AS DOUBLE[])) DESC, c.vec_id) AS rn
        |  FROM embeddings q JOIN embeddings c
        |    ON q.vec_id < 5 AND c.vec_id <> q.vec_id)
        |WHERE rn <= 10
        |ORDER BY query_id, cosine_sim DESC, neighbor_id""".stripMargin)),

    // Embedding-cosine near-duplicate pairs, blocked-exact form:
    // all pairs within a label block (block-size capped), exact
    // cosine, fully oracle-checked against DuckDB's
    // list_cosine_similarity.
    "dedup_embedding" -> QueryDef(
      (s, d) => VectorOps.cosineNearDupPairsBlocked(
          Tables.embeddings(s, d), "vec_id", "embedding",
          Seq("label"), threshold = 0.2) // salt auto-derives from census
        .withColumn("cosine_sim", round(col("cosine_sim"), 6))
        .orderBy(col("cosine_sim").desc, col("id_a"), col("id_b"))
        .limit(20)
        .select("label", "id_a", "id_b", "cosine_sim"),
      Some("""SELECT a.label, a.vec_id AS id_a, b.vec_id AS id_b,
        |  round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
        |    CAST(b.embedding AS DOUBLE[])), 6) AS cosine_sim
        |FROM embeddings a JOIN embeddings b
        |  ON a.label = b.label AND a.vec_id < b.vec_id
        |WHERE list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
        |    CAST(b.embedding AS DOUBLE[])) >= 0.2
        |ORDER BY cosine_sim DESC, id_a, id_b LIMIT 20""".stripMargin)),

    // Per-label centroid norms — distributed elementwise aggregation
    // of vectors via posexplode + regroup (the building block for IVF
    // centroid training).
    // Same centroid norms via the custom typed Aggregator
    // (functions.VectorAvg + udaf): partial buffers are one
    // (sum-vector, count) per partition per group, so the shuffle
    // carries partials instead of the posexplode form's rows × dims
    // element rows — the UDAF extension point with its scale
    // rationale, under the same DuckDB oracle as vector_centroids.
    "vector_avg_agg" -> QueryDef(
      (s, d) => Tables.embeddings(s, d)
        .groupBy("label")
        // count(embedding), not count(*): NULL embeddings contribute
        // to neither the mean nor the oracle's unnested rows
        .agg(graft.functions.VectorAvg.column(col("embedding"))
            .as("centroid"),
          count(col("embedding")).as("n_vectors"))
        .filter(col("n_vectors") > 0)
        .select(col("label"),
          round(sqrt(aggregate(col("centroid"), lit(0.0),
            (acc, v) => acc + v * v)), 6).as("centroid_norm"),
          col("n_vectors"))
        .orderBy("label"),
      // full-precision double sums on BOTH sides (the UDAF accumulates
      // raw floats): cross-engine summation-order differences are
      // ~1e-13 relative, far below the 1e-6 rounding granularity —
      // unlike vector_centroids' decimal-exact discipline, which would
      // disagree with the float-precision aggregator at the boundary
      Some("""WITH comp AS (
        |  SELECT label, u.dim, u.component FROM embeddings,
        |    LATERAL (SELECT unnest(generate_series(1, len(embedding)))
        |      AS dim, unnest(embedding) AS component) u),
        |sums AS (SELECT label, dim,
        |    sum(CAST(component AS DOUBLE)) AS dim_sum, count(*) AS n
        |  FROM comp GROUP BY label, dim)
        |SELECT label,
        |  round(sqrt(sum(pow(dim_sum / n, 2))), 6) AS centroid_norm,
        |  max(n) AS n_vectors
        |FROM sums GROUP BY label ORDER BY label""".stripMargin)),

    "vector_centroids" -> QueryDef(
      (s, d) => Tables.embeddings(s, d)
        .select(col("label"), posexplode(col("embedding"))
          .as(Seq("dim", "component")))
        .groupBy("label", "dim")
        .agg(graft.functions.DecimalDoubleSum.column(col("component"))
          .as("dim_sum"), count(lit(1)).as("n"))
        .groupBy("label")
        .agg(round(sqrt(sum(pow(col("dim_sum") / col("n"), 2))), 6)
          .as("centroid_norm"),
          max(col("n")).as("n_vectors"))
        .orderBy("label"),
      Some("""WITH comp AS (
        |  SELECT label, u.dim, u.component FROM embeddings,
        |    LATERAL (SELECT unnest(generate_series(1, len(embedding)))
        |      AS dim, unnest(embedding) AS component) u),
        |sums AS (SELECT label, dim,
        |    CAST(sum(CAST(component AS DECIMAL(25,6))) AS DOUBLE)
        |      AS dim_sum, count(*) AS n
        |  FROM comp GROUP BY label, dim)
        |SELECT label,
        |  round(sqrt(sum(pow(dim_sum / n, 2))), 6) AS centroid_norm,
        |  max(n) AS n_vectors
        |FROM sums GROUP BY label ORDER BY label""".stripMargin))
  )
}
