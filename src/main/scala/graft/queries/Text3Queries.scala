package graft.queries

import org.apache.spark.sql.functions._
import graft.Tables
import graft.ext.{DedupOps, TextOps, VectorOps}

/** Third text/corpus-surface battery — the round-9 additions to the
  * LLM-training-data family, each the distributed form of a published
  * curation signal the earlier batteries did not cover:
  *
  *   - `corpus_dup_ngrams`: ACROSS-document duplicated-n-gram share
  *     (the exact-substring dedup signal — [[graft.ext.DedupOps
  *     .corpusDupNgramShare]]); the per-doc repetition metrics in
  *     [[Text2Queries]] are WITHIN-doc.
  *   - `bigram_lm_score`: self-trained bigram-LM fluency score
  *     ([[graft.ext.TextOps.bigramLmScores]], the CCNet-style
  *     perplexity-filter shape with the corpus itself as the model).
  *   - `semantic_dedup`: SemDeDup-style cluster-then-prune embedding
  *     dedup ([[graft.ext.VectorOps.semanticDedup]]) — the scale
  *     answer to the all-pairs `dedup_embedding` form, with the
  *     quadratic stage confined within centroid clusters.
  *
  * Oracle parity rules are the module-wide ones: shared tokenization
  * (`regexp_split_to_array(lower(trim(text)), '\s+')` ≡
  * [[graft.ext.TextOps.tokens]]), doubles rounded to 6 decimals at
  * every comparison/argmax point, exact-decimal sums for anything
  * accumulated, full ORDER BY with unique tiebreak.
  */
object Text3Queries {

  private val tokSql =
    """CASE WHEN length(trim(text)) = 0 THEN []::VARCHAR[]
      |       ELSE regexp_split_to_array(lower(trim(text)), '\s+')
      |  END""".stripMargin

  /** Session-lifetime bigram-LM score store — the corpus's own LM is
    * a MODEL artifact: trained once per snapshot, read by every
    * consumer (per-doc scoring, bucket stratification, any future
    * perplexity gate). Same build/serve split as
    * [[TextQueries.storedSigs]]; the frame is doc-grain
    * (doc_id, n_bigrams, lm_logprob), pinned by
    * [[FixtureStore.artifact]]. */
  private def lmScores(s: org.apache.spark.sql.SparkSession,
                       d: String): org.apache.spark.sql.DataFrame =
    FixtureStore.artifact(s, "lm_scores", d) {
      TextOps.bigramLmScores(Tables.documents(s, d), "doc_id", "text")
    }

  /** Session-lifetime DSIR weight store — like [[lmScores]], the
    * importance-weight frame is a MODEL artifact (two smoothed count
    * models applied to the corpus) scored once per snapshot and read
    * by both the weights query and the resampler; doc-grain
    * (doc_id, n_feats, dsir_logw). */
  private def dsirStore(s: org.apache.spark.sql.SparkSession,
                        d: String): org.apache.spark.sql.DataFrame =
    FixtureStore.artifact(s, "dsir_weights", d) {
      TextOps.dsirWeights(Tables.documents(s, d), "doc_id", "text",
          col("lang") === "en")
    }

  /** Store-served incremental LM scores for `bigram_lm_incremental`:
    * the count store builds once per (session, sf dir) — three
    * batches plus a replayed one, the at-least-once maintenance
    * drill — and the served score frame is a session artifact like
    * [[lmScores]] (the build/serve split again; in production the
    * daily job scores only its new batch and persists the result
    * next to the store). */
  private def incrementalLmScores(s: org.apache.spark.sql.SparkSession,
                                  d: String)
      : org.apache.spark.sql.DataFrame =
    FixtureStore.artifact(s, "lm_scores_incremental", d) {
      val store = FixtureStore.buildOnce(s, "bigram_counts", d) { dir =>
        val docs = Tables.documents(s, d)
        (0 until 3).foreach { i =>
          TextOps.updateBigramCounts(
            docs.filter(pmod(col("doc_id"), lit(3)) === i),
            "doc_id", "text", dir, batchId = i)
        }
        TextOps.updateBigramCounts(
          docs.filter(pmod(col("doc_id"), lit(3)) === 1),
          "doc_id", "text", dir, batchId = 1)
      }
      TextOps.bigramLmScoresFromStore(Tables.documents(s, d),
          "doc_id", "text", store)
    }

  /** Store-served incremental DSIR weights for
    * `dsir_weights_incremental` — the [[incrementalLmScores]] split
    * applied to the DSIR count store (same 3-batch + replay drill). */
  private def incrementalDsirWeights(s: org.apache.spark.sql.SparkSession,
                                     d: String)
      : org.apache.spark.sql.DataFrame =
    FixtureStore.artifact(s, "dsir_weights_incremental", d) {
      val store = FixtureStore.buildOnce(s, "dsir_counts", d) { dir =>
        val docs = Tables.documents(s, d)
        (0 until 3).foreach { i =>
          TextOps.updateDsirCounts(
            docs.filter(pmod(col("doc_id"), lit(3)) === i),
            "doc_id", "text", col("lang") === "en", dir, batchId = i)
        }
        TextOps.updateDsirCounts(
          docs.filter(pmod(col("doc_id"), lit(3)) === 2),
          "doc_id", "text", col("lang") === "en", dir, batchId = 2)
      }
      TextOps.dsirWeightsFromStore(Tables.documents(s, d),
          "doc_id", "text", col("lang") === "en", store)
    }

  /** Session-lifetime doc-grain token-count signal — (doc_id, lang,
    * n_tokens), the cheapest and most-consumed corpus signal (outlier
    * gate, drift monitor, any length filter). In production it is a
    * signal COLUMN persisted next to the corpus snapshot, computed by
    * the ingest scan; here the build/serve split ([[lmScores]]) keeps
    * multi-pass consumers — the MAD gate alone reads it three times
    * (median, deviations, gate) — from re-tokenizing the corpus once
    * per pass. */
  private def tokenSignals(s: org.apache.spark.sql.SparkSession,
                           d: String): org.apache.spark.sql.DataFrame =
    FixtureStore.artifact(s, "token_signals", d) {
      Tables.documents(s, d)
        .select(col("doc_id"), col("lang"),
          TextOps.tokenCount(col("text")).as("n_tokens"))
    }

  val defs: Map[String, QueryDef] = Map(

    // Incremental DSIR maintenance: the target/raw count store built
    // from THREE batches with batch 2 replayed, the whole corpus then
    // scored against the accumulated models. Batches partition the
    // corpus and replay dedupes, so the result is BIT-IDENTICAL to
    // the one-shot dsir_weights — same oracle SQL, which IS the
    // incremental ≡ one-shot contract.
    "dsir_weights_incremental" -> QueryDef(
      (s, d) => incrementalDsirWeights(s, d).orderBy("doc_id"),
      Some(s"""WITH t AS (SELECT doc_id, lang = 'en' AS tgt,
        |    $tokSql AS tok FROM documents),
        |bg AS (SELECT doc_id, tgt, array_to_string(tok[i:i+1], ' ') AS f
        |  FROM t, LATERAL (SELECT
        |    unnest(generate_series(1, len(tok) - 1)) AS i) u
        |  WHERE len(tok) >= 2),
        |st AS (SELECT sum(CASE WHEN tgt THEN 1 ELSE 0 END) AS nt,
        |    count(*) AS nr, count(DISTINCT f) AS v FROM bg),
        |wc AS (SELECT doc_id,
        |    sum(CASE WHEN tgt THEN 1 ELSE 0 END) OVER (PARTITION BY f)
        |      AS ct,
        |    count(*) OVER (PARTITION BY f) AS cr
        |  FROM bg),
        |lp AS (SELECT doc_id,
        |    CAST(round(ln(CAST(ct + 1 AS DOUBLE) / (nt + v))
        |      - ln(CAST(cr + 1 AS DOUBLE) / (nr + v)), 6)
        |      AS DECIMAL(20,6)) AS lp
        |  FROM wc CROSS JOIN st)
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_feats,
        |  round(CAST(sum(lp) AS DOUBLE), 6) AS dsir_logw
        |FROM lp GROUP BY doc_id ORDER BY doc_id""".stripMargin)),

    // Robust per-language outlier gate: token-count deviation beyond
    // 3 x MAD from the language's lower median — rank-based medians
    // (no interpolation rule to disagree over). Token counts are
    // DISCRETE, so the histogram form applies: one combinable
    // (lang, n_tokens) fold is the only corpus-grain aggregation and
    // no language ever sorts in one task. Per-language accounting
    // output; CorpusSignalsSpec pins discrete ≡ generic gate.
    "mad_outlier_gate" -> QueryDef(
      (s, d) => graft.ext.DriftOps.madOutlierGateDiscrete(
          tokenSignals(s, d),
          Seq("lang"), col("n_tokens"), 3.0)
        .groupBy("lang")
        .agg(count(lit(1)).as("n_docs"),
          max(col("__med")).cast("long").as("med_tokens"),
          max(col("__mad")).cast("long").as("mad_tokens"),
          sum(when(col("is_outlier"), 1L).otherwise(0L))
            .as("n_outliers"))
        .orderBy("lang"),
      Some(s"""WITH t AS (SELECT doc_id, lang, len($tokSql) AS tc
        |  FROM documents),
        |r AS (SELECT lang, tc, row_number() OVER (
        |    PARTITION BY lang ORDER BY tc) AS rn,
        |    count(*) OVER (PARTITION BY lang) AS n FROM t),
        |m AS (SELECT lang, min(tc) AS med FROM r
        |  WHERE rn = CAST(ceil(n / 2.0) AS BIGINT) GROUP BY lang),
        |d AS (SELECT t.lang, t.tc, m.med,
        |    abs(t.tc - m.med) AS dev FROM t JOIN m USING (lang)),
        |r2 AS (SELECT lang, dev, row_number() OVER (
        |    PARTITION BY lang ORDER BY dev) AS rn,
        |    count(*) OVER (PARTITION BY lang) AS n FROM d),
        |m2 AS (SELECT lang, min(dev) AS mad FROM r2
        |  WHERE rn = CAST(ceil(n / 2.0) AS BIGINT) GROUP BY lang)
        |SELECT d.lang, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(max(d.med) AS BIGINT) AS med_tokens,
        |  CAST(max(m2.mad) AS BIGINT) AS mad_tokens,
        |  CAST(sum(CASE WHEN d.dev > 3.0 * m2.mad THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_outliers
        |FROM d JOIN m2 USING (lang)
        |GROUP BY d.lang ORDER BY d.lang""".stripMargin)),

    // EXACT per-language p90 token count (lower percentile, rank
    // ⌈0.9·n⌉) through keyedOrderStatistic: a combinable bucket-
    // count fold locates the ONE value bucket holding the target
    // rank and only that bucket's rows sort — the exact-order-
    // statistic machinery for signals too continuous to histogram,
    // under its own oracle (approx_percentile_check is the sketch
    // twin; this is exact).
    "keyed_p90_exact" -> QueryDef(
      (s, d) => graft.ops.Relational.keyedOrderStatistic(
          tokenSignals(s, d), Seq("lang"), col("n_tokens"),
          n => ceil(n * 0.9).cast("long"), "p90_tokens")
        .withColumn("p90_tokens", col("p90_tokens").cast("long"))
        .orderBy("lang"),
      Some(s"""WITH t AS (SELECT lang, len($tokSql) AS tc
        |  FROM documents),
        |r AS (SELECT lang, tc, row_number() OVER (
        |    PARTITION BY lang ORDER BY tc) AS rn,
        |    count(*) OVER (PARTITION BY lang) AS n FROM t)
        |SELECT lang, CAST(min(tc) AS BIGINT) AS p90_tokens FROM r
        |WHERE rn = CAST(ceil(n * 0.9) AS BIGINT)
        |GROUP BY lang ORDER BY lang""".stripMargin)),

    // The production monitoring split: the robust model (per-lang
    // lower median + MAD of token counts) is FROZEN on the even-doc
    // snapshot, and the odd-doc batch is gated against it — a
    // drifted batch is flagged, it cannot move its own gate. Keys
    // unseen by the model come back unscored (NULL flag), counted
    // as non-outliers here, never dropped.
    "mad_gate_frozen" -> QueryDef(
      (s, d) => {
        import graft.ext.DriftOps
        val sig = tokenSignals(s, d)
        val stats = DriftOps.robustStatsDiscrete(
          sig.filter(col("doc_id") % 2 === 0), Seq("lang"),
          col("n_tokens"))
        DriftOps.applyRobustStats(
            sig.filter(col("doc_id") % 2 === 1), stats, Seq("lang"),
            col("n_tokens"), 3.0)
          .groupBy("lang")
          .agg(count(lit(1)).as("n_docs"),
            max(col("__med")).cast("long").as("med_tokens"),
            max(col("__mad")).cast("long").as("mad_tokens"),
            sum(when(col("is_outlier"), 1L).otherwise(0L))
              .as("n_outliers"))
          .orderBy("lang")
      },
      Some(s"""WITH t AS (SELECT doc_id, lang, len($tokSql) AS tc
        |  FROM documents),
        |e AS (SELECT lang, tc FROM t WHERE doc_id % 2 = 0),
        |r AS (SELECT lang, tc, row_number() OVER (
        |    PARTITION BY lang ORDER BY tc) AS rn,
        |    count(*) OVER (PARTITION BY lang) AS n FROM e),
        |m AS (SELECT lang, min(tc) AS med FROM r
        |  WHERE rn = CAST(ceil(n / 2.0) AS BIGINT) GROUP BY lang),
        |d2 AS (SELECT e.lang, abs(e.tc - m.med) AS dev
        |  FROM e JOIN m USING (lang)),
        |r2 AS (SELECT lang, dev, row_number() OVER (
        |    PARTITION BY lang ORDER BY dev) AS rn,
        |    count(*) OVER (PARTITION BY lang) AS n FROM d2),
        |m2 AS (SELECT lang, min(dev) AS mad FROM r2
        |  WHERE rn = CAST(ceil(n / 2.0) AS BIGINT) GROUP BY lang),
        |o AS (SELECT t.lang, t.tc, m.med, m2.mad FROM t
        |  LEFT JOIN m USING (lang) LEFT JOIN m2 USING (lang)
        |  WHERE t.doc_id % 2 = 1)
        |SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(max(med) AS BIGINT) AS med_tokens,
        |  CAST(max(mad) AS BIGINT) AS mad_tokens,
        |  CAST(sum(CASE WHEN abs(tc - med) > 3.0 * mad
        |    THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
        |FROM o GROUP BY lang ORDER BY lang""".stripMargin)),

    // Multi-day FROZEN-gate chaining (the rolling production
    // monitoring protocol): three "days" partition the corpus
    // (doc_id % 3); days 0 and 1 append (lang, n_tokens) histogram
    // deltas to the store — day 1 REPLAYED verbatim (the
    // at-least-once drill; the serve fold collapses it) — and day 2
    // is gated against the model re-fit from the STORE, O(delta log)
    // not O(corpus), under the explicit staleness bound. The oracle
    // re-derives day 2's gate from days 0∪1's raw rows: store-fit ≡
    // snapshot-fit IS the contract (the corpus_drift_incremental
    // posture). Day-2 langs unseen on days 0–1 come back NULL-scored,
    // never dropped.
    "mad_gate_rolling" -> QueryDef(
      (s, d) => {
        import graft.ext.DriftOps
        val sig = tokenSignals(s, d)
        def day(i: Int) = sig.filter(col("doc_id") % 3 === i)
        val store = FixtureStore.buildOnce(s, "mad_roll_store", d) {
          dir =>
            DriftOps.updateKeyedValueHistogram(day(0), Seq("lang"),
              col("n_tokens"), dir, batchId = 0L)
            DriftOps.updateKeyedValueHistogram(day(1), Seq("lang"),
              col("n_tokens"), dir, batchId = 1L)
            // replayed day: bit-identical delta under the same id
            DriftOps.updateKeyedValueHistogram(day(1), Seq("lang"),
              col("n_tokens"), dir, batchId = 1L)
            ()
        }
        DriftOps.rollingMadGate(day(2), Seq("lang"), col("n_tokens"),
            3.0, store, batchId = 2L, maxStaleness = 1L)
          .groupBy("lang")
          .agg(count(lit(1)).as("n_docs"),
            max(col("__med")).cast("long").as("med_tokens"),
            max(col("__mad")).cast("long").as("mad_tokens"),
            sum(when(col("is_outlier"), 1L).otherwise(0L))
              .as("n_outliers"))
          .orderBy("lang")
      },
      Some(s"""WITH t AS (SELECT doc_id, lang, len($tokSql) AS tc
        |  FROM documents),
        |e AS (SELECT lang, tc FROM t WHERE doc_id % 3 IN (0, 1)),
        |r AS (SELECT lang, tc, row_number() OVER (
        |    PARTITION BY lang ORDER BY tc) AS rn,
        |    count(*) OVER (PARTITION BY lang) AS n FROM e),
        |m AS (SELECT lang, min(tc) AS med FROM r
        |  WHERE rn = CAST(ceil(n / 2.0) AS BIGINT) GROUP BY lang),
        |d2 AS (SELECT e.lang, abs(e.tc - m.med) AS dev
        |  FROM e JOIN m USING (lang)),
        |r2 AS (SELECT lang, dev, row_number() OVER (
        |    PARTITION BY lang ORDER BY dev) AS rn,
        |    count(*) OVER (PARTITION BY lang) AS n FROM d2),
        |m2 AS (SELECT lang, min(dev) AS mad FROM r2
        |  WHERE rn = CAST(ceil(n / 2.0) AS BIGINT) GROUP BY lang),
        |o AS (SELECT t.lang, t.tc, m.med, m2.mad FROM t
        |  LEFT JOIN m USING (lang) LEFT JOIN m2 USING (lang)
        |  WHERE t.doc_id % 3 = 2)
        |SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(max(med) AS BIGINT) AS med_tokens,
        |  CAST(max(mad) AS BIGINT) AS mad_tokens,
        |  CAST(sum(CASE WHEN abs(tc - med) > 3.0 * mad
        |    THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
        |FROM o GROUP BY lang ORDER BY lang""".stripMargin)),

    // Top-5 trigrams per language — the corpus-statistics view every
    // curation run eyeballs (boilerplate and stopword phrases show up
    // here first). TextOps.topNgrams counts at 128-bit digest grain
    // (no gram strings shuffle at corpus scale), prunes to a
    // ties-inclusive bucket-local top-k candidate set, and recovers
    // strings only for the winners — a dominant language's
    // vocabulary only ever ranks in parallel 1/32 slices.
    "top_ngrams" -> QueryDef(
      (s, d) => TextOps.topNgrams(Tables.documents(s, d), Seq("lang"),
          col("text"), 3, 5)
        .orderBy(col("lang"), col("n_occurrences").desc, col("gram")),
      Some(s"""WITH t AS (SELECT lang, $tokSql AS tok FROM documents),
        |g AS (SELECT lang, array_to_string(tok[i:i+2], ' ') AS gram
        |  FROM t, LATERAL (SELECT
        |    unnest(generate_series(1, len(tok) - 2)) AS i) u
        |  WHERE len(tok) >= 3),
        |c AS (SELECT lang, gram, count(*) AS n_occurrences
        |  FROM g GROUP BY 1, 2),
        |r AS (SELECT lang, gram, n_occurrences, row_number() OVER (
        |    PARTITION BY lang
        |    ORDER BY n_occurrences DESC, gram) AS rn FROM c)
        |SELECT lang, gram, CAST(n_occurrences AS BIGINT)
        |    AS n_occurrences
        |FROM r WHERE rn <= 5
        |ORDER BY lang, n_occurrences DESC, gram""".stripMargin)),

    // Corpus drift PSI over token counts: the even-doc half is the
    // BASE snapshot, the odd-doc half CURRENT, literal token-count
    // cuts (10/50/100/500), Laplace-smoothed shares. Every bucket
    // gets a row; psi_total repeats the alarm scalar on each.
    "corpus_drift_psi" -> QueryDef(
      (s, d) => {
        val sig = tokenSignals(s, d)
        graft.ext.DriftOps.psiReport(
            sig.filter(col("doc_id") % 2 === 0),
            sig.filter(col("doc_id") % 2 === 1),
            col("n_tokens"),
            Seq(10.0, 50.0, 100.0, 500.0))
          .orderBy("bucket")
      },
      Some(s"""WITH t AS (SELECT doc_id, len($tokSql) AS tc
        |  FROM documents),
        |bk AS (SELECT doc_id,
        |    (CASE WHEN tc > 10 THEN 1 ELSE 0 END
        |     + CASE WHEN tc > 50 THEN 1 ELSE 0 END
        |     + CASE WHEN tc > 100 THEN 1 ELSE 0 END
        |     + CASE WHEN tc > 500 THEN 1 ELSE 0 END) AS bucket
        |  FROM t),
        |b AS (SELECT bucket, count(*) AS n_base FROM bk
        |  WHERE doc_id % 2 = 0 GROUP BY 1),
        |c AS (SELECT bucket, count(*) AS n_cur FROM bk
        |  WHERE doc_id % 2 = 1 GROUP BY 1),
        |g AS (SELECT u.bucket, coalesce(b.n_base, 0) AS n_base,
        |    coalesce(c.n_cur, 0) AS n_cur
        |  FROM (SELECT unnest(generate_series(0, 4)) AS bucket) u
        |  LEFT JOIN b USING (bucket) LEFT JOIN c USING (bucket)),
        |tt AS (SELECT sum(n_base) AS nb, sum(n_cur) AS nc FROM g),
        |p AS (SELECT g.bucket, g.n_base, g.n_cur,
        |    CAST(g.n_base + 1 AS DOUBLE) / (tt.nb + 5) AS pb,
        |    CAST(g.n_cur + 1 AS DOUBLE) / (tt.nc + 5) AS pc
        |  FROM g CROSS JOIN tt)
        |SELECT CAST(bucket AS INT) AS bucket,
        |  CAST(n_base AS BIGINT) AS n_base,
        |  CAST(n_cur AS BIGINT) AS n_cur,
        |  round(pb, 6) AS p_base, round(pc, 6) AS p_cur,
        |  round((pb - pc) * ln(pb / pc), 6) AS psi_contrib,
        |  round(sum((pb - pc) * ln(pb / pc))
        |    OVER (), 6) AS psi_total
        |FROM p ORDER BY bucket""".stripMargin)),

    // Store-served incremental drift: the SAME report as
    // corpus_drift_psi, but both count sides come from persisted
    // per-bucket histogram delta logs — base built in 2 batches,
    // current in 3 with batch 1 REPLAYED (the at-least-once drill;
    // the serve fold collapses it). The oracle is corpus_drift_psi's
    // one-shot SQL: incremental ≡ one-shot IS the contract.
    "corpus_drift_incremental" -> QueryDef(
      (s, d) => {
        import graft.ext.DriftOps
        val cuts = Seq(10.0, 50.0, 100.0, 500.0)
        val sig = tokenSignals(s, d)
        val baseDir = FixtureStore.buildOnce(s, "drift_base", d) {
          dir =>
            (0 until 2).foreach { i =>
              DriftOps.updateValueHistogram(
                sig.filter(col("doc_id") % 2 === 0 &&
                  pmod(col("doc_id"), lit(4)) === 2 * i),
                col("n_tokens"), cuts, dir, batchId = i) }
        }
        val curDir = FixtureStore.buildOnce(s, "drift_cur", d) {
          dir =>
            (0 until 3).foreach { i =>
              DriftOps.updateValueHistogram(
                sig.filter(col("doc_id") % 2 === 1 &&
                  pmod(col("doc_id"), lit(6)) === 2 * i + 1),
                col("n_tokens"), cuts, dir, batchId = i) }
            DriftOps.updateValueHistogram(
              sig.filter(col("doc_id") % 2 === 1 &&
                pmod(col("doc_id"), lit(6)) === 3),
              col("n_tokens"), cuts, dir, batchId = 1)
        }
        DriftOps.psiReportFromStores(s, baseDir, curDir, cuts)
          .orderBy("bucket")
      },
      Some(s"""WITH t AS (SELECT doc_id, len($tokSql) AS tc
        |  FROM documents),
        |bk AS (SELECT doc_id,
        |    (CASE WHEN tc > 10 THEN 1 ELSE 0 END
        |     + CASE WHEN tc > 50 THEN 1 ELSE 0 END
        |     + CASE WHEN tc > 100 THEN 1 ELSE 0 END
        |     + CASE WHEN tc > 500 THEN 1 ELSE 0 END) AS bucket
        |  FROM t),
        |b AS (SELECT bucket, count(*) AS n_base FROM bk
        |  WHERE doc_id % 2 = 0 GROUP BY 1),
        |c AS (SELECT bucket, count(*) AS n_cur FROM bk
        |  WHERE doc_id % 2 = 1 GROUP BY 1),
        |g AS (SELECT u.bucket, coalesce(b.n_base, 0) AS n_base,
        |    coalesce(c.n_cur, 0) AS n_cur
        |  FROM (SELECT unnest(generate_series(0, 4)) AS bucket) u
        |  LEFT JOIN b USING (bucket) LEFT JOIN c USING (bucket)),
        |tt AS (SELECT sum(n_base) AS nb, sum(n_cur) AS nc FROM g),
        |p AS (SELECT g.bucket, g.n_base, g.n_cur,
        |    CAST(g.n_base + 1 AS DOUBLE) / (tt.nb + 5) AS pb,
        |    CAST(g.n_cur + 1 AS DOUBLE) / (tt.nc + 5) AS pc
        |  FROM g CROSS JOIN tt)
        |SELECT CAST(bucket AS INT) AS bucket,
        |  CAST(n_base AS BIGINT) AS n_base,
        |  CAST(n_cur AS BIGINT) AS n_cur,
        |  round(pb, 6) AS p_base, round(pc, 6) AS p_cur,
        |  round((pb - pc) * ln(pb / pc), 6) AS psi_contrib,
        |  round(sum((pb - pc) * ln(pb / pc))
        |    OVER (), 6) AS psi_total
        |FROM p ORDER BY bucket""".stripMargin)),

    // Corpus-level duplicated-n-gram share, n=5: the digest-shuffled
    // document-frequency fold over every doc's distinct 5-gram set.
    // Docs shorter than 5 tokens yield no row (no 5-grams) — mirrored
    // by the oracle's len(tok) >= 5 guard.
    "corpus_dup_ngrams" -> QueryDef(
      (s, d) => DedupOps.corpusDupNgramShare(
          Tables.documents(s, d), "doc_id", "text", 5)
        .orderBy("doc_id"),
      Some(s"""WITH t AS (SELECT doc_id, $tokSql AS tok FROM documents),
        |g AS (SELECT DISTINCT doc_id, array_to_string(tok[i:i+4], ' ')
        |    AS gram
        |  FROM t, LATERAL (SELECT
        |    unnest(generate_series(1, len(tok) - 4)) AS i) u
        |  WHERE len(tok) >= 5),
        |dd AS (SELECT doc_id, count(*) OVER (PARTITION BY gram) AS df
        |  FROM g)
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_grams,
        |  CAST(sum(CASE WHEN df > 1 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_dup_grams,
        |  round(CAST(sum(CASE WHEN df > 1 THEN 1 ELSE 0 END) AS DOUBLE)
        |    / count(*), 6) AS dup_share
        |FROM dd GROUP BY doc_id ORDER BY doc_id""".stripMargin)),

    // Self-trained bigram-LM mean log-probability per document. The
    // model is the corpus's own bigram/left-token count frames; every
    // observed bigram has c2 >= 1 and c1 >= c2, so ln(c2/c1) is finite
    // and <= 0. Docs with < 2 tokens yield no row.
    "bigram_lm_score" -> QueryDef(
      (s, d) => lmScores(s, d)
        .select("doc_id", "n_bigrams", "lm_logprob")
        .orderBy("doc_id"),
      Some(s"""WITH t AS (SELECT doc_id, $tokSql AS tok FROM documents),
        |bg AS (SELECT doc_id, array_to_string(tok[i:i+1], ' ') AS bigram,
        |    tok[i] AS w1
        |  FROM t, LATERAL (SELECT
        |    unnest(generate_series(1, len(tok) - 1)) AS i) u
        |  WHERE len(tok) >= 2),
        |c2 AS (SELECT bigram, count(*) AS c2 FROM bg GROUP BY 1),
        |c1 AS (SELECT w1, count(*) AS c1 FROM bg GROUP BY 1),
        |j AS (SELECT bg.doc_id,
        |    CAST(round(ln(CAST(c2.c2 AS DOUBLE) / c1.c1), 6)
        |      AS DECIMAL(20,6)) AS lp
        |  FROM bg JOIN c2 USING (bigram) JOIN c1 USING (w1))
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
        |  round(CAST(sum(lp) AS DOUBLE) / count(*), 6) AS lm_logprob
        |FROM j GROUP BY doc_id ORDER BY doc_id""".stripMargin)),

    // Incremental bigram-LM maintenance: the count store built from
    // THREE batches (doc_id % 3) with batch 1 replayed (at-least-once
    // append), then the whole corpus scored against the accumulated
    // model. Batches partition the corpus and replay dedupes, so the
    // result is BIT-IDENTICAL to the one-shot bigram_lm_score — the
    // oracle is the same one-shot SQL, which is exactly the
    // incremental ≡ one-shot contract under test.
    "bigram_lm_incremental" -> QueryDef(
      (s, d) => incrementalLmScores(s, d)
        .select("doc_id", "n_bigrams", "lm_logprob")
        .orderBy("doc_id"),
      Some(s"""WITH t AS (SELECT doc_id, $tokSql AS tok FROM documents),
        |bg AS (SELECT doc_id, array_to_string(tok[i:i+1], ' ') AS bigram,
        |    tok[i] AS w1
        |  FROM t, LATERAL (SELECT
        |    unnest(generate_series(1, len(tok) - 1)) AS i) u
        |  WHERE len(tok) >= 2),
        |c2 AS (SELECT bigram, count(*) AS c2 FROM bg GROUP BY 1),
        |c1 AS (SELECT w1, count(*) AS c1 FROM bg GROUP BY 1),
        |j AS (SELECT bg.doc_id,
        |    CAST(round(ln(CAST(c2.c2 AS DOUBLE) / c1.c1), 6)
        |      AS DECIMAL(20,6)) AS lp
        |  FROM bg JOIN c2 USING (bigram) JOIN c1 USING (w1))
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
        |  round(CAST(sum(lp) AS DOUBLE) / count(*), 6) AS lm_logprob
        |FROM j GROUP BY doc_id ORDER BY doc_id""".stripMargin)),

    // DSIR hashed-bigram importance weights: target domain = English
    // documents, raw = the whole corpus, Laplace-smoothed bag-of-
    // bigram models. Docs with < 2 tokens yield no row.
    "dsir_weights" -> QueryDef(
      (s, d) => dsirStore(s, d).orderBy("doc_id"),
      Some(s"""WITH t AS (SELECT doc_id, lang = 'en' AS tgt,
        |    $tokSql AS tok FROM documents),
        |bg AS (SELECT doc_id, tgt, array_to_string(tok[i:i+1], ' ') AS f
        |  FROM t, LATERAL (SELECT
        |    unnest(generate_series(1, len(tok) - 1)) AS i) u
        |  WHERE len(tok) >= 2),
        |st AS (SELECT sum(CASE WHEN tgt THEN 1 ELSE 0 END) AS nt,
        |    count(*) AS nr, count(DISTINCT f) AS v FROM bg),
        |wc AS (SELECT doc_id,
        |    sum(CASE WHEN tgt THEN 1 ELSE 0 END) OVER (PARTITION BY f)
        |      AS ct,
        |    count(*) OVER (PARTITION BY f) AS cr
        |  FROM bg),
        |lp AS (SELECT doc_id,
        |    CAST(round(ln(CAST(ct + 1 AS DOUBLE) / (nt + v))
        |      - ln(CAST(cr + 1 AS DOUBLE) / (nr + v)), 6)
        |      AS DECIMAL(20,6)) AS lp
        |  FROM wc CROSS JOIN st)
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_feats,
        |  round(CAST(sum(lp) AS DOUBLE), 6) AS dsir_logw
        |FROM lp GROUP BY doc_id ORDER BY doc_id""".stripMargin)),

    // Duplicated-span coverage, n=5: per doc, token positions covered
    // by any 5-gram occurring more than once in the whole corpus
    // (cross-doc AND within-doc repeats). Every document gets a row.
    "dup_span_coverage" -> QueryDef(
      (s, d) => DedupOps.dupSpanCoverage(
          Tables.documents(s, d), "doc_id", "text", 5)
        .select(col("doc_id"), col("n_tokens").cast("long"),
          col("n_covered"), col("coverage"))
        .orderBy("doc_id"),
      Some(s"""WITH t AS (SELECT doc_id, $tokSql AS tok FROM documents),
        |g AS (SELECT doc_id, i, array_to_string(tok[i:i+4], ' ') AS gram
        |  FROM t, LATERAL (SELECT
        |    unnest(generate_series(1, len(tok) - 4)) AS i) u
        |  WHERE len(tok) >= 5),
        |ds AS (SELECT doc_id, i FROM (SELECT doc_id, i,
        |    count(*) OVER (PARTITION BY gram) AS occ FROM g)
        |  WHERE occ > 1),
        |cov AS (SELECT doc_id, count(DISTINCT p) AS n_cov
        |  FROM ds, LATERAL (SELECT
        |    unnest(generate_series(i, i + 4)) AS p) u
        |  GROUP BY doc_id)
        |SELECT t.doc_id, CAST(len(tok) AS BIGINT) AS n_tokens,
        |  CAST(coalesce(cov.n_cov, 0) AS BIGINT) AS n_covered,
        |  CASE WHEN len(tok) = 0 THEN 0.0
        |    ELSE round(CAST(coalesce(cov.n_cov, 0) AS DOUBLE)
        |      / len(tok), 6) END AS coverage
        |FROM t LEFT JOIN cov ON t.doc_id = cov.doc_id
        |ORDER BY t.doc_id""".stripMargin)),

    // DSIR importance RESAMPLING — the selection step completing
    // dsir_weights: Gumbel-max over the log importance weights
    // (sampling w.p. ∝ exp(logw) ≡ taking top-k of logw + Gumbel
    // noise), with the noise derived deterministically from the
    // document content hash (the same md5→uniform machinery as the
    // A-ES weighted sample — reproducible across runs, engines and
    // partitionings, which is the whole point of hash-keyed sampling
    // here). Output: the 50 selected docs with their weights + keys.
    "dsir_resample" -> QueryDef(
      (s, d) => {
        val docs = Tables.documents(s, d)
        dsirStore(s, d)
          .join(docs.select("doc_id", "text"), Seq("doc_id"))
          .withColumn("sample_key", round(
            col("dsir_logw") - log(-log(
              (conv(substring(md5(col("text").cast("binary")), 1, 13),
                16, 10).cast("double") + 0.5) / 4503599627370496.0)),
            6))
          .orderBy(col("sample_key").desc, col("doc_id")).limit(50)
          .select("doc_id", "n_feats", "dsir_logw", "sample_key")
      },
      Some(s"""WITH t AS (SELECT doc_id, lang = 'en' AS tgt,
        |    $tokSql AS tok FROM documents),
        |bg AS (SELECT doc_id, tgt, array_to_string(tok[i:i+1], ' ') AS f
        |  FROM t, LATERAL (SELECT
        |    unnest(generate_series(1, len(tok) - 1)) AS i) u
        |  WHERE len(tok) >= 2),
        |st AS (SELECT sum(CASE WHEN tgt THEN 1 ELSE 0 END) AS nt,
        |    count(*) AS nr, count(DISTINCT f) AS v FROM bg),
        |wc AS (SELECT doc_id,
        |    sum(CASE WHEN tgt THEN 1 ELSE 0 END) OVER (PARTITION BY f)
        |      AS ct,
        |    count(*) OVER (PARTITION BY f) AS cr
        |  FROM bg),
        |lp AS (SELECT doc_id,
        |    CAST(round(ln(CAST(ct + 1 AS DOUBLE) / (nt + v))
        |      - ln(CAST(cr + 1 AS DOUBLE) / (nr + v)), 6)
        |      AS DECIMAL(20,6)) AS lp
        |  FROM wc CROSS JOIN st),
        |dsw AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_feats,
        |    round(CAST(sum(lp) AS DOUBLE), 6) AS dsir_logw
        |  FROM lp GROUP BY doc_id)
        |SELECT dsw.doc_id, dsw.n_feats, dsw.dsir_logw,
        |  round(dsw.dsir_logw - ln(-ln(
        |    (CAST(CAST(('0x' || substring(md5(dd.text), 1, 13))
        |      AS BIGINT) AS DOUBLE) + 0.5) / 4503599627370496.0)), 6)
        |    AS sample_key
        |FROM dsw JOIN documents dd ON dsw.doc_id = dd.doc_id
        |ORDER BY sample_key DESC, dsw.doc_id LIMIT 50""".stripMargin)),

    // Duplicated-span REMOVAL, n=5: the transform dup_span_coverage
    // accounts for — strip positions covered by NON-canonical
    // occurrences of corpus-duplicated 5-grams (canonical = the
    // (doc, start)-minimal occurrence; the corpus keeps exactly one
    // copy of each repeated passage). Cleaned text itself is in the
    // output, so the oracle hashes the full reconstruction.
    "dup_span_strip" -> QueryDef(
      (s, d) => DedupOps.stripDupSpans(
          Tables.documents(s, d), "doc_id", "text", 5)
        .orderBy("doc_id"),
      Some(s"""WITH t AS (SELECT doc_id, $tokSql AS tok FROM documents),
        |g AS (SELECT doc_id, i, array_to_string(tok[i:i+4], ' ') AS gram
        |  FROM t, LATERAL (SELECT
        |    unnest(generate_series(1, len(tok) - 4)) AS i) u
        |  WHERE len(tok) >= 5),
        |occ AS (SELECT doc_id, i,
        |    count(*) OVER (PARTITION BY gram) AS occ,
        |    row_number() OVER (PARTITION BY gram
        |      ORDER BY doc_id, i) AS rn
        |  FROM g),
        |rm AS (SELECT DISTINCT doc_id, p
        |  FROM occ, LATERAL (SELECT
        |    unnest(generate_series(i, i + 4)) AS p) u
        |  WHERE occ > 1 AND rn > 1),
        |pos AS (SELECT doc_id, u.p, u.tk
        |  FROM t, LATERAL (SELECT
        |    unnest(generate_series(1, len(tok))) AS p,
        |    unnest(tok) AS tk) u),
        |kept AS (SELECT pos.doc_id, count(*) AS n_kept,
        |    string_agg(pos.tk, ' ' ORDER BY pos.p) AS cleaned
        |  FROM pos LEFT JOIN rm
        |    ON pos.doc_id = rm.doc_id AND pos.p = rm.p
        |  WHERE rm.doc_id IS NULL GROUP BY pos.doc_id)
        |SELECT t.doc_id, CAST(len(tok) AS BIGINT) AS n_tokens,
        |  CAST(len(tok) - coalesce(kept.n_kept, 0) AS BIGINT)
        |    AS n_removed,
        |  coalesce(kept.cleaned, '') AS cleaned_text
        |FROM t LEFT JOIN kept ON t.doc_id = kept.doc_id
        |ORDER BY t.doc_id""".stripMargin)),

    // CCNet-style per-language fluency buckets over the self-trained
    // bigram-LM score: 3 equal-frequency buckets by the explicit
    // ceil(3·rank/count) formula (NOT ntile — remainder rules differ
    // across engines), ranked by (score desc, doc_id).
    "ccnet_buckets" -> QueryDef(
      (s, d) => TextOps.ccnetBucketsFromScores(lmScores(s, d),
          Tables.documents(s, d), "doc_id", "lang", 3)
        .orderBy("lang", "bucket"),
      Some(s"""WITH t AS (SELECT doc_id, $tokSql AS tok FROM documents),
        |bg AS (SELECT doc_id, array_to_string(tok[i:i+1], ' ') AS bigram,
        |    tok[i] AS w1
        |  FROM t, LATERAL (SELECT
        |    unnest(generate_series(1, len(tok) - 1)) AS i) u
        |  WHERE len(tok) >= 2),
        |c2 AS (SELECT bigram, count(*) AS c2 FROM bg GROUP BY 1),
        |c1 AS (SELECT w1, count(*) AS c1 FROM bg GROUP BY 1),
        |j AS (SELECT bg.doc_id,
        |    CAST(round(ln(CAST(c2.c2 AS DOUBLE) / c1.c1), 6)
        |      AS DECIMAL(20,6)) AS lp
        |  FROM bg JOIN c2 USING (bigram) JOIN c1 USING (w1)),
        |sc AS (SELECT doc_id,
        |    round(CAST(sum(lp) AS DOUBLE) / count(*), 6) AS lm
        |  FROM j GROUP BY doc_id),
        |sl AS (SELECT d.lang, sc.lm,
        |    row_number() OVER (PARTITION BY d.lang
        |      ORDER BY sc.lm DESC, sc.doc_id) AS rn,
        |    count(*) OVER (PARTITION BY d.lang) AS n
        |  FROM sc JOIN documents d USING (doc_id))
        |SELECT lang, CAST(ceil(CAST(rn * 3 AS DOUBLE) / n) AS INT)
        |    AS bucket,
        |  CAST(count(*) AS BIGINT) AS n_docs,
        |  round(CAST(sum(CAST(lm AS DECIMAL(25,6))) AS DOUBLE)
        |    / count(*), 6) AS avg_logprob
        |FROM sl GROUP BY lang, bucket
        |ORDER BY lang, bucket""".stripMargin)),

    // SemDeDup over the embeddings table: per-label mean centroids as
    // the (deterministic, oracle-expressible) cluster model, nearest-
    // centroid assignment by rounded cosine, min-id survivor pruning
    // at cosine >= 0.2 within each assigned cluster. Output is the
    // per-cluster accounting frame.
    "semantic_dedup" -> QueryDef(
      (s, d) => {
        val emb = Tables.embeddings(s, d)
        VectorOps.semanticDedup(emb, "vec_id", "embedding",
            VectorOps.meanCentroids(emb, "embedding", "label")
              .withColumnRenamed("label", "cluster"),
            "cluster", threshold = 0.2, maxClusterSize = 10000)
          .orderBy("cluster")
      },
      Some("""WITH comp AS (SELECT label, u.dim, u.component
        |  FROM embeddings, LATERAL (SELECT
        |    unnest(generate_series(1, len(embedding))) AS dim,
        |    unnest(embedding) AS component) u),
        |cent AS (SELECT label AS cluster,
        |    list(mean_c ORDER BY dim) AS centroid
        |  FROM (SELECT label, dim,
        |      CAST(sum(CAST(component AS DECIMAL(25,6))) AS DOUBLE)
        |        / count(*) AS mean_c
        |    FROM comp GROUP BY label, dim) GROUP BY label),
        |a AS (SELECT e.vec_id, c.cluster,
        |    round(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
        |      c.centroid), 6) AS cs
        |  FROM embeddings e CROSS JOIN cent c),
        |asg AS (SELECT vec_id, cluster FROM (
        |    SELECT vec_id, cluster, row_number() OVER (
        |      PARTITION BY vec_id ORDER BY cs DESC, cluster) AS rn
        |    FROM a) WHERE rn = 1),
        |sc AS (SELECT cluster FROM asg GROUP BY 1
        |  HAVING count(*) <= 10000),
        |pairs AS (SELECT DISTINCT x.cluster, y.vec_id AS drop_id
        |  FROM asg x JOIN asg y
        |    ON x.cluster = y.cluster AND x.vec_id < y.vec_id
        |  JOIN sc ON x.cluster = sc.cluster
        |  JOIN embeddings ex ON ex.vec_id = x.vec_id
        |  JOIN embeddings ey ON ey.vec_id = y.vec_id
        |  WHERE round(list_cosine_similarity(
        |    CAST(ex.embedding AS DOUBLE[]),
        |    CAST(ey.embedding AS DOUBLE[])), 6) >= 0.2),
        |drp AS (SELECT cluster, count(*) AS n_dropped
        |  FROM pairs GROUP BY 1)
        |SELECT asg.cluster, CAST(count(*) AS BIGINT) AS n_assigned,
        |  CAST(coalesce(max(drp.n_dropped), 0) AS BIGINT) AS n_dropped,
        |  CAST(count(*) - coalesce(max(drp.n_dropped), 0) AS BIGINT)
        |    AS n_kept,
        |  count(*) > 10000 AS capped
        |FROM asg LEFT JOIN drp ON asg.cluster = drp.cluster
        |GROUP BY asg.cluster ORDER BY asg.cluster""".stripMargin)),

    // Learned quality classifier (VERDICT r13 #3 — the CCNet/
    // RefinedWeb "train a tiny linear model on curated-vs-raw and
    // score the corpus" stage): NB log-odds over md5-hashed bigram
    // buckets (graft.ext.ClassifierOps scaladoc for why closed-form
    // beats SGD here). Trained on the EVEN-id half only (curated
    // proxy: lang = 'en'), scored over the WHOLE corpus — the odd
    // half exercises genuine generalization including unseen-bucket
    // defaults. The oracle re-derives training and scoring from
    // scratch: bucket = ('0x' || md5-prefix) % 4096, Laplace-1
    // weights rounded to 6 decimals as DECIMAL(20,6) (exact sums),
    // bias from the training class document counts. quality_pass is
    // the log-odds sign — the sigmoid-½ threshold without exp, so
    // no transcendental beyond the ln both engines already match on
    // (dsir_weights precedent).
    "quality_classifier" -> QueryDef(
      (s, d) => {
        val docs = Tables.documents(s, d)
        val model = graft.ext.ClassifierOps.trainQualityClassifier(
          docs.filter(col("doc_id") % 2 === 0), "doc_id", "text",
          col("lang") === "en")
        graft.ext.ClassifierOps.scoreQuality(docs, "doc_id", "text",
            model)
          .orderBy("doc_id")
      },
      Some(classifierOracleSql)),

    // The classifier's O(batch) maintenance twin (the
    // bigram_lm_incremental / dsir_weights_incremental posture
    // applied to the learned quality model): the even-id training
    // half arrives as THREE batches (plus one replayed — the
    // at-least-once drill) through
    // ClassifierOps.updateClassifierCounts' bucket-count delta log,
    // and the model is folded back by classifierFromStore. The
    // oracle is the ONE-SHOT derivation — incremental ≡ one-shot is
    // the contract, exactly as for the other two count stores.
    "quality_classifier_incremental" -> QueryDef(
      (s, d) => incrementalClassifierScores(s, d).orderBy("doc_id"),
      Some(classifierOracleSql)),

    // LEARNED language-ID (VERDICT r14 missing #2 — the
    // fasttext-langid stage where TextOps.langId's 10-stopword
    // heuristic tops out): multiclass NB log-likelihood over
    // md5-hashed char TRIGRAMS (ClassifierOps.trainLangId /
    // classifyLang — the quality_classifier machinery with a
    // language axis riding the broadcast weight table). Trained on
    // the even-id half with its lang labels, classified over the
    // WHOLE corpus; the odd half exercises genuine generalization
    // including unseen-bucket defaults and the prior-argmax
    // featureless fallback. The oracle re-derives training AND
    // argmax classification from scratch in SQL — exact decimal
    // score sums, (score desc, lang) tiebreak on both sides.
    "lang_id_learned" -> QueryDef(
      (s, d) => {
        val docs = Tables.documents(s, d)
        val model = graft.ext.ClassifierOps.trainLangId(
          docs.filter(col("doc_id") % 2 === 0), "doc_id", "text",
          "lang")
        graft.ext.ClassifierOps.classifyLang(docs, "doc_id", "text",
            model)
          .orderBy("doc_id")
      },
      Some(langIdOracleSql)),

    // The lang-ID model's O(batch) maintenance twin (VERDICT r15
    // missing #2 — the delta-log + CountLog + streaming-twin triple
    // every other learned model has, closed for language-ID): the
    // even-id training half arrives as THREE batches (plus one
    // replayed — the at-least-once drill) through
    // ClassifierOps.updateLangIdCounts' (lang, bucket) delta log
    // with per-language document sentinels, and the model folds back
    // via langIdFromStore. The oracle is the ONE-SHOT derivation —
    // incremental ≡ one-shot is the contract, exactly as for the
    // other count stores.
    "lang_id_incremental" -> QueryDef(
      (s, d) => incrementalLangIdPreds(s, d).orderBy("doc_id"),
      Some(langIdOracleSql)),

    // Tokenizer-honest token counts (VERDICT r14 missing #3): a
    // 16-merge BPE vocabulary trained on the doc_id % 20 = 0 fixture
    // slice (BpeOps.trainMerges — one combinable pair-count fold per
    // merge), then every doc priced under the frozen merge list at
    // distinct-word grain (BpeOps.tokenCounts). The oracle is the
    // FULL derivation re-run in SQL: 16 unrolled train steps (pair
    // count → (count desc, pair) argmax → list_reduce merge fold)
    // plus the 16-step inference chain over the corpus vocabulary —
    // hash-match certifies trainer AND counter engine-portable,
    // including the leftmost-nonoverlap merge rule and the
    // lexicographic tiebreak.
    "bpe_token_count" -> QueryDef(
      (s, d) => {
        val docs = Tables.documents(s, d)
        val merges = graft.ext.BpeOps.trainMerges(
          docs.filter(col("doc_id") % 20 === 0), "text", nMerges = 16)
        graft.ext.BpeOps.tokenCounts(docs, "doc_id", "text", merges)
          .orderBy("doc_id")
      },
      Some(bpeOracleSql(16))),

    // BPE pricing under a PERSISTED production-scale merge table
    // (VERDICT r15 missing #1 realized end-to-end): the trainer is
    // asked for 1024 merges (trainMergesMax — the driver corpus's
    // 31-word vocabulary exhausts at ~100; the zipf legs' 50k-token
    // vocabulary trains the full 1024 in-registry), the merge list
    // persists as a (rank, a, b) parquet table, is loaded back, and
    // every doc prices under ONE native BpeEncode expression — flat
    // plan depth whatever the merge count, vs the pre-r16
    // one-HOF-fold-per-merge chain that could not plan at tokenizer
    // scale. The oracle re-derives the counts from the PERSISTED
    // table itself (read_parquet + a recursive CTE that replays the
    // ranked merges as leftmost-nonoverlapping string replaces over
    // space-delimited symbols), so inference-at-depth and the
    // persistence round-trip are both certified without unrolling
    // training in SQL. The fixture path is the gate-SF scratch dir
    // by construction (FixtureStore.scratchDirFor, composed in the
    // JVM that writes the fixture — the oracle gate runs at sf0.01;
    // any other SF fails the oracle loudly on a missing file, never
    // silently).
    "bpe_token_count_store" -> QueryDef(
      (s, d) => {
        val docs = Tables.documents(s, d)
        graft.ext.BpeOps.tokenCounts(docs, "doc_id", "text",
            storedMerges(s, d))
          .orderBy("doc_id")
      },
      Some(bpeStoreOracleSql))
  )

  /** One oracle for both lang-ID queries: the one-shot SQL
    * derivation of training AND argmax classification (the
    * store-served form must be bit-identical to it — that IS the
    * incremental contract, exactly as for [[classifierOracleSql]]).
    */
  private def langIdOracleSql: String =
    """WITH t AS (SELECT doc_id, lang, lower(trim(text)) AS s
        |  FROM documents),
        |g AS (SELECT doc_id,
        |    CAST(('0x' || substring(md5(substring(s, i, 3)), 1, 8))
        |      AS BIGINT) % 4096 AS b
        |  FROM t, LATERAL (SELECT
        |    unnest(generate_series(1, length(s) - 2)) AS i) u
        |  WHERE length(s) >= 3),
        |trn AS (SELECT g.doc_id, t.lang, g.b FROM g
        |  JOIN t USING (doc_id) WHERE g.doc_id % 2 = 0),
        |cnt AS (SELECT lang, b, count(*) AS c FROM trn GROUP BY 1, 2),
        |occ AS (SELECT lang, sum(c) AS nl FROM cnt GROUP BY 1),
        |dl AS (SELECT lang, count(*) AS ndocs FROM t
        |  WHERE doc_id % 2 = 0 GROUP BY 1),
        |dt AS (SELECT sum(ndocs) AS total FROM dl),
        |w AS (SELECT b, cnt.lang,
        |    CAST(round(ln(CAST(c + 1 AS DOUBLE) / (nl + 4096)), 6)
        |      AS DECIMAL(20,6)) AS w
        |  FROM cnt JOIN occ USING (lang)),
        |l0 AS (SELECT dl.lang,
        |    CAST(round(ln(1.0 / (coalesce(nl, 0) + 4096)), 6)
        |      AS DECIMAL(20,6)) AS w0,
        |    CAST(round(ln(CAST(dl.ndocs AS DOUBLE) / dt.total), 6)
        |      AS DECIMAL(20,6)) AS b0
        |  FROM dl LEFT JOIN occ USING (lang) CROSS JOIN dt),
        |db AS (SELECT doc_id, b, count(*) AS m FROM g GROUP BY 1, 2),
        |sc AS (SELECT db.doc_id, l0.lang,
        |    l0.b0 + sum(db.m * coalesce(w.w, l0.w0)) AS s
        |  FROM db CROSS JOIN l0
        |  LEFT JOIN w ON w.b = db.b AND w.lang = l0.lang
        |  GROUP BY db.doc_id, l0.lang, l0.b0),
        |r AS (SELECT doc_id, lang, s, row_number() OVER (
        |    PARTITION BY doc_id ORDER BY s DESC, lang) AS rn
        |  FROM sc),
        |pbest AS (SELECT lang, b0 FROM l0
        |  ORDER BY b0 DESC, lang LIMIT 1)
        |SELECT t.doc_id,
        |  coalesce(r.lang, (SELECT lang FROM pbest)) AS lang_pred,
        |  round(CAST(coalesce(r.s, (SELECT b0 FROM pbest))
        |    AS DOUBLE), 6) AS lang_score
        |FROM t LEFT JOIN r ON t.doc_id = r.doc_id AND r.rn = 1
        |ORDER BY t.doc_id""".stripMargin

  /** The generated `bpe_token_count` oracle: nMerges unrolled
    * training steps + the matching inference chain (see the query
    * comment). Kept as a generator so the merge count stays a single
    * shared constant with the Spark side. */
  private def bpeOracleSql(nMerges: Int): String = {
    // one ranked merge applied to the space-joined symbol string `w`
    // with the (a, b) scalars of CTE alias `b` in scope — the exact
    // left fold BpeOps.applyMerge runs (leftmost-nonoverlapping;
    // single-symbol words pass through list_reduce untouched)
    def applySql(b: String): String =
      s"""list_reduce(string_split(w, ' '), (acc, x) -> CASE
         |    WHEN x = $b.b AND string_split(acc, ' ')[-1] = $b.a
         |    THEN CASE WHEN len(string_split(acc, ' ')) = 1
         |         THEN $b.a || $b.b
         |         ELSE array_to_string(string_split(acc, ' ')[1:-2],
         |           ' ') || ' ' || $b.a || $b.b END
         |    ELSE acc || ' ' || x END)""".stripMargin
    val charSyms =
      """array_to_string(list_transform(
        |    generate_series(1, length(w)), i -> substring(w, i, 1)),
        |    ' ')""".stripMargin
    val trainSteps = (1 to nMerges).map { i =>
      s"""g$i AS MATERIALIZED (SELECT sy[j] || ' ' || sy[j+1] AS pr,
         |    sum(f) AS c
         |  FROM (SELECT string_split(w, ' ') AS sy, f FROM w${i - 1}),
         |    LATERAL (SELECT
         |      unnest(generate_series(1, len(sy) - 1)) AS j) u
         |  GROUP BY 1),
         |b$i AS MATERIALIZED (SELECT string_split(pr, ' ')[1] AS a,
         |    string_split(pr, ' ')[2] AS b
         |  FROM (SELECT pr FROM g$i ORDER BY c DESC, pr LIMIT 1)),
         |w$i AS MATERIALIZED (SELECT ${applySql(s"b$i")} AS w, f
         |  FROM w${i - 1}, b$i)""".stripMargin
    }.mkString(",\n")
    val inferSteps = (1 to nMerges).map { i =>
      s"""c$i AS MATERIALIZED (SELECT w0, ${applySql(s"b$i")} AS w
         |  FROM c${i - 1}, b$i)""".stripMargin
    }.mkString(",\n")
    s"""WITH t AS MATERIALIZED (SELECT doc_id, $tokSql AS tok
       |  FROM documents),
       |w0 AS MATERIALIZED (SELECT $charSyms AS w, f
       |  FROM (SELECT w, count(*) AS f
       |    FROM (SELECT unnest(tok) AS w FROM t WHERE doc_id % 20 = 0)
       |    GROUP BY w ORDER BY f DESC, w LIMIT 65536)),
       |$trainSteps,
       |c0 AS MATERIALIZED (SELECT w AS w0, $charSyms AS w
       |  FROM (SELECT DISTINCT unnest(tok) AS w FROM t)),
       |$inferSteps,
       |k AS (SELECT c.w0, CAST(len(string_split(c.w, ' ')) AS BIGINT)
       |    AS k FROM c$nMerges c),
       |dw AS (SELECT doc_id, w, count(*) AS m
       |  FROM (SELECT doc_id, unnest(tok) AS w FROM t) GROUP BY 1, 2),
       |agg AS (SELECT dw.doc_id, sum(m) AS nws, sum(m * k.k) AS nbpe
       |  FROM dw JOIN k ON dw.w = k.w0 GROUP BY 1)
       |SELECT t.doc_id,
       |  CAST(coalesce(agg.nws, 0) AS BIGINT) AS n_ws_tokens,
       |  CAST(coalesce(agg.nbpe, 0) AS BIGINT) AS n_bpe_tokens
       |FROM t LEFT JOIN agg USING (doc_id)
       |ORDER BY t.doc_id""".stripMargin
  }

  /** One oracle for both classifier queries: the one-shot SQL
    * derivation of training AND scoring (the store-served form must
    * be bit-identical to it — that IS the incremental contract). */
  private def classifierOracleSql: String =
    s"""WITH t AS (SELECT doc_id, lang = 'en' AS pos,
        |    $tokSql AS tok FROM documents),
        |big AS (SELECT doc_id, pos,
        |    CAST(('0x' || substring(md5(
        |      array_to_string(tok[i:i+1], ' ')), 1, 8)) AS BIGINT)
        |      % 4096 AS b
        |  FROM t, LATERAL (SELECT
        |    unnest(generate_series(1, len(tok) - 1)) AS i) u
        |  WHERE len(tok) >= 2),
        |trn AS (SELECT * FROM big WHERE doc_id % 2 = 0),
        |cnt AS (SELECT b, sum(CASE WHEN pos THEN 1 ELSE 0 END) AS cp,
        |    sum(CASE WHEN pos THEN 0 ELSE 1 END) AS cn
        |  FROM trn GROUP BY b),
        |occ AS (SELECT sum(cp) AS np, sum(cn) AS nn FROM cnt),
        |dcs AS (SELECT sum(CASE WHEN pos THEN 1 ELSE 0 END) AS dp,
        |    sum(CASE WHEN pos THEN 0 ELSE 1 END) AS dn
        |  FROM t WHERE doc_id % 2 = 0),
        |w AS (SELECT b,
        |    CAST(round(ln(CAST(cp + 1 AS DOUBLE) / (np + 4096))
        |      - ln(CAST(cn + 1 AS DOUBLE) / (nn + 4096)), 6)
        |      AS DECIMAL(20,6)) AS w
        |  FROM cnt CROSS JOIN occ),
        |dflt AS (SELECT
        |    CAST(round(ln(1.0 / (np + 4096))
        |      - ln(1.0 / (nn + 4096)), 6) AS DECIMAL(20,6)) AS w0,
        |    CAST(round(ln(CAST(dp AS DOUBLE) / dn), 6)
        |      AS DECIMAL(20,6)) AS b0
        |  FROM occ CROSS JOIN dcs),
        |sc AS (SELECT big.doc_id, count(*) AS n_feats,
        |    sum(coalesce(w.w, dflt.w0)) AS sw
        |  FROM big LEFT JOIN w USING (b) CROSS JOIN dflt
        |  GROUP BY big.doc_id)
        |SELECT t.doc_id,
        |  CAST(coalesce(sc.n_feats, 0) AS BIGINT) AS n_feats,
        |  round(CAST(dflt.b0 + coalesce(sc.sw, 0) AS DOUBLE), 6)
        |    AS quality_score,
        |  round(CAST(dflt.b0 + coalesce(sc.sw, 0) AS DOUBLE), 6) >= 0
        |    AS quality_pass
        |FROM t CROSS JOIN dflt LEFT JOIN sc ON t.doc_id = sc.doc_id
        |ORDER BY t.doc_id""".stripMargin

  /** Store-served incremental classifier scores for
    * `quality_classifier_incremental`: the count store builds once
    * per (session, sf dir) — the even-id labeled half in three
    * batches (split by doc_id % 6 ∈ {0, 2, 4}) plus a replayed one —
    * and the served score frame is a session artifact like
    * [[incrementalLmScores]]. */
  private def incrementalClassifierScores(
      s: org.apache.spark.sql.SparkSession, d: String)
      : org.apache.spark.sql.DataFrame =
    FixtureStore.artifact(s, "clf_scores_incremental", d) {
      val docs = Tables.documents(s, d)
      val labeled = docs.filter(col("doc_id") % 2 === 0)
      val store = FixtureStore.buildOnce(s, "clf_store", d) { dir =>
        (0 until 3).foreach { i =>
          graft.ext.ClassifierOps.updateClassifierCounts(
            labeled.filter(pmod(col("doc_id"), lit(6)) === i * 2),
            "doc_id", "text", col("lang") === "en", dir,
            batchId = i)
        }
        // at-least-once drill: batch 1 retried after a simulated
        // crash — classifierFromStore must collapse the replay
        graft.ext.ClassifierOps.updateClassifierCounts(
          labeled.filter(pmod(col("doc_id"), lit(6)) === 2),
          "doc_id", "text", col("lang") === "en", dir, batchId = 1)
      }
      val model = graft.ext.ClassifierOps.classifierFromStore(s, store)
      graft.ext.ClassifierOps.scoreQuality(docs, "doc_id", "text",
          model)
    }

  /** Store-served incremental lang-ID predictions for
    * `lang_id_incremental`: the [[incrementalClassifierScores]]
    * build/serve shape on the language axis — the even-id labeled
    * half in three batches (split by doc_id % 6 ∈ {0, 2, 4}) plus a
    * replayed one, folded back via `langIdFromStore`, classified
    * over the whole corpus. */
  private def incrementalLangIdPreds(
      s: org.apache.spark.sql.SparkSession, d: String)
      : org.apache.spark.sql.DataFrame =
    FixtureStore.artifact(s, "langid_preds_incremental", d) {
      val docs = Tables.documents(s, d)
      val labeled = docs.filter(col("doc_id") % 2 === 0)
      val store = FixtureStore.buildOnce(s, "langid_store", d) { dir =>
        (0 until 3).foreach { i =>
          graft.ext.ClassifierOps.updateLangIdCounts(
            labeled.filter(pmod(col("doc_id"), lit(6)) === i * 2),
            "doc_id", "text", "lang", dir, batchId = i)
        }
        // at-least-once drill: batch 1 retried after a simulated
        // crash — langIdFromStore must collapse the replay
        graft.ext.ClassifierOps.updateLangIdCounts(
          labeled.filter(pmod(col("doc_id"), lit(6)) === 2),
          "doc_id", "text", "lang", dir, batchId = 1)
      }
      val model = graft.ext.ClassifierOps.langIdFromStore(s, store)
      graft.ext.ClassifierOps.classifyLang(docs, "doc_id", "text",
          model)
    }

  /** Build-once persisted merge table + loaded rank list for
    * `bpe_token_count_store` (train up to 1024 merges on the corpus,
    * save, load back — the LOADED list is what prices, so the
    * round-trip is on the data path). */
  private def storedMerges(s: org.apache.spark.sql.SparkSession,
                           d: String): Seq[(String, String)] =
    FixtureStore.memo(s, "bpe_merges_loaded", d) {
      val dir = FixtureStore.buildOnce(s, "bpe_merges", d) { dir =>
        graft.ext.BpeOps.saveMerges(s,
          graft.ext.BpeOps.trainMergesMax(Tables.documents(s, d),
            "text", nMerges = 1024, maxWords = 4096), dir)
      }
      graft.ext.BpeOps.loadMerges(s, dir)
    }

  /** The `bpe_token_count_store` oracle: counts re-derived from the
    * PERSISTED merge table (never re-training in SQL — that is
    * `bpe_token_count`'s job at its fixture merge count). Inference
    * replays the ranked merges in a recursive CTE; one merge is ONE
    * left-to-right non-overlapping string replace over the
    * double-space-delimited symbol string (' a  b ' → ' ab ' —
    * every symbol is space-wrapped, so matches align exactly on
    * symbol boundaries and a consumed trailing space still leaves
    * the next occurrence its leading one: the leftmost-nonoverlap
    * fold, as a replace). Path: the gate-SF scratch dir — see the
    * query comment. */
  private def bpeStoreOracleSql: String = {
    val mergePath = FixtureStore.scratchDirFor("bpe_merges",
      "/root/testdata/sf0.01")
    s"""WITH RECURSIVE
       |mg AS (SELECT "rank" AS rk, a, b
       |  FROM read_parquet('$mergePath/merges/*.parquet')),
       |t AS MATERIALIZED (SELECT doc_id, $tokSql AS tok
       |  FROM documents),
       |base AS (SELECT DISTINCT unnest(tok) AS w0 FROM t),
       |enc AS (
       |  SELECT w0, ' ' || array_to_string(list_transform(
       |      generate_series(1, length(w0)),
       |      i -> substring(w0, i, 1)), '  ') || ' ' AS w, 0 AS r
       |  FROM base
       |  UNION ALL
       |  SELECT enc.w0,
       |    replace(enc.w, ' ' || mg.a || '  ' || mg.b || ' ',
       |      ' ' || mg.a || mg.b || ' '), enc.r + 1
       |  FROM enc JOIN mg ON mg.rk = enc.r + 1),
       |k AS (SELECT w0,
       |    CAST(len(string_split(trim(w, ' '), '  ')) AS BIGINT) AS k
       |  FROM enc WHERE r = (SELECT coalesce(max(rk), 0) FROM mg)),
       |dw AS (SELECT doc_id, w, count(*) AS m
       |  FROM (SELECT doc_id, unnest(tok) AS w FROM t) GROUP BY 1, 2),
       |agg AS (SELECT dw.doc_id, sum(m) AS nws, sum(m * k.k) AS nbpe
       |  FROM dw JOIN k ON dw.w = k.w0 GROUP BY 1)
       |SELECT t.doc_id,
       |  CAST(coalesce(agg.nws, 0) AS BIGINT) AS n_ws_tokens,
       |  CAST(coalesce(agg.nbpe, 0) AS BIGINT) AS n_bpe_tokens
       |FROM t LEFT JOIN agg USING (doc_id)
       |ORDER BY t.doc_id""".stripMargin
  }
}
