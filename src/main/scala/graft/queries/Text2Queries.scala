package graft.queries

import org.apache.spark.sql.functions._
import graft.Tables
import graft.ext.{DecontamOps, TextOps}

/** Second text-surface battery: benchmark decontamination, PII
  * redaction, and repetition-based quality metrics. Same oracle
  * parity rules as [[TextQueries]] (shared tokenization, exact int/int
  * ratios, full ORDER BY). The PII regexes are written in the common
  * Java-regex ∩ RE2 subset, so the IDENTICAL pattern string runs in
  * both engines — that parity is itself part of what the oracle
  * verifies.
  */
object Text2Queries {

  private val tokSql =
    """CASE WHEN length(trim(text)) = 0 THEN []::VARCHAR[]
      |       ELSE regexp_split_to_array(lower(trim(text)), '\s+')
      |  END""".stripMargin

  /** The deterministic 10-token line rebuild shared by
    * `dup_line_signals` and `strip_boilerplate_lines` (the driver
    * corpus is single-line, so line-grain queries manufacture layout
    * the same way on both sides). ONE definition per engine: the
    * rebuild encodes two subtle edges — phantom empty tokens from
    * leading/trailing whitespace are filtered BEFORE chunking (the
    * zipfml-fixture catch documented at `dup_line_signals`), and a
    * zero-token doc still yields one (empty) line via the
    * greatest(..., 0) floor. */
  private def rebuiltLines(df: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val toked = df.select(col("doc_id"),
      filter(TextOps.tokens(col("text")),
        t => length(t) > 0).as("__tok"))
    toked.select(col("doc_id"), array_join(transform(
        sequence(lit(0L),
          greatest(ceil(size(col("__tok")) / lit(10.0)).cast("long")
            - 1, lit(0L))),
        i => array_join(
          slice(col("__tok"), (i * 10 + 1).cast("int"), lit(10)), " ")),
      "\n").as("text"))
  }

  /** Oracle twin of [[rebuiltLines]]: CTEs `t` (filtered tokens) and
    * `ln` ((doc_id, pos, line) rows). Paste after `WITH `. */
  private def rebuiltLinesSql: String =
    s"""t AS (SELECT doc_id,
       |    list_filter($tokSql, x -> x <> '') AS tok FROM documents),
       |ln AS (SELECT t.doc_id, s.g AS pos,
       |    array_to_string(t.tok[(s.g*10+1):(s.g*10+10)], ' ') AS line
       |  FROM t, UNNEST(generate_series(0,
       |    CAST(greatest(ceil(len(t.tok)/10.0)-1, 0) AS BIGINT)))
       |    AS s(g))""".stripMargin

  /** Session-lifetime exact pair-set artifact: the prefix-filter
    * pair join is a SNAPSHOT artifact — built once per corpus, read
    * by every consumer (the r9 store-split posture, like
    * [[TextQueries]]' signature store). The operator returns an
    * eagerly localCheckpointed frame, which [[FixtureStore.artifact]]
    * keeps as its pin and holds as the one live reference per
    * (session, snapshot), so repeated executions serve the artifact
    * without the unbounded CacheManager entry the old persist-based
    * reuse leaked. */
  private def prefixPairs(s: org.apache.spark.sql.SparkSession,
                          d: String): org.apache.spark.sql.DataFrame =
    FixtureStore.artifact(s, "prefix_pairs", d) {
      graft.ext.DedupOps.prefixFilterJaccardPairs(
        Tables.documents(s, d).filter(col("doc_id") % 4 === 1)
          .repartition(32),
        "doc_id", "text", threshold = 0.8)
    }

  /** The `jaccard_pairs_bigvocab` artifact: each token suffixed with
    * `doc_id % 7` inflates the corpus's 28-token vocabulary to ~196 —
    * past the 62-token bitmask bound — so THIS query pins the
    * prefix-filter core at the oracle gate (`jaccard_pairs_prefix`
    * rides the dense bitmask core on the tiny-vocabulary corpus).
    * Semantically: docs only pair within their id-residue class, a
    * deterministic sharding of the same pair problem.
    *
    * The input is WINDOW-BOUNDED (`doc_id < 20000` — the whole corpus
    * at the sf0.01/sf0.1 gates, a fixed slice at scale legs): this is
    * a CORRECTNESS pin for the general-vocabulary core, not a scale
    * path. Unbounded, the suffixed corpus is the tiny-universe
    * pathology sharded by 7 — every posting corpus-hot within its
    * residue class (measured at sf4: 67 GB of candidate spill before
    * the leg was killed). The scale answer for hot-posting corpora is
    * the dense core / capped tier / LSH family (SCALING.md r12), and
    * benching the pathology at every SF would only re-measure it. */
  private def bigvocabPairs(s: org.apache.spark.sql.SparkSession,
                            d: String): org.apache.spark.sql.DataFrame =
    FixtureStore.artifact(s, "bigvocab_pairs", d) {
      val docs = Tables.documents(s, d)
        .filter(col("doc_id") % 4 === 2 && col("doc_id") < 20000)
        .withColumn("text", concat_ws(" ",
          transform(TextOps.tokens(col("text")),
            t => concat(t, lit("_"),
              pmod(col("doc_id"), lit(7)).cast("string")))))
        .repartition(32)
      graft.ext.DedupOps.prefixFilterJaccardPairs(
        docs, "doc_id", "text", threshold = 0.8)
    }

  val defs: Map[String, QueryDef] = Map(

    // EXACT threshold Jaccard pair join via prefix filtering
    // (AllPairs/PPJoin — DedupOps.prefixFilterJaccardPairs): the
    // deterministic scale path for exact similarity joins, candidate
    // generation bounded by rare-token prefixes instead of blocking
    // keys or LSH probability. Run on the doc_id % 4 = 1 subset (the
    // corpus's degenerate mega-cluster makes the FULL exact pair
    // listing inherently quadratic in output — same subsetting
    // rationale as dedup_minhash_verified) under a genuine all-pairs
    // DuckDB ground truth: set equality at the threshold, proving
    // both the prefix-filter completeness bound and the size filter
    // drop nothing.
    "jaccard_pairs_prefix" -> QueryDef(
      (s, d) => prefixPairs(s, d)
        .orderBy(col("jaccard").desc, col("id_a"), col("id_b")),
      Some(s"""WITH t AS (SELECT doc_id,
        |    list_distinct($tokSql) AS ts
        |  FROM documents WHERE doc_id % 4 = 1),
        |p AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |    round(len(list_intersect(a.ts, b.ts))::DOUBLE /
        |      (len(a.ts) + len(b.ts) - len(list_intersect(a.ts, b.ts))),
        |      6) AS jaccard
        |  FROM t a JOIN t b ON a.doc_id < b.doc_id)
        |SELECT id_a, id_b, jaccard FROM p WHERE jaccard >= 0.8
        |ORDER BY jaccard DESC, id_a, id_b""".stripMargin)),

    // The same exact pair join on a VOCABULARY-INFLATED twin corpus
    // (tokens suffixed with doc_id % 7 → ~196 distinct tokens): past
    // the 62-token bitmask bound, so this query exercises the
    // prefix-filter (AllPairs/PPJoin) core against the all-pairs
    // ground truth — jaccard_pairs_prefix itself now rides the dense
    // bitmask core on the degenerate 28-token corpus (DedupOps
    // scaladoc: tiny-universe escape hatch). Both cores stay
    // oracle-pinned this way.
    "jaccard_pairs_bigvocab" -> QueryDef(
      (s, d) => bigvocabPairs(s, d)
        .orderBy(col("jaccard").desc, col("id_a"), col("id_b")),
      Some(s"""WITH t AS (SELECT doc_id,
        |    list_distinct(list_transform($tokSql,
        |      tk -> tk || '_' || CAST(doc_id % 7 AS VARCHAR))) AS ts
        |  FROM documents WHERE doc_id % 4 = 2 AND doc_id < 20000),
        |p AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |    round(len(list_intersect(a.ts, b.ts))::DOUBLE /
        |      (len(a.ts) + len(b.ts) - len(list_intersect(a.ts, b.ts))),
        |      6) AS jaccard
        |  FROM t a JOIN t b ON a.doc_id < b.doc_id)
        |SELECT id_a, id_b, jaccard FROM p WHERE jaccard >= 0.8
        |ORDER BY jaccard DESC, id_a, id_b""".stripMargin)),

    // Benchmark decontamination: docs with doc_id % 37 = 0 stand in
    // for the eval set; every other doc is flagged if it shares any
    // word 4-gram with that set. Eval n-grams broadcast (benchmarks
    // are tiny vs the corpus); corpus side is explode + broadcast
    // semi join — zero corpus shuffle at 100 TB. At sf0.01 this
    // flags 13/486 docs; at sf0.1, 1589/4864 — a real split, not a
    // constant column.
    "decontaminate" -> QueryDef(
      (s, d) => {
        val docs = Tables.documents(s, d)
        val eval = docs.filter(col("doc_id") % 37 === 0)
        // widened at the call site: the op takes arbitrary composite
        // corpora (curation_e2e), where a widen probe regressed
        val corpus = graft.ops.Relational.widenNarrowScan(
          docs.filter(col("doc_id") % 37 =!= 0))
        DecontamOps.flagContaminated(corpus, eval, "doc_id", "text", 4)
          .select("doc_id", "contaminated")
          .orderBy("doc_id")
      },
      Some(s"""WITH t AS (SELECT doc_id, $tokSql AS tok FROM documents),
        |g AS (SELECT doc_id,
        |    CASE WHEN len(tok) < 4 THEN []::VARCHAR[]
        |         ELSE list_transform(range(1, len(tok) - 2),
        |                i -> array_to_string(tok[i:i+3], ' '))
        |    END AS ngs FROM t),
        |ev AS (SELECT DISTINCT unnest(ngs) AS ng FROM g
        |       WHERE doc_id % 37 = 0)
        |SELECT doc_id,
        |  EXISTS (SELECT 1 FROM ev WHERE list_contains(g.ngs, ev.ng))
        |    AS contaminated
        |FROM g WHERE doc_id % 37 <> 0 ORDER BY doc_id""".stripMargin)),

    // The per-EVAL-document leak audit (the benchmark owner's view of
    // `decontaminate`): for every eval doc, the count of corpus docs
    // sharing any 4-gram and the count of distinct leaked 4-grams;
    // zero rows certify clean eval items.
    "decontam_report" -> QueryDef(
      (s, d) => {
        val docs = Tables.documents(s, d)
        DecontamOps.leakReport(
            graft.ops.Relational.widenNarrowScan(
              docs.filter(col("doc_id") % 37 =!= 0)),
            docs.filter(col("doc_id") % 37 === 0),
            "doc_id", "text", 4)
          .orderBy("eval_id")
      },
      Some(s"""WITH t AS (SELECT doc_id, $tokSql AS tok FROM documents),
        |ng AS (SELECT doc_id, array_to_string(tok[i:i+3], ' ') AS ng
        |  FROM t, LATERAL (SELECT
        |    unnest(generate_series(1, len(tok) - 3)) AS i) u
        |  WHERE len(tok) >= 4),
        |ev AS (SELECT DISTINCT doc_id AS eval_id, ng FROM ng
        |  WHERE doc_id % 37 = 0),
        |co AS (SELECT DISTINCT doc_id AS cid, ng FROM ng
        |  WHERE doc_id % 37 <> 0),
        |a AS (SELECT ev.eval_id,
        |    count(DISTINCT co.cid) AS n_docs,
        |    count(DISTINCT ev.ng) AS n_ngs
        |  FROM ev JOIN co USING (ng) GROUP BY ev.eval_id)
        |SELECT e.doc_id AS eval_id,
        |  CAST(coalesce(a.n_docs, 0) AS BIGINT) AS n_contaminating_docs,
        |  CAST(coalesce(a.n_ngs, 0) AS BIGINT) AS n_shared_ngrams
        |FROM (SELECT DISTINCT doc_id FROM documents
        |  WHERE doc_id % 37 = 0) e
        |LEFT JOIN a ON e.doc_id = a.eval_id
        |ORDER BY eval_id""".stripMargin)),

    // FUZZY decontamination (DecontamOps.fuzzyContaminationReport —
    // the Llama/PaLM-style high-overlap rule layered on the exact
    // 4-gram gate): every candidate (corpus, eval) pair sharing a
    // 4-gram gets the fraction of the EVAL item's distinct tokens the
    // corpus doc covers, flagged at 0.9 (stricter than the 0.6
    // operator default so the gate corpus — whose candidates are all
    // planted near-dups — exercises BOTH flag branches). The operator
    // intersects
    // sorted 64-bit token-hash sets (the exact-verify-tier kernel);
    // the oracle re-derives the same pairs from token STRINGS —
    // hash-match certifies the digest grain is semantically
    // invisible, the strip_boilerplate_lines pattern at pair grain.
    "decontam_fuzzy" -> QueryDef(
      (s, d) => {
        val docs = Tables.documents(s, d)
        DecontamOps.fuzzyContaminationReport(
            docs.filter(col("doc_id") % 37 =!= 0),
            docs.filter(col("doc_id") % 37 === 0),
            "doc_id", "text", n = 4, tau = 0.9)
          .orderBy("corpus_id", "eval_id")
      },
      Some(s"""WITH t AS (SELECT doc_id, $tokSql AS tok FROM documents),
        |ng AS (SELECT doc_id, array_to_string(tok[i:i+3], ' ') AS ng
        |  FROM t, LATERAL (SELECT
        |    unnest(generate_series(1, len(tok) - 3)) AS i) u
        |  WHERE len(tok) >= 4),
        |ev AS (SELECT DISTINCT doc_id AS eval_id, ng FROM ng
        |  WHERE doc_id % 37 = 0),
        |co AS (SELECT DISTINCT doc_id AS corpus_id, ng FROM ng
        |  WHERE doc_id % 37 <> 0),
        |cand AS (SELECT DISTINCT co.corpus_id, ev.eval_id
        |  FROM co JOIN ev USING (ng)),
        |ds AS (SELECT doc_id, list_distinct(tok) AS dt FROM t),
        |ov AS (SELECT cand.corpus_id, cand.eval_id,
        |    round(CAST(len(list_intersect(c.dt, e.dt)) AS DOUBLE)
        |      / greatest(len(e.dt), 1), 6) AS eval_overlap
        |  FROM cand
        |  JOIN ds c ON c.doc_id = cand.corpus_id
        |  JOIN ds e ON e.doc_id = cand.eval_id)
        |SELECT corpus_id, eval_id, eval_overlap,
        |  eval_overlap >= 0.9 AS contaminated_fuzzy
        |FROM ov ORDER BY corpus_id, eval_id""".stripMargin)),

    // SEMANTIC decontamination (DecontamOps.semanticContaminationReport
    // — the embedding screen the GPT-3/Llama leak audits layer on the
    // n-gram gate; the case decontam_fuzzy's contract scopes out: a
    // paraphrase sharing no n-gram). Eval side = vec_id % 37 = 0
    // (broadcast), corpus = the rest (never shuffled — one scan of
    // fused-loop cosines); pairs at rounded cosine >= 0.3 reported.
    // Exact blocked-cosine oracle, the dedup_embedding discipline:
    // DuckDB recomputes every corpus x eval cosine and thresholds the
    // same 6-decimal rounded value.
    "decontam_semantic" -> QueryDef(
      (s, d) => {
        val emb = Tables.embeddings(s, d)
        DecontamOps.semanticContaminationReport(
            // widened at the CALL site (the op's own plan stays
            // exchange-free by contract): nEvals x dim cosines per
            // corpus row on a narrow scan
            graft.ops.Relational.widenNarrowScan(
              emb.filter(col("vec_id") % 37 =!= 0)),
            emb.filter(col("vec_id") % 37 === 0),
            "vec_id", "embedding", tau = 0.3)
          .orderBy("corpus_id", "eval_id")
      },
      Some("""WITH p AS (SELECT c.vec_id AS corpus_id,
        |    e.vec_id AS eval_id,
        |    round(list_cosine_similarity(CAST(c.embedding AS DOUBLE[]),
        |      CAST(e.embedding AS DOUBLE[])), 6) AS cosine_sim
        |  FROM embeddings c JOIN embeddings e
        |    ON c.vec_id % 37 <> 0 AND e.vec_id % 37 = 0
        |  WHERE c.embedding IS NOT NULL AND e.embedding IS NOT NULL)
        |SELECT corpus_id, eval_id, cosine_sim FROM p
        |WHERE cosine_sim >= 0.3
        |ORDER BY corpus_id, eval_id""".stripMargin)),

    // PII redaction: the corpus text carries no PII by construction,
    // so both sides append the same deterministic synthetic contact
    // block (email / IPv4 / phone, plus a second email on every third
    // doc), then redact. The md5 of the redacted text makes the check
    // byte-exact without dumping long strings; the per-kind counts
    // are measured on the pre-redaction text.
    "pii_redaction" -> QueryDef(
      (s, d) => {
        val pii = concat(col("text"),
          lit(" reach user"), col("doc_id").cast("string"),
          lit("@example.com at 10.0."),
          (col("doc_id") % 256).cast("string"),
          lit(".1 or call 555-123-"),
          lpad((col("doc_id") % 10000).cast("string"), 4, "0"),
          when(col("doc_id") % 3 === 0, lit(" cc admin@corp.io"))
            .otherwise(lit("")))
        graft.ops.Relational.widenNarrowScan(Tables.documents(s, d))
          .select(col("doc_id"), pii.as("t"))
          .select(col("doc_id"),
            TextOps.piiCount(col("t"), "email").as("n_email"),
            TextOps.piiCount(col("t"), "phone").as("n_phone"),
            TextOps.piiCount(col("t"), "ip").as("n_ip"),
            md5(TextOps.redactPii(col("t"))).as("redacted_md5"))
          .orderBy("doc_id")
      },
      Some {
        val Seq(email, phone, ip) = TextOps.piiPatterns.map(_._2)
        s"""WITH p AS (SELECT doc_id,
           |  text || ' reach user' || CAST(doc_id AS VARCHAR)
           |    || '@example.com at 10.0.'
           |    || CAST(doc_id % 256 AS VARCHAR)
           |    || '.1 or call 555-123-'
           |    || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
           |    || CASE WHEN doc_id % 3 = 0 THEN ' cc admin@corp.io'
           |            ELSE '' END AS t
           |  FROM documents)
           |SELECT doc_id,
           |  CAST(len(regexp_extract_all(t, '$email')) AS INT) AS n_email,
           |  CAST(len(regexp_extract_all(t, '$phone')) AS INT) AS n_phone,
           |  CAST(len(regexp_extract_all(t, '$ip')) AS INT) AS n_ip,
           |  md5(regexp_replace(regexp_replace(regexp_replace(t,
           |    '$email', '<EMAIL>', 'g'),
           |    '$phone', '<PHONE>', 'g'),
           |    '$ip', '<IP>', 'g')) AS redacted_md5
           |FROM p ORDER BY doc_id""".stripMargin
      }),

    // Unicode normalization battery: the corpus text is ASCII by
    // construction, so both sides append the same deterministic
    // Unicode mess (combining accent, fullwidth letters/digit, the
    // fi-ligature, zero-width chars, mojibake tell-tales on every
    // third doc, U+FFFD on every fifth) and then normalize — the
    // pii_redaction synthetic-block pattern. NFC is checked against
    // DuckDB's native nfc_normalize; NFKC via mapped compatibility
    // pairs (fullwidth→ASCII, ligature→fi) composed with
    // nfc_normalize — exactly NFKC for this block since the base
    // text has no other compatibility codepoints. md5s keep the
    // check byte-exact without dumping strings.
    "text_normalize" -> QueryDef(
      (s, d) => {
        val aug = concat(col("text"),
          lit(" e\u0301 \uFF21\uFF22\uFF23\uFF10 \uFB01" +
            " zw\u200B\u200C\uFEFFsp"),
          when(col("doc_id") % 3 === 0, lit(" \u00C3\u00A9"))
            .otherwise(lit("")),
          when(col("doc_id") % 5 === 0, lit(" \uFFFD"))
            .otherwise(lit("")))
        graft.ops.Relational.widenNarrowScan(Tables.documents(s, d))
          .select(col("doc_id"), aug.as("t"))
          .select(col("doc_id"),
            md5(TextOps.normalizeUnicode(col("t"))).as("nfc_md5"),
            md5(TextOps.normalizeUnicode(col("t"), "NFKC"))
              .as("nfkc_md5"),
            TextOps.zeroWidthCount(col("t")).as("n_zero_width"),
            md5(TextOps.stripZeroWidth(
              TextOps.normalizeUnicode(col("t"), "NFKC")))
              .as("clean_md5"),
            TextOps.mojibakeHits(col("t")).as("n_mojibake"),
            TextOps.isMojibake(col("t")).as("mojibake_flag"))
          .orderBy("doc_id")
      },
      Some("""WITH p AS (SELECT doc_id,
        |  text || ' e' || chr(769) || ' ' || chr(65313) ||
        |    chr(65314) || chr(65315) || chr(65296) || ' ' ||
        |    chr(64257) || ' zw' || chr(8203) || chr(8204) ||
        |    chr(65279) || 'sp' ||
        |    CASE WHEN doc_id % 3 = 0 THEN ' ' || chr(195) || chr(169)
        |         ELSE '' END ||
        |    CASE WHEN doc_id % 5 = 0 THEN ' ' || chr(65533)
        |         ELSE '' END AS t
        |  FROM documents),
        |n AS (SELECT doc_id, t, nfc_normalize(t) AS nfc,
        |  nfc_normalize(replace(replace(replace(replace(replace(t,
        |    chr(65313), 'A'), chr(65314), 'B'), chr(65315), 'C'),
        |    chr(65296), '0'), chr(64257), 'fi')) AS nfkc
        |  FROM p)
        |SELECT doc_id, md5(nfc) AS nfc_md5, md5(nfkc) AS nfkc_md5,
        |  CAST(length(t) - length(regexp_replace(t,
        |    '[' || chr(8203) || chr(8204) || chr(8205) ||
        |    chr(8288) || chr(65279) || ']', '', 'g')) AS INT)
        |    AS n_zero_width,
        |  md5(regexp_replace(nfkc, '[' || chr(8203) || chr(8204) ||
        |    chr(8205) || chr(8288) || chr(65279) || ']', '', 'g'))
        |    AS clean_md5,
        |  CAST(length(t) - length(regexp_replace(t,
        |    '[' || chr(195) || chr(194) || chr(65533) || ']', '',
        |    'g')) AS INT) AS n_mojibake,
        |  regexp_matches(t, '[' || chr(195) || chr(194) ||
        |    ']([^\p{L}]|$)|' || chr(65533)) AS mojibake_flag
        |FROM n ORDER BY doc_id""".stripMargin)),

    // Normalization-FIRST exact dedup — the wiring the
    // normalizeUnicode scaladoc prescribes, as a checked query: the
    // corpus is doubled into two raw VARIANTS of every doc (composed
    // e-acute + ASCII suffix vs decomposed e+U+0301 + fullwidth
    // suffix — same text to a reader, different bytes), and dedup
    // groups on sha2(NFKC(text)) so the digest shuffle carries
    // 32-byte hashes of the NORMALIZED form. Every group's
    // n_raw_variants = 2 IS the missed-pair class: unnormalized
    // exact dedup (dedup_exact's groupBy text) would keep both
    // variants — n_copies here is exactly 2× dedup_exact's, which
    // the oracle (DuckDB nfc_normalize + mapped compatibility
    // pairs + md5) re-derives independently. Scale shape =
    // exactDedupByHash: one narrow normalize+digest map, one
    // digest-grain shuffle; raw variants are counted as distinct
    // md5s so no raw text rides the aggregation either.
    "dedup_exact_normalized" -> QueryDef(
      (s, d) => {
        val docs = Tables.documents(s, d)
        val a = docs.select(col("doc_id"),
          concat(col("text"), lit(" caf\u00e9 No1")).as("t"))
        val b = docs.select((col("doc_id") + 1000000L).as("doc_id"),
          concat(col("text"),
            lit(" cafe\u0301 \uFF2E\uFF4F\uFF11")).as("t"))
        a.unionByName(b)
          .groupBy(sha2(TextOps.normalizeUnicode(col("t"), "NFKC"),
            256).as("__h"))
          .agg(min(col("doc_id")).as("keep_id"),
            count(lit(1)).as("n_copies"),
            countDistinct(md5(col("t"))).as("n_raw_variants"))
          .select("keep_id", "n_copies", "n_raw_variants")
          .orderBy("keep_id")
      },
      Some("""WITH aug AS (
        |  SELECT doc_id, text || ' caf' || chr(233) || ' No1' AS t
        |    FROM documents
        |  UNION ALL
        |  SELECT doc_id + 1000000,
        |      text || ' cafe' || chr(769) || ' ' || chr(65326) ||
        |      chr(65359) || chr(65297) AS t
        |    FROM documents),
        |n AS (SELECT doc_id, t,
        |  nfc_normalize(replace(replace(replace(t,
        |    chr(65326), 'N'), chr(65359), 'o'), chr(65297), '1'))
        |    AS nt
        |  FROM aug)
        |SELECT min(doc_id) AS keep_id, count(*) AS n_copies,
        |  CAST(count(DISTINCT md5(t)) AS BIGINT) AS n_raw_variants
        |FROM n GROUP BY nt ORDER BY keep_id""".stripMargin)),

    // Gopher-style repetition signals per doc: repeated-token
    // fraction, most-frequent-bigram share, duplicated-trigram
    // fraction, and the composite gate a curation pipeline filters
    // on. All narrow per-row expressions (quadratic only in each
    // doc's DISTINCT bigrams) — no shuffle but the final sort.
    "repetition_metrics" -> QueryDef(
      // the frac battery is computed ONCE per row (repetitionFracs
      // struct in its own projection; the second select reads
      // fields) — the old form held six independent copies of the
      // token/gram machinery (3 rounded outputs + 3 in the flag),
      // each re-splitting under interpreted HOF eval
      (s, d) => graft.ops.Relational.widenNarrowScan(
          Tables.documents(s, d))
        .select(col("doc_id"),
          TextOps.repetitionFracs(col("text"), 2, 3).as("__m"))
        .select(col("doc_id"),
          round(col("__m.dup_token_frac"), 6).as("dup_token_frac"),
          round(col("__m.top_ngram_frac"), 6).as("top_bigram_frac"),
          round(col("__m.dup_ngram_frac"), 6).as("dup_trigram_frac"),
          (col("__m.dup_token_frac") > 0.6 ||
            col("__m.top_ngram_frac") >= 0.1 ||
            col("__m.dup_ngram_frac") >= 0.05).as("repetitive"))
        .orderBy("doc_id"),
      Some(s"""WITH t AS (SELECT doc_id, $tokSql AS tok FROM documents),
        |b AS (SELECT doc_id, tok,
        |    CASE WHEN len(tok) < 2 THEN []::VARCHAR[]
        |         ELSE list_transform(range(1, len(tok)),
        |                i -> tok[i] || ' ' || tok[i+1])
        |    END AS bg,
        |    CASE WHEN len(tok) < 3 THEN []::VARCHAR[]
        |         ELSE list_transform(range(1, len(tok) - 1),
        |                i -> array_to_string(tok[i:i+2], ' '))
        |    END AS tg FROM t),
        |m AS (SELECT doc_id,
        |    CASE WHEN len(tok) = 0 THEN 0.0
        |         ELSE 1.0 - CAST(len(list_distinct(tok)) AS DOUBLE)
        |           / len(tok) END AS dup_tok,
        |    CASE WHEN len(bg) = 0 THEN 0.0
        |         ELSE CAST(list_max(list_transform(list_distinct(bg),
        |             x -> len(list_filter(bg, y -> y = x)))) AS DOUBLE)
        |           / len(bg) END AS top_bg,
        |    CASE WHEN len(tg) = 0 THEN 0.0
        |         ELSE 1.0 - CAST(len(list_distinct(tg)) AS DOUBLE)
        |           / len(tg) END AS dup_tg
        |  FROM b)
        |SELECT doc_id,
        |  round(dup_tok, 6) AS dup_token_frac,
        |  round(top_bg, 6) AS top_bigram_frac,
        |  round(dup_tg, 6) AS dup_trigram_frac,
        |  (dup_tok > 0.6 OR top_bg >= 0.1 OR dup_tg >= 0.05)
        |    AS repetitive
        |FROM m ORDER BY doc_id""".stripMargin)),

    // The LINE-grain + character-mass half of the Gopher repetition
    // table (r13): repetition_metrics above covers the count-grain
    // gram signals as narrow per-row expressions; this one computes
    // duplicate-LINE fraction/char-mass and the paper's
    // CHARACTER-fraction gram signals via doc-keyed distributed
    // folds (TextOps.repetitionSignals — map-side-combinable counts
    // at (doc, line)/(doc, gram) grain, no corpus-global key). The
    // driver corpus is single-line, so the query first rebuilds each
    // doc as 10-token lines — deterministic and oracle-mirrored, the
    // synthesizeMedia encode-vs-expectation contract applied to
    // layout.
    "dup_line_signals" -> QueryDef(
      (s, d) =>
        // empty tokens are filtered BEFORE chunking: text with leading
        // '\n' yields a phantom "" edge token (tokens() contract —
        // consistent across engines, but NOT rebuild-stable: joining
        // chunks and re-tokenizing collapses it, shifting every gram
        // window by one on the Spark side only). The oracle filters
        // identically. Found by the zipfml fixture, invisible on
        // corpora without leading/trailing non-space whitespace.
        // The rebuild itself is [[rebuiltLines]], shared with
        // strip_boilerplate_lines on both engines.
        TextOps.repetitionSignals(rebuiltLines(Tables.documents(s, d)),
            "doc_id", "text")
          .orderBy("doc_id"),
      Some(s"""WITH $rebuiltLinesSql,
        |lnb AS (SELECT doc_id, line FROM ln
        |  WHERE length(trim(line)) > 0),
        |lc AS (SELECT doc_id, line, count(*) AS c, length(line) AS l
        |  FROM lnb GROUP BY 1, 2),
        |ls AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_lines,
        |    round(CAST(sum(c) - count(*) AS DOUBLE) / sum(c), 6)
        |      AS dup_line_frac,
        |    round(CAST(sum(CASE WHEN c > 1 THEN (c-1)*l ELSE 0 END)
        |      AS DOUBLE) / greatest(sum(c*l), 1), 6)
        |      AS dup_line_char_frac
        |  FROM lc GROUP BY 1),
        |tc AS (SELECT doc_id, coalesce(CAST(list_sum(
        |    list_transform(tok, x -> length(x))) AS BIGINT), 0)
        |    AS tchars FROM t),
        |g2c AS (SELECT doc_id, g, count(*) AS c FROM (
        |    SELECT t.doc_id, t.tok[s.i] || ' ' || t.tok[s.i+1] AS g
        |    FROM t, UNNEST(generate_series(1, len(t.tok)-1)) AS s(i))
        |  GROUP BY 1, 2),
        |tp AS (SELECT doc_id, c, g, row_number() OVER (
        |    PARTITION BY doc_id ORDER BY c DESC, g) AS rn FROM g2c),
        |top AS (SELECT tp.doc_id,
        |    round(CAST(tp.c * (length(tp.g) - 1) AS DOUBLE) /
        |      greatest(tc.tchars, 1), 6) AS top_ngram_char_frac
        |  FROM tp JOIN tc ON tp.doc_id = tc.doc_id WHERE rn = 1),
        |g5c AS (SELECT doc_id, g, count(*) AS c FROM (
        |    SELECT t.doc_id, array_to_string(t.tok[s.i:(s.i+4)], ' ')
        |      AS g
        |    FROM t, UNNEST(generate_series(1, len(t.tok)-4)) AS s(i))
        |  GROUP BY 1, 2),
        |d5 AS (SELECT g5c.doc_id, least(round(CAST(
        |    sum(CASE WHEN c > 1 THEN c*(length(g)-4) ELSE 0 END)
        |    AS DOUBLE) / greatest(max(tc.tchars), 1), 6), 1.0)
        |    AS dup_ngram_char_frac
        |  FROM g5c JOIN tc ON g5c.doc_id = tc.doc_id GROUP BY 1)
        |SELECT t.doc_id,
        |  coalesce(ls.n_lines, 0) AS n_lines,
        |  coalesce(ls.dup_line_frac, 0.0) AS dup_line_frac,
        |  coalesce(ls.dup_line_char_frac, 0.0) AS dup_line_char_frac,
        |  coalesce(top.top_ngram_char_frac, 0.0) AS top_ngram_char_frac,
        |  coalesce(d5.dup_ngram_char_frac, 0.0) AS dup_ngram_char_frac,
        |  (coalesce(ls.dup_line_frac, 0.0) <= 0.30 AND
        |   coalesce(ls.dup_line_char_frac, 0.0) <= 0.20 AND
        |   coalesce(top.top_ngram_char_frac, 0.0) <= 0.20 AND
        |   coalesce(d5.dup_ngram_char_frac, 0.0) <= 0.15)
        |    AS pass_repetition
        |FROM t LEFT JOIN ls ON t.doc_id = ls.doc_id
        |LEFT JOIN top ON t.doc_id = top.doc_id
        |LEFT JOIN d5 ON t.doc_id = d5.doc_id
        |ORDER BY t.doc_id""".stripMargin)),

    // repetitionSignals on the RAW text layout — no line rebuild
    // (VERDICT r13 #5): the operator's own `\n` split is the data
    // path, so a corpus with genuine line structure (GenSf zipfml:
    // planted duplicate lines, empty lines, trailing newlines,
    // all-dup docs) exercises the trim/blank-line edges for real.
    // On the driver's single-line corpus every doc is one line
    // (line signals trivially 0 — still hash-pinned); the zipfml
    // fixture run recorded in SCALING.md is where this query earns
    // its keep. Gram-grain halves are identical to dup_line_signals
    // (tokenization spans lines on both sides).
    "dup_line_native" -> QueryDef(
      (s, d) => TextOps.repetitionSignals(
          Tables.documents(s, d), "doc_id", "text")
        .orderBy("doc_id"),
      Some(s"""WITH t AS (SELECT doc_id, $tokSql AS tok, text
        |  FROM documents),
        |ln0 AS (SELECT t.doc_id, u.line
        |  FROM t, UNNEST(regexp_split_to_array(t.text, '\n'))
        |    AS u(line)),
        |ln AS (SELECT doc_id, line FROM ln0
        |  WHERE length(trim(line)) > 0),
        |lc AS (SELECT doc_id, line, count(*) AS c, length(line) AS l
        |  FROM ln GROUP BY 1, 2),
        |ls AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_lines,
        |    round(CAST(sum(c) - count(*) AS DOUBLE) / sum(c), 6)
        |      AS dup_line_frac,
        |    round(CAST(sum(CASE WHEN c > 1 THEN (c-1)*l ELSE 0 END)
        |      AS DOUBLE) / greatest(sum(c*l), 1), 6)
        |      AS dup_line_char_frac
        |  FROM lc GROUP BY 1),
        |tc AS (SELECT doc_id, coalesce(CAST(list_sum(
        |    list_transform(tok, x -> length(x))) AS BIGINT), 0)
        |    AS tchars FROM t),
        |g2c AS (SELECT doc_id, g, count(*) AS c FROM (
        |    SELECT t.doc_id, t.tok[s.i] || ' ' || t.tok[s.i+1] AS g
        |    FROM t, UNNEST(generate_series(1, len(t.tok)-1)) AS s(i))
        |  GROUP BY 1, 2),
        |tp AS (SELECT doc_id, c, g, row_number() OVER (
        |    PARTITION BY doc_id ORDER BY c DESC, g) AS rn FROM g2c),
        |top AS (SELECT tp.doc_id,
        |    round(CAST(tp.c * (length(tp.g) - 1) AS DOUBLE) /
        |      greatest(tc.tchars, 1), 6) AS top_ngram_char_frac
        |  FROM tp JOIN tc ON tp.doc_id = tc.doc_id WHERE rn = 1),
        |g5c AS (SELECT doc_id, g, count(*) AS c FROM (
        |    SELECT t.doc_id, array_to_string(t.tok[s.i:(s.i+4)], ' ')
        |      AS g
        |    FROM t, UNNEST(generate_series(1, len(t.tok)-4)) AS s(i))
        |  GROUP BY 1, 2),
        |d5 AS (SELECT g5c.doc_id, least(round(CAST(
        |    sum(CASE WHEN c > 1 THEN c*(length(g)-4) ELSE 0 END)
        |    AS DOUBLE) / greatest(max(tc.tchars), 1), 6), 1.0)
        |    AS dup_ngram_char_frac
        |  FROM g5c JOIN tc ON g5c.doc_id = tc.doc_id GROUP BY 1)
        |SELECT t.doc_id,
        |  coalesce(ls.n_lines, 0) AS n_lines,
        |  coalesce(ls.dup_line_frac, 0.0) AS dup_line_frac,
        |  coalesce(ls.dup_line_char_frac, 0.0) AS dup_line_char_frac,
        |  coalesce(top.top_ngram_char_frac, 0.0) AS top_ngram_char_frac,
        |  coalesce(d5.dup_ngram_char_frac, 0.0) AS dup_ngram_char_frac,
        |  (coalesce(ls.dup_line_frac, 0.0) <= 0.30 AND
        |   coalesce(ls.dup_line_char_frac, 0.0) <= 0.20 AND
        |   coalesce(top.top_ngram_char_frac, 0.0) <= 0.20 AND
        |   coalesce(d5.dup_ngram_char_frac, 0.0) <= 0.15)
        |    AS pass_repetition
        |FROM t LEFT JOIN ls ON t.doc_id = ls.doc_id
        |LEFT JOIN top ON t.doc_id = top.doc_id
        |LEFT JOIN d5 ON t.doc_id = d5.doc_id
        |ORDER BY t.doc_id""".stripMargin)),

    // Corpus-level boilerplate-line REMOVAL (TextOps
    // .stripBoilerplateLines — the CCNet duplicated-paragraph drop /
    // RefinedWeb repeated-line strip): a line appearing in ≥ 3
    // DISTINCT docs is template noise and is stripped from every
    // doc, no canonical survivor (contrast dup_span_strip, where one
    // copy of repeated CONTENT is kept). Lines are the same
    // deterministic 10-token rebuild as dup_line_signals (the driver
    // corpus is single-line), under which the corpus's exact/near-dup
    // cluster structure genuinely crosses the 3-doc threshold. The
    // oracle re-derives hot lines by STRING; the operator folds at
    // 128-bit line-digest grain — hash-match certifies the digest
    // discipline is semantically invisible. Output hashes the full
    // cleaned-text reconstruction (the dup_span_strip contract).
    "strip_boilerplate_lines" -> QueryDef(
      (s, d) =>
        TextOps.stripBoilerplateLines(
            rebuiltLines(Tables.documents(s, d)), "doc_id", "text",
            minDocs = 3)
          .select(col("doc_id"), col("n_lines"), col("n_dropped"),
            md5(col("clean_text")).as("clean_md5"))
          .orderBy("doc_id"),
      // blankness below mirrors the operator's explicit char class
      // (space/tab/CR/FF); on rebuilt lines only "" can be blank,
      // but the oracle states the operator's law, not the fixture's
      // coincidence
      Some(s"""WITH $rebuiltLinesSql,
        |hot AS (SELECT line FROM (
        |    SELECT line, count(DISTINCT doc_id) AS df FROM ln
        |    WHERE length(regexp_replace(line,
        |      '[ ' || chr(9) || chr(13) || chr(12) || ']', '', 'g'))
        |      > 0 GROUP BY 1) q
        |  WHERE df >= 3),
        |fl AS (SELECT ln.doc_id, ln.pos, ln.line,
        |    hot.line IS NOT NULL AS h
        |  FROM ln LEFT JOIN hot ON ln.line = hot.line)
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_lines,
        |  CAST(sum(CASE WHEN h THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_dropped,
        |  md5(coalesce(string_agg(CASE WHEN NOT h THEN line END,
        |    chr(10) ORDER BY pos), '')) AS clean_md5
        |FROM fl GROUP BY doc_id ORDER BY doc_id""".stripMargin))
  )
}
