package graft.queries

import org.apache.spark.sql.functions._
import graft.Tables
import graft.ext.SearchOps

/** Full-text retrieval battery: BM25 ranking and inverted-index
  * construction over the documents corpus ([[graft.ext.SearchOps]]
  * for the scale shapes). Both fully DuckDB-oracle-checked — the
  * oracle recomputes the identical tokenization, statistics, and
  * score arithmetic (same operation order, so every non-transcendental
  * step is bit-identical IEEE; the one `ln` is under the same
  * round-to-6dp discipline as the math_funcs battery).
  */
object SearchQueries {

  /** Session-lifetime exact containment pair-set artifact — the
    * [[Text2Queries]] prefixPairs posture: the pair join is a
    * snapshot artifact built once per corpus; the operator's eager
    * localCheckpoint materializes it and [[FixtureStore.artifact]]
    * holds the one live reference, leak-free. */
  private def containmentPairs(s: org.apache.spark.sql.SparkSession,
                               d: String)
      : org.apache.spark.sql.DataFrame =
    FixtureStore.artifact(s, "containment_pairs", d) {
      graft.ext.DedupOps.containmentPairsPrefix(
        Tables.documents(s, d).filter(col("doc_id") % 8 === 1)
          .repartition(32),
        "doc_id", "text", minContainment = 0.9)
    }

  /** The `containment_pairs_bigvocab` artifact: tokens suffixed with
    * `doc_id % 7` inflate the corpus vocabulary past the 62-token
    * bitmask bound (the [[Text2Queries]] bigvocab scheme), so THIS
    * query pins the asymmetric PREFIX core of
    * [[graft.ext.DedupOps.containmentPairsPrefix]] at the oracle
    * gate — `containment_pairs_prefix` itself rides the dense
    * bitmask core on the tiny-vocabulary driver corpus.
    *
    * WINDOW-BOUNDED input (`doc_id < 20000`), same rationale as
    * `jaccard_pairs_bigvocab`: the suffixed corpus is the
    * tiny-universe pathology sharded by 7 (every posting corpus-hot
    * in its residue class), so an unbounded scale-leg run would just
    * re-measure the documented explosion; the pin's job is core
    * correctness, which the fixed window covers at every SF. */
  private def bigvocabContainmentPairs(
      s: org.apache.spark.sql.SparkSession, d: String)
      : org.apache.spark.sql.DataFrame =
    FixtureStore.artifact(s, "bigvocab_containment_pairs", d) {
      val docs = Tables.documents(s, d)
        .filter(col("doc_id") % 8 === 5 && col("doc_id") < 20000)
        .withColumn("text", concat_ws(" ",
          transform(graft.ext.TextOps.tokens(col("text")),
            t => concat(t, lit("_"),
              pmod(col("doc_id"), lit(7)).cast("string")))))
        .repartition(32)
      graft.ext.DedupOps.containmentPairsPrefix(
        docs, "doc_id", "text", minContainment = 0.9)
    }

  /** Build-once postings store ([[FixtureStore.buildOnce]]): a
    * search index is built per corpus snapshot and serves every
    * query, so the fixture write is not the query under test. The
    * postings table is CLUSTERED BY token — a term filter prunes
    * files via footer stats, the parquet-native posting lookup. */
  private def postingsStore(s: org.apache.spark.sql.SparkSession,
                            d: String): String =
    FixtureStore.buildOnce(s, "postings", d) { dir =>
      val (postings, doclens) = graft.ext.SearchOps.buildPostings(
        Tables.documents(s, d), "doc_id", "text")
      graft.io.Staging.writeClusteredBy(postings, dir, "postings",
        Seq("token"), files = 8)
      graft.io.Staging.overwriteParquet(doclens, dir, "doclens")
    }

  // shared oracle: the inline and index-backed forms must return the
  // IDENTICAL ranking (scoring stage is shared code in SearchOps)
  private val bm25OracleSql: String =
    """WITH toks AS (
      |  SELECT doc_id, unnest(CASE WHEN length(trim(text)) = 0
      |    THEN []::VARCHAR[]
      |    ELSE regexp_split_to_array(lower(trim(text)), '\s+') END)
      |    AS token
      |  FROM documents),
      |dl AS (SELECT doc_id, count(*) AS dlen FROM toks GROUP BY 1),
      |tf AS (SELECT doc_id, token, count(*) AS tf FROM toks
      |       WHERE token IN ('hash', 'join', 'vector') GROUP BY 1, 2),
      |idf AS (SELECT token, count(*) AS df FROM tf GROUP BY 1),
      |stats AS (SELECT count(*) AS n_docs,
      |            CAST(sum(dlen) AS DOUBLE) / count(*) AS avgdl
      |          FROM dl),
      |s AS (SELECT tf.doc_id, tf.token,
      |        ln(1.0 + (n_docs - df + 0.5) / (df + 0.5)) *
      |        (tf * (1.2 + 1) / (tf + 1.2 *
      |          (1.0 - 0.75 + 0.75 * dlen / avgdl))) AS s
      |      FROM tf JOIN idf USING (token) JOIN dl USING (doc_id)
      |      CROSS JOIN stats),
      |p AS (SELECT doc_id,
      |        coalesce(min(CASE WHEN token = 'hash' THEN s END), 0.0)
      |          AS s1,
      |        coalesce(min(CASE WHEN token = 'join' THEN s END), 0.0)
      |          AS s2,
      |        coalesce(min(CASE WHEN token = 'vector' THEN s END), 0.0)
      |          AS s3
      |      FROM s GROUP BY 1)
      |SELECT doc_id, round(s1 + s2 + s3, 6) AS score
      |FROM p ORDER BY score DESC, doc_id LIMIT 20""".stripMargin

  val defs: Map[String, QueryDef] = Map(

    // BM25 over a PERSISTED inverted index (buildPostings → clustered
    // postings store → bm25FromIndex): zero corpus tokenization at
    // query time, term filter pruned into the postings scan. Same
    // oracle as bm25_rank — the index must be semantically invisible.
    "bm25_indexed" -> QueryDef(
      (s, d) => {
        val dir = postingsStore(s, d)
        graft.ext.SearchOps.bm25FromIndex(
          graft.io.Staging.readTable(s, dir, "postings"),
          graft.io.Staging.readTable(s, dir, "doclens"),
          "doc_id", Seq("hash", "join", "vector"))
      },
      Some(bm25OracleSql)),

    // BM25 top-20 for the fixed query {hash, join, vector} — the
    // inline (tokenize-at-query-time) form; bm25_indexed is the
    // persisted-index twin under the same oracle.
    "bm25_rank" -> QueryDef(
      (s, d) => SearchOps.bm25Rank(Tables.documents(s, d),
        "doc_id", "text", Seq("hash", "join", "vector")),
      Some(bm25OracleSql)),

    // Inverted index rows for tokens appearing in >= 100 docs:
    // df, total tf, and the first-10 sorted posting sample.
    "inverted_index" -> QueryDef(
      (s, d) => SearchOps.invertedIndex(Tables.documents(s, d),
          "doc_id", "text", minDf = 100)
        .orderBy("token"),
      Some("""WITH toks AS (
        |  SELECT doc_id, unnest(CASE WHEN length(trim(text)) = 0
        |    THEN []::VARCHAR[]
        |    ELSE regexp_split_to_array(lower(trim(text)), '\s+') END)
        |    AS token
        |  FROM documents)
        |SELECT token, count(DISTINCT doc_id) AS df, count(*) AS total_tf,
        |  array_to_string(list_sort(list(DISTINCT doc_id))[1:10], ',')
        |    AS posting_sample
        |FROM toks GROUP BY token
        |HAVING count(DISTINCT doc_id) >= 100
        |ORDER BY token""".stripMargin)),

    // Doc-in-doc detection: blocked exact token-set containment, both
    // directions, pairs >= 0.9 in either (the boilerplate-inclusion
    // case Jaccard misses — DedupOps.containmentPairs scaladoc).
    // Rows carry the block-cap coverage accounting (dropped_blocks /
    // dropped_docs), same no-silent-caps discipline as
    // ngram_jaccard_topk — see that query's comment.
    "containment_dedup" -> QueryDef(
      (s, d) => {
        val docs = Tables.documents(s, d)
        // r15: the cap derives from the census work budget
        // (DedupOps.workBudgetCap — #blocks × cap²/2 ≤ 320M pairs)
        // instead of the fixed 10000 the zipf legs outgrew; the
        // derived value feeds the tier AND its drop accounting
        val cap = graft.ext.DedupOps.workBudgetCap(docs,
          Seq("lang", "source"))
        graft.ext.DedupOps.containmentPairs(docs, "doc_id", "text",
            Seq("lang", "source"), minContainment = 0.9,
            maxBlockSize = cap)
          .crossJoin(broadcast(graft.ext.DedupOps.droppedBlockStats(
            docs, Seq("lang", "source"), maxBlockSize = cap)))
          .select("lang", "id_a", "id_b", "containment_a",
            "containment_b", "dropped_blocks", "dropped_docs")
          .orderBy("lang", "id_a", "id_b")
      },
      // the capq CTE re-derives the work-budget cap from the same
      // block census (floor(sqrt(2·320M / #blocks>1)), clamped to
      // [2, 10000] — IEEE sqrt is exact in both engines); blk
      // mirrors containmentPairs' smallBlocks filter at that cap and
      // o mirrors droppedBlockStats: a (lang, source) block growing
      // past the cap is dropped on BOTH sides and the drop is
      // counted in the output on both sides
      Some("""WITH t AS (SELECT doc_id, lang, source,
        |  list_distinct(CASE WHEN length(trim(text)) = 0
        |    THEN []::VARCHAR[]
        |    ELSE regexp_split_to_array(lower(trim(text)), '\s+') END)
        |    AS tok FROM documents),
        |capq AS (SELECT least(10000, greatest(2,
        |    CAST(floor(sqrt(2.0 * 320000000 / count(*))) AS BIGINT)))
        |    AS cap
        |  FROM (SELECT 1 FROM documents
        |        WHERE lang IS NOT NULL AND source IS NOT NULL
        |        GROUP BY lang, source HAVING count(*) > 1)),
        |blk AS (SELECT lang, source FROM documents
        |  GROUP BY 1, 2
        |  HAVING count(*) <= (SELECT cap FROM capq)),
        |o AS (SELECT CAST(count(*) AS BIGINT) AS dropped_blocks,
        |  CAST(coalesce(sum(c), 0) AS BIGINT) AS dropped_docs
        |  FROM (SELECT count(*) AS c FROM documents
        |        WHERE lang IS NOT NULL AND source IS NOT NULL
        |        GROUP BY lang, source
        |        HAVING count(*) > (SELECT cap FROM capq))),
        |p AS (SELECT a.lang, a.doc_id AS id_a, b.doc_id AS id_b,
        |  round(CAST(len(list_intersect(a.tok, b.tok)) AS DOUBLE) /
        |    len(a.tok), 6) AS containment_a,
        |  round(CAST(len(list_intersect(a.tok, b.tok)) AS DOUBLE) /
        |    len(b.tok), 6) AS containment_b
        |  FROM t a JOIN t b
        |    ON a.lang = b.lang AND a.source = b.source
        |   AND a.doc_id < b.doc_id
        |  JOIN blk ON a.lang = blk.lang AND a.source = blk.source)
        |SELECT lang, id_a, id_b, containment_a, containment_b,
        |  dropped_blocks, dropped_docs
        |FROM p, o WHERE containment_a >= 0.9 OR containment_b >= 0.9
        |ORDER BY lang, id_a, id_b""".stripMargin)),

    // EXACT corpus-global containment via the asymmetric prefix
    // filter (DedupOps.containmentPairsPrefix): no blocking keys, no
    // block caps, no dropped data — the 100 TB completion of
    // containment_dedup, whose cap drops oversized blocks. Run on
    // the doc_id % 8 = 1 subset (the corpus's dup cluster makes the
    // full exact pair listing inherently quadratic in OUTPUT — the
    // jaccard_pairs_prefix subsetting rationale) under a genuine
    // all-pairs DuckDB ground truth: set equality at the threshold
    // proves the asymmetric completeness bound (prefix on the
    // denominator side, full postings on the containing side) and
    // that the size prune drops nothing.
    "containment_pairs_prefix" -> QueryDef(
      (s, d) => containmentPairs(s, d).orderBy("id_a", "id_b"),
      Some("""WITH t AS (SELECT doc_id,
        |  list_distinct(CASE WHEN length(trim(text)) = 0
        |    THEN []::VARCHAR[]
        |    ELSE regexp_split_to_array(lower(trim(text)), '\s+') END)
        |    AS tok FROM documents WHERE doc_id % 8 = 1),
        |p AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |  round(CAST(len(list_intersect(a.tok, b.tok)) AS DOUBLE) /
        |    len(a.tok), 6) AS containment_a,
        |  round(CAST(len(list_intersect(a.tok, b.tok)) AS DOUBLE) /
        |    len(b.tok), 6) AS containment_b
        |  FROM t a JOIN t b ON a.doc_id < b.doc_id)
        |SELECT id_a, id_b, containment_a, containment_b
        |FROM p WHERE containment_a >= 0.9 OR containment_b >= 0.9
        |ORDER BY id_a, id_b""".stripMargin)),

    // The same exact containment join on a VOCABULARY-INFLATED twin
    // corpus (tokens suffixed with doc_id % 7 → past the 62-token
    // bitmask bound): exercises the asymmetric prefix-filter core
    // against the all-pairs ground truth, so both containment cores
    // stay oracle-pinned (containment_pairs_prefix rides the dense
    // core on the 31-token corpus; jaccard_pairs_bigvocab is the
    // symmetric-measure twin of this query).
    "containment_pairs_bigvocab" -> QueryDef(
      (s, d) => bigvocabContainmentPairs(s, d).orderBy("id_a", "id_b"),
      Some("""WITH t AS (SELECT doc_id,
        |  list_distinct(list_transform(
        |    CASE WHEN length(trim(text)) = 0 THEN []::VARCHAR[]
        |    ELSE regexp_split_to_array(lower(trim(text)), '\s+') END,
        |    tk -> tk || '_' || CAST(doc_id % 7 AS VARCHAR))) AS tok
        |  FROM documents WHERE doc_id % 8 = 5 AND doc_id < 20000),
        |p AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |  round(CAST(len(list_intersect(a.tok, b.tok)) AS DOUBLE) /
        |    len(a.tok), 6) AS containment_a,
        |  round(CAST(len(list_intersect(a.tok, b.tok)) AS DOUBLE) /
        |    len(b.tok), 6) AS containment_b
        |  FROM t a JOIN t b ON a.doc_id < b.doc_id)
        |SELECT id_a, id_b, containment_a, containment_b
        |FROM p WHERE containment_a >= 0.9 OR containment_b >= 0.9
        |ORDER BY id_a, id_b""".stripMargin))
  )
}
