package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Full-text retrieval operators over a document corpus: BM25 scoring
  * and inverted-index construction — the query side of a curated
  * corpus (the dedup/quality side lives in [[DedupOps]]/[[TextOps]]).
  *
  * Scale shape (both ops): tokens are exploded map-side and FILTERED
  * map-side before any shuffle, so shuffle width is proportional to
  * *matching* postings, not corpus tokens. Corpus-level statistics
  * (N, avg doc length, per-term df) are tiny aggregates broadcast back
  * — never a driver-side collect. Top-k is `orderBy().limit()` →
  * TakeOrderedAndProject (per-partition heaps + driver merge of k
  * rows, not a global sort).
  */
object SearchOps {

  /** BM25 (Robertson k1/b) document ranking for a fixed term set,
    * with the textbook k1 = 1.2, b = 0.75 ([[bm25TfPart]]): every
    * query and its oracle twin score with these values.
    *
    * Determinism discipline (SURVEY §7.4): per-(doc, term) scores are
    * combined in the FIXED left-to-right order of `terms` (via pivot
    * columns, not an order-dependent SUM) and rounded to 6 dp, so the
    * only cross-engine risk is the `ln` ULP — the same rounded-
    * transcendental treatment as the `math_funcs` battery.
    */
  def bm25Rank(docs: DataFrame, idCol: String, textCol: String,
               terms: Seq[String], topK: Int = 20): DataFrame = {
    // tf columns are keyed by terms.indexOf(t): a duplicate term would
    // collide two __tf_i names and surface as an opaque
    // ambiguous-column analysis error deep in the aggregation.
    require(terms.distinct.size == terms.size,
      s"bm25Rank: duplicate terms in query ${terms.mkString("[", ",", "]")}" +
        " — dedupe the term list (a repeated term does not change BM25)")
    val toks = docs.select(col(idCol),
      explode(TextOps.tokens(col(textCol))).as("token"))
    // ONE-STATS-FRAME shape: the query's term set is a fixed small
    // list, so per-doc term frequencies are conditional sums in the
    // SAME aggregation that counts the full doc length — one hash
    // shuffle on the doc id total (vs separate dlen/tf aggs + a
    // re-shuffling join + pivot). Corpus statistics (n_docs, avgdl,
    // per-term df) then collapse in ONE tiny global aggregate over
    // the per-doc frame — the second read of that frame is the same
    // subtree, so its exchange is reused, never re-shuffled.
    def tfCol(t: String) = s"__tf_${terms.indexOf(t)}"
    val perDoc = toks.groupBy(col(idCol)).agg(
      count(lit(1)).as("dlen"),
      terms.map(t =>
        sum(when(col("token") === t, 1L).otherwise(0L)).as(tfCol(t))): _*)
    val statsCols = count(lit(1)).as("n_docs") +:
      (sum("dlen").cast("double") / count(lit(1))).as("avgdl") +:
      terms.map(t => sum(when(col(tfCol(t)) > 0, 1L).otherwise(0L))
        .as(s"__df_${terms.indexOf(t)}"))
    val stats = perDoc.agg(statsCols.head, statsCols.tail: _*)
    // docs with >= 1 matching term — the same doc set the long-form
    // tf table holds (and the oracle's tf CTE joins on)
    val matched = perDoc
      .filter(terms.map(t => col(tfCol(t))).reduce(_ + _) > 0)
      .crossJoin(broadcast(stats))
    val score = round(terms.map { t =>
      val df = col(s"__df_${terms.indexOf(t)}")
      val tf = col(tfCol(t))
      when(tf > 0, bm25Idf(df) * bm25TfPart(tf, col("dlen")))
        .otherwise(lit(0.0))
    }.reduce(_ + _), 6)
    matched.select(col(idCol), score.as("score"))
      .orderBy(col("score").desc, col(idCol))
      .limit(topK)
  }

  /** BM25 idf term — ONE definition shared by the inline
    * ([[bm25Rank]]) and index-backed ([[scoreBm25]]) forms so the
    * score arithmetic cannot drift between them. Expects `n_docs`
    * in scope (cross-joined stats row). */
  private def bm25Idf(df: Column): Column =
    log(lit(1.0) + (col("n_docs") - df + lit(0.5)) / (df + lit(0.5)))

  /** BM25 tf saturation term — shared like [[bm25Idf]]; expects
    * `avgdl` in scope. k1 = 1.2 and b = 0.75 are the textbook
    * constants; no caller tunes them. */
  private def bm25TfPart(tf: Column, dlen: Column): Column = {
    val k1 = 1.2
    val b = 0.75
    tf * lit(k1 + 1) /
      (tf + lit(k1) *
        (lit(1.0) - lit(b) + lit(b) * dlen / col("avgdl")))
  }

  /** Postings + doc-length tables for [[bm25FromIndex]]: the
    * materialized inverted-index form — `postings(token, doc_id,
    * tf)` and `doclens(doc_id, dlen)`. Built with ONE tokenization
    * pass (the corpus-linear cost is paid once per snapshot, not per
    * query); persist `postings` clustered by token
    * ([[graft.io.Staging.writeClusteredBy]]) so a query's term
    * filter prunes files via footer stats — the parquet-native
    * posting-list lookup. */
  def buildPostings(docs: DataFrame, idCol: String, textCol: String)
      : (DataFrame, DataFrame) = {
    val toks = docs.select(col(idCol),
      explode(TextOps.tokens(col(textCol))).as("token"))
    val postings = toks.groupBy(col("token"), col(idCol))
      .agg(count(lit(1)).as("tf"))
    val doclens = toks.groupBy(col(idCol)).agg(count(lit(1)).as("dlen"))
    (postings, doclens)
  }

  /** Index-backed BM25: identical scores to [[bm25Rank]] (the scoring
    * stage is literally shared), but tf/df/length statistics come
    * from prebuilt postings tables — query-time cost is proportional
    * to the MATCHING postings read (token-pruned scan), with no
    * corpus tokenization at all. This is the amortized form a search
    * service runs: build once per corpus snapshot
    * ([[buildPostings]]), serve every query from the index. Returns
    * the top 20 docs by score, the one cut its callers use. */
  def bm25FromIndex(postings: DataFrame, doclens: DataFrame,
                    idCol: String, terms: Seq[String]): DataFrame = {
    val tf = postings.filter(col("token").isin(terms: _*))
    scoreBm25(tf, doclens, idCol, terms)
  }

  /** BM25 scoring stage over long-form `(idCol, token, tf)` term
    * frequencies and `(idCol, dlen)` doc lengths — the index-backed
    * path's shape (postings arrive as separate tables). The score
    * arithmetic itself is [[bm25Idf]]/[[bm25TfPart]], shared with the
    * inline [[bm25Rank]] form so the two cannot drift. */
  private def scoreBm25(tf: DataFrame, dl: DataFrame, idCol: String,
                        terms: Seq[String]): DataFrame = {
    val df = tf.groupBy("token").agg(count(lit(1)).as("df"))
    val stats = dl.agg(count(lit(1)).as("n_docs"),
      (sum("dlen").cast("double") / count(lit(1))).as("avgdl"))
    val scored = tf
      .join(broadcast(df), "token")
      .join(dl, idCol)
      .crossJoin(broadcast(stats))
      .select(col(idCol), col("token"),
        (bm25Idf(col("df")) *
          bm25TfPart(col("tf"), col("dlen"))).as("s"))
    val pivoted = scored.groupBy(col(idCol))
      .pivot("token", terms)
      .agg(min("s"))
      .na.fill(0.0, terms)
    val score = round(terms.map(t => col(s"`$t`")).reduce(_ + _), 6)
    pivoted.select(col(idCol), score.as("score"))
      .orderBy(col("score").desc, col(idCol))
      .limit(20)
  }

  /** Inverted index at (token → document-frequency, total term
    * frequency, bounded sorted posting sample) grain, restricted to
    * tokens with `df >= minDf`.
    *
    * BOUNDED at every stage: the first aggregate collapses to
    * (token, doc) grain (per-doc tf — partial agg keeps the shuffle
    * at one partial row per partition×group), df/total_tf are then
    * plain counts/sums over that grain, and the posting sample is a
    * bounded k-smallest AGGREGATE ([[graft.functions.MinKLong]] for
    * integral ids — partial state ≤ sampleK longs per group, no
    * window): the rank-window form this replaces pinned a hot
    * token's ENTIRE posting set into one sorted partition (a
    * stopword's postings are corpus-sized — one straggler task at
    * any cluster width), the same class of hot-key window the
    * corpus-signal family shed in r10. Non-integral id columns fall
    * back to that window form (documented hot-token bound) — the
    * engine's synthetic ids are longs. The sample is the first
    * `sampleK` ids ascending — deterministic, and the shape a real
    * index shard stores (full posting lists live partitioned by
    * token range; the sample is the catalog/statistics row). */
  def invertedIndex(docs: DataFrame, idCol: String, textCol: String,
                    minDf: Long, sampleK: Int = 10): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val perDoc = docs.select(col(idCol),
        explode(TextOps.tokens(col(textCol))).as("token"))
      .groupBy(col("token"), col(idCol))
      .agg(count(lit(1)).as("__tf"))
    val stats = perDoc.groupBy("token")
      .agg(count(lit(1)).as("df"), sum("__tf").as("total_tf"))
      .filter(col("df") >= minDf)
    val integralId = docs.schema(idCol).dataType match {
      case org.apache.spark.sql.types.LongType |
           org.apache.spark.sql.types.IntegerType |
           org.apache.spark.sql.types.ShortType |
           org.apache.spark.sql.types.ByteType => true
      case _ => false
    }
    val sample =
      if (integralId)
        // null ids are excluded up front: the typed aggregate takes
        // primitive longs (the window form silently skipped nulls in
        // its collect_list — same outcome, made explicit here)
        perDoc.filter(col(idCol).isNotNull)
          .groupBy("token")
          .agg(array_join(
            transform(
              graft.functions.MinKLong.column(
                col(idCol).cast("long"), sampleK),
              _.cast("string")), ",").as("posting_sample"))
      else
        perDoc
          .withColumn("__rn", row_number().over(
            Window.partitionBy("token").orderBy(col(idCol))))
          .filter(col("__rn") <= sampleK)
          .groupBy("token")
          .agg(array_join(sort_array(collect_list(col(idCol)))
            .cast("array<string>"), ",").as("posting_sample"))
    stats.join(sample, "token")
      .select("token", "df", "total_tf", "posting_sample")
  }
}
