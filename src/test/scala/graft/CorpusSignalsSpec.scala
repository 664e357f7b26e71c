package graft

import org.apache.spark.sql.functions._
import graft.ext.{DedupOps, TextOps, VectorOps}

/** Round-9 corpus-signal operators: across-doc duplicated-n-gram
  * share, self-trained bigram-LM scoring, and SemDeDup-style semantic
  * dedup — each checked against a hand-computed model on crafted
  * corpora (their DuckDB twins gate the registry queries; these specs
  * pin the semantics the twins encode). */
class CorpusSignalsSpec extends SparkSpec {
  import spark.implicits._

  // ---------------- corpusDupNgramShare ----------------

  test("corpusDupNgramShare matches the brute-force model") {
    // doc 1 and 2 share their middle trigram; doc 3 is disjoint;
    // doc 4 is too short for any trigram
    val docs = Seq(
      (1L, "a b c d e"),   // trigrams: abc bcd cde
      (2L, "x b c d y"),   // trigrams: xbc bcd cdy
      (3L, "p q r s"),     // trigrams: pqr qrs
      (4L, "t u")          // none
    ).toDF("doc_id", "text")
    val out = DedupOps.corpusDupNgramShare(docs, "doc_id", "text", 3)
      .orderBy("doc_id")
      .select("doc_id", "n_grams", "n_dup_grams", "dup_share")
      .as[(Long, Long, Long, Double)].collect().toSeq
    assert(out === Seq(
      (1L, 3L, 1L, 0.333333),
      (2L, 3L, 1L, 0.333333),
      (3L, 2L, 0L, 0.0)))
  }

  test("corpusDupNgramShare counts document frequency over DISTINCT " +
    "per-doc grams (within-doc repetition is not corpus duplication)") {
    // "b c" occurs twice INSIDE doc 1 but in no other doc → not dup;
    // "c d" occurs once in each doc → dup for both
    val docs = Seq(
      (1L, "b c b c d"),   // distinct bigrams: "b c", "c b", "c d"
      (2L, "c d")          // distinct bigrams: "c d"
    ).toDF("doc_id", "text")
    val out = DedupOps.corpusDupNgramShare(docs, "doc_id", "text", 2)
      .orderBy("doc_id")
      .select("doc_id", "n_grams", "n_dup_grams")
      .as[(Long, Long, Long)].collect().toSeq
    assert(out === Seq((1L, 3L, 1L), (2L, 1L, 1L)))
  }

  // ---------------- bigramLmScores ----------------

  test("bigramLmScores matches hand-computed ML bigram probabilities") {
    // corpus bigram instances: "a b" x2, "a c" x1, left-counts a=3
    //   doc 1 "a b":     lp = ln(2/3)
    //   doc 2 "a c":     lp = ln(1/3)
    //   doc 3 "a b":     lp = ln(2/3)
    val docs = Seq(
      (1L, "a b"), (2L, "a c"), (3L, "a b"),
      (4L, "solo")  // < 2 tokens → no row
    ).toDF("doc_id", "text")
    val out = TextOps.bigramLmScores(docs, "doc_id", "text")
      .orderBy("doc_id")
      .select("doc_id", "n_bigrams", "lm_logprob")
      .as[(Long, Long, Double)].collect().toSeq
    def r6(x: Double) = math.round(x * 1e6) / 1e6
    assert(out.map(_._1) === Seq(1L, 2L, 3L))
    assert(out.map(_._2) === Seq(1L, 1L, 1L))
    assert(out(0)._3 === r6(math.log(2.0 / 3)))
    assert(out(1)._3 === r6(math.log(1.0 / 3)))
    assert(out(2)._3 === out(0)._3)
  }

  test("bigramLmScores: every score is finite and <= 0 " +
    "(ML probabilities never exceed 1, observed bigrams never have " +
    "zero count)") {
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
    val scores = TextOps.bigramLmScores(docs, "doc_id", "text")
      .select("lm_logprob").as[Double].collect()
    assert(scores.nonEmpty)
    assert(scores.forall(s => !s.isNaN && !s.isInfinite && s <= 0.0))
  }

  // ---------------- meanCentroids / semanticDedup ----------------

  test("meanCentroids computes per-group element-wise means") {
    val df = Seq(
      (1L, Seq(1.0f, 0.0f), "g1"),
      (2L, Seq(3.0f, 2.0f), "g1"),
      (3L, Seq(0.0f, 4.0f), "g2")
    ).toDF("id", "vec", "grp")
    val cents = VectorOps.meanCentroids(df, "vec", "grp")
      .orderBy("grp")
      .select(col("grp"), col("centroid"))
      .as[(String, Seq[Double])].collect().toSeq
    assert(cents === Seq(("g1", Seq(2.0, 1.0)), ("g2", Seq(0.0, 4.0))))
  }

  test("semanticDedup assigns to the nearest centroid and prunes " +
    "within clusters with min-id survivors") {
    // two orthogonal directions; ids 1,2,3 are near-identical copies
    // along e1 (pairwise cosine ~1), id 4 is distinct but e1-leaning;
    // ids 10,11 duplicate along e2. Expect cluster A keeps min-id 1
    // (+ the distinct 4), cluster B keeps 10.
    val vecs = Seq(
      (1L, Seq(1.0f, 0.0f)),
      (2L, Seq(0.99f, 0.01f)),
      (3L, Seq(0.98f, 0.02f)),
      (4L, Seq(0.8f, 0.6f)),     // e1 side, but cosine < 0.99 vs 1-3
      (10L, Seq(0.0f, 1.0f)),
      (11L, Seq(0.01f, 0.99f))
    ).toDF("id", "vec")
    val centroids = Seq(
      (0, Seq(1.0, 0.0)), (1, Seq(0.0, 1.0))
    ).toDF("cluster", "centroid")
    val out = VectorOps.semanticDedup(vecs, "id", "vec", centroids,
        "cluster", threshold = 0.995)
      .orderBy("cluster")
      .select("cluster", "n_assigned", "n_dropped", "n_kept")
      .as[(Int, Long, Long, Long)].collect().toSeq
    assert(out === Seq((0, 4L, 2L, 2L), (1, 2L, 1L, 1L)))
  }

  test("semanticDedup maxClusterSize: a mega-cluster skips the pair " +
    "stage with the skip accounted in `capped`, never silently") {
    // a dense region hands centroid 0 a 60-vector near-dup cluster
    // (the web-corpus hazard SemDeDup targets: the within-cluster
    // self-join is 60²/2 there, unbounded in general); centroid 1
    // keeps a well-sized cluster that must still dedup normally
    val hot = (1L to 60L).map(i =>
      (i, Seq(1.0f, (i % 7).toFloat / 1000f)))
    val cold = Seq(
      (100L, Seq(0.0f, 1.0f)), (101L, Seq(0.01f, 0.99f)),
      (102L, Seq(0.6f, 0.8f)))
    val vecs = (hot ++ cold).toDF("id", "vec")
    val centroids = Seq(
      (0, Seq(1.0, 0.0)), (1, Seq(0.0, 1.0))
    ).toDF("cluster", "centroid")
    def run(cap: Int) = VectorOps.semanticDedup(vecs, "id", "vec",
        centroids, "cluster", threshold = 0.995, maxClusterSize = cap)
      .orderBy("cluster")
      .select("cluster", "n_assigned", "n_dropped", "n_kept", "capped")
      .as[(Int, Long, Long, Long, Boolean)].collect().toSeq
    // capped run: the hot cluster's quadratic stage is SKIPPED — all
    // members kept, the skip visible in `capped`; the cold cluster
    // still dedups (101 ~ 100 at cosine ≥ .995; 102 survives)
    assert(run(50) === Seq(
      (0, 60L, 0L, 60L, true), (1, 3L, 1L, 2L, false)))
    // uncapped run on the same data: the hot cluster's near-dups DO
    // drop (min-id survivors per 7-way direction family) — the capped
    // form trades exactly that work for the bounded pair stage
    val un = run(Int.MaxValue)
    assert(un.map(r => (r._1, r._5)) === Seq((0, false), (1, false)))
    assert(un.head._3 > 40L, un) // most of the mega-cluster drops
  }

  test("semanticDedup accounting invariants on the real corpus: " +
    "every vector is assigned exactly once, kept = assigned - dropped") {
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.001")
    val cents = VectorOps.meanCentroids(emb, "embedding", "label")
      .withColumnRenamed("label", "cluster")
    val out = VectorOps.semanticDedup(emb, "vec_id", "embedding",
      cents, "cluster", threshold = 0.2)
    val rows = out.select("n_assigned", "n_dropped", "n_kept")
      .as[(Long, Long, Long)].collect()
    assert(rows.map(_._1).sum === emb.count())
    assert(rows.forall { case (a, d, k) => k == a - d && d >= 0 && k >= 1 })
  }

  // ---------------- dsirWeights ----------------

  test("dsirWeights matches the hand-computed Laplace-smoothed " +
    "importance log-ratio") {
    // features: "a b" (c_t=1, c_r=2), "c d" (c_t=0, c_r=1);
    // N_t=1, N_r=3, V=2
    // lp(a b) = ln(2/3) - ln(3/5) = ln(10/9) = 0.105361
    // lp(c d) = ln(1/3) - ln(2/5) = ln(5/6)  = -0.182322
    val docs = Seq(
      (1L, "a b", "en"),
      (2L, "a b", "fr"),
      (3L, "c d", "fr"),
      (4L, "solo", "en")   // < 2 tokens: no row
    ).toDF("doc_id", "text", "lang")
    val out = TextOps.dsirWeights(docs, "doc_id", "text",
        col("lang") === "en")
      .orderBy("doc_id")
      .select("doc_id", "n_feats", "dsir_logw")
      .as[(Long, Long, Double)].collect().toSeq
    assert(out === Seq(
      (1L, 1L, 0.105361),
      (2L, 1L, 0.105361),
      (3L, 1L, -0.182322)))
  }

  test("dsirWeights separates target-like from off-target documents " +
    "on a two-domain corpus") {
    // target docs repeat one vocabulary, off-target another; a doc
    // made of target vocabulary must outscore one of off-target
    // vocabulary under the target-vs-raw ratio
    val docs = ((1L to 10L).map(i => (i, "alpha beta gamma delta", "en"))
      ++ (11L to 20L).map(i => (i, "omega psi chi phi", "de"))).toSeq
      .toDF("doc_id", "text", "lang")
    val w = TextOps.dsirWeights(docs, "doc_id", "text",
        col("lang") === "en")
      .select("doc_id", "dsir_logw").as[(Long, Double)].collect().toMap
    assert(w(1L) > w(11L))
    assert((1L to 10L).map(w).toSet.size == 1) // identical docs tie
  }

  // ---------------- dupSpanCoverage ----------------

  test("dupSpanCoverage covers exactly the positions under corpus-" +
    "duplicated n-grams (cross-doc and within-doc)") {
    val docs = Seq(
      (1L, "a b c d e f"),  // shares bcd, cde with doc 2
      (2L, "z b c d e q"),
      (3L, "a b"),          // too short for a trigram
      (4L, ""),             // empty
      (5L, "x y x y x")     // within-doc repeated bigrams — but n=3:
                            // trigrams xyx(0) yxy(1) xyx(2) → all dup
    ).toDF("doc_id", "text")
    val out = DedupOps.dupSpanCoverage(docs, "doc_id", "text", 3)
      .orderBy("doc_id")
      .select("doc_id", "n_tokens", "n_covered", "coverage")
      .as[(Long, Int, Long, Double)].collect().toSeq
    // doc 1/2: dup trigram starts {1, 2} → covered {1,2,3,4} = 4 of 6
    // doc 5: dup starts {0, 2} → covered {0..4} = 5 of 5
    assert(out === Seq(
      (1L, 6, 4L, 0.666667),
      (2L, 6, 4L, 0.666667),
      (3L, 2, 0L, 0.0),
      (4L, 0, 0L, 0.0),
      (5L, 5, 5L, 1.0)))
  }

  test("stripDupSpans keeps the (doc, start)-minimal occurrence of " +
    "each duplicated n-gram and strips the rest, removal winning " +
    "on overlap") {
    val docs = Seq(
      (1L, "a b c d e"),   // canonical owner of "b c d" → unchanged
      (2L, "z b c d q"),   // non-canonical "b c d" @ 1 → strip 1..3
      (3L, "x y x y x"),   // "x y x" @ 0 (canonical) and @ 2 → strip
                           // 2..4; overlap at 2 with the canonical
                           // span: removal wins
      (4L, "t u"),         // too short for a trigram → unchanged
      (5L, "")             // empty → empty
    ).toDF("doc_id", "text")
    val out = DedupOps.stripDupSpans(docs, "doc_id", "text", 3)
      .orderBy("doc_id")
      .select("doc_id", "n_tokens", "n_removed", "cleaned_text")
      .as[(Long, Long, Long, String)].collect().toSeq
    assert(out === Seq(
      (1L, 5L, 0L, "a b c d e"),
      (2L, 5L, 3L, "z q"),
      (3L, 5L, 3L, "x y"),
      (4L, 2L, 0L, "t u"),
      (5L, 0L, 0L, "")))
  }

  // ---------------- ccnetBucketsFromScores ----------------

  test("ccnetBuckets: ceil-formula bucket sizes, every doc bucketed " +
    "once, head bucket at least as fluent as the tail") {
    // lang A: 7 docs → bucket sizes 2/2/3 by ceil(3·rn/7);
    // lang B: 2 docs → ranks 1,2 land in buckets 2,3 (no bucket 1 —
    // the formula is faithful, not ntile's remainder rule)
    val docs = ((1L to 7L).map(i =>
        (i, s"tok$i tok${i % 3} tok$i tok${(i * 7) % 5}", "A"))
      ++ Seq((8L, "u v u v", "B"), (9L, "w w w", "B"))).toSeq
      .toDF("doc_id", "text", "lang")
    val out = TextOps.ccnetBucketsFromScores(
        TextOps.bigramLmScores(docs, "doc_id", "text"), docs, "doc_id",
        "lang", 3)
      .orderBy("lang", "bucket")
      .select("lang", "bucket", "n_docs", "avg_logprob")
      .as[(String, Int, Long, Double)].collect().toSeq
    assert(out.map(r => (r._1, r._2, r._3)) === Seq(
      ("A", 1, 2L), ("A", 2, 2L), ("A", 3, 3L),
      ("B", 2, 1L), ("B", 3, 1L)))
    // ranked desc by score: bucket means are non-increasing per lang
    val a = out.filter(_._1 == "A").map(_._4)
    assert(a.zip(a.tail).forall { case (hi, lo) => hi >= lo })
  }

  // ---------------- drift PSI ----------------

  test("psiReport: identical snapshots score 0; a mass shift matches " +
    "the hand-computed PSI; empty buckets smooth finitely") {
    import graft.ext.DriftOps
    val base = Seq.fill(40)(5.0).zipWithIndex
      .map { case (v, i) => (i.toLong, v) } // all in bucket 0
      .toDF("id", "v")
    val same = DriftOps.psiReport(base, base, col("v"), Seq(10.0, 20.0))
      .select("psi_total").distinct().as[Double].head()
    assert(same === 0.0)
    // shift: base 40 in bucket 0; current 10 in bucket 0, 30 in
    // bucket 2 — hand-computed with Laplace (+1 / N+3) smoothing
    val cur = (Seq.fill(10)(5.0) ++ Seq.fill(30)(25.0)).zipWithIndex
      .map { case (v, i) => (i.toLong, v) }.toDF("id", "v")
    val rep = DriftOps.psiReport(base, cur, col("v"), Seq(10.0, 20.0))
      .orderBy("bucket")
      .select("bucket", "n_base", "n_cur", "psi_contrib", "psi_total")
      .as[(Int, Long, Long, Double, Double)].collect().toSeq
    // shares feed the log UNROUNDED (rounding first would zero any
    // share < 5e-7 on a big snapshot and inf/NaN the log); round(…,6)
    // applies only to the reported columns — mirrored here
    def r6(x: Double) = math.rint(x * 1e6) / 1e6
    val pb = Seq(41.0 / 43, 1.0 / 43, 1.0 / 43)
    val pc = Seq(11.0 / 43, 1.0 / 43, 31.0 / 43)
    val rawContribs = pb.zip(pc).map { case (p, q) =>
      (p - q) * math.log(p / q) }
    val contribs = rawContribs.map(r6)
    val total = r6(rawContribs.sum)
    assert(rep.map(_._1) === Seq(0, 1, 2))
    assert(rep.map(_._2) === Seq(40L, 0L, 0L))
    assert(rep.map(_._3) === Seq(10L, 0L, 30L))
    assert(rep.map(_._4) === contribs)
    assert(rep.forall(_._5 == total))
    assert(total > 0.25) // a 75% mass shift is an alarm-grade PSI
  }

  test("madOutlierGate: lower-median + MAD flag exactly the hand-" +
    "computed outliers per key; a heavy tail cannot move the gate") {
    import graft.ext.DriftOps
    // key A: values 1..9 (med 5) plus an extreme 1000 → n=10,
    // lower median = rank 5 = value 5; dev = |v−5|, lower MAD =
    // rank-5 dev = 2 → gate at 3·2 = 6 → outliers: 1000 only...
    // dev values: 4,3,2,1,0,1,2,3,4,995 sorted 0,1,1,2,2,3,3,4,4,995
    // rank ⌈10/2⌉=5 → 2; 3·2=6 → |v−5|>6 ⇒ only 1000.
    val a = (1 to 9).map(v => ("A", v.toLong)) :+ (("A", 1000L))
    // key B: constant values → MAD 0, nothing flagged (0 > 0 false)
    val b = (1 to 5).map(_ => ("B", 7L))
    val df = (a ++ b).toDF("k", "v")
    val out = DriftOps.madOutlierGate(df, Seq("k"), col("v"), 3.0)
    val flagged = out.filter(col("is_outlier"))
      .select("k", "v").as[(String, Long)].collect().toSet
    assert(flagged === Set(("A", 1000L)))
    assert(out.filter(col("k") === "A").select("__med")
      .distinct().as[Long].head() === 5L)
    assert(out.filter(col("k") === "A").select("__mad")
      .distinct().as[Long].head() === 2L)
    assert(out.filter(col("k") === "B").select("__mad")
      .distinct().as[Long].head() === 0L)
  }

  test("madOutlierGateDiscrete ≡ madOutlierGate row-for-row: the " +
    "histogram fold and the bucketed order statistic pick the same " +
    "medians, MADs, and flags — including on ties and a heavy tail") {
    import graft.ext.DriftOps
    // values with heavy TIES (the histogram's reason to exist) plus
    // the tail outlier; key C exercises an even-n tie-straddling
    // median (values 2,2,4,4 → rank 2 → med 2; devs 0,0,2,2 → mad 0)
    val rows = (1 to 9).map(v => ("A", v.toLong)) ++
      Seq(("A", 1000L), ("A", 5L), ("A", 5L)) ++
      (1 to 5).map(_ => ("B", 7L)) ++
      Seq(("C", 2L), ("C", 2L), ("C", 4L), ("C", 4L))
    val df = rows.toDF("k", "v")
    val cols = Seq("k", "v", "__med", "__mad", "is_outlier")
    val gen = DriftOps.madOutlierGate(df, Seq("k"), col("v"), 3.0)
      .select(cols.map(col): _*)
    val disc = DriftOps.madOutlierGateDiscrete(df, Seq("k"), col("v"), 3.0)
      .select(cols.map(col): _*)
    assert(gen.exceptAll(disc).isEmpty && disc.exceptAll(gen).isEmpty)
    // C's tie-straddling lower median and zero MAD, concretely
    assert(disc.filter(col("k") === "C").select("__med")
      .distinct().as[Long].head() === 2L)
    assert(disc.filter(col("k") === "C").select("__mad")
      .distinct().as[Long].head() === 0L)
  }

  test("applyRobustStats gates a batch against a FROZEN model: the " +
    "batch cannot move its own gate, and keys unseen by the model " +
    "come back unscored, not dropped") {
    import graft.ext.DriftOps
    val snapshot = (1 to 9).map(v => ("A", v.toLong)).toDF("k", "v")
    val stats = DriftOps.robustStatsDiscrete(snapshot, Seq("k"),
      col("v"))
    assert(stats.select("k", "__med", "__mad")
      .as[(String, Long, Long)].collect().toSeq === Seq(("A", 5L, 2L)))
    // a pathological batch: 3 copies of an extreme value. The
    // self-computed gate would absorb them (its own median moves);
    // the frozen gate flags all three. |1000−5| > 3·2.
    val batch = (Seq(("A", 4L), ("A", 6L)) ++
      Seq.fill(3)(("A", 1000L)) :+ (("NEW", 7L))).toDF("k", "v")
    val gated = DriftOps.applyRobustStats(batch, stats, Seq("k"),
      col("v"), 3.0)
    assert(gated.count() === 6L)
    assert(gated.filter(col("is_outlier") === true).count() === 3L)
    // the unseen key survives with a NULL score — model-refresh
    // signal, not a silent pass or a silent drop
    val unseen = gated.filter(col("k") === "NEW")
    assert(unseen.count() === 1L &&
      unseen.filter(col("is_outlier").isNull).count() === 1L)
  }

  test("rollingMadGate chains days off the histogram STORE: " +
    "store-fit ≡ snapshot-fit, a replayed day changes nothing, a " +
    "replayed GATE stays frozen, and the staleness bound trips") {
    import graft.ext.DriftOps
    val root = java.nio.file.Files
      .createTempDirectory("graft-rollgate").toString
    def day(rows: (String, Long)*) = rows.toDF("k", "v")
    val d0 = day(("A", 1L), ("A", 2L), ("A", 3L), ("B", 10L))
    val d1 = day(("A", 4L), ("A", 5L), ("B", 12L))
    val d2 = day(("A", 4L), ("A", 100L), ("NEW", 7L))
    def snap(df: org.apache.spark.sql.DataFrame) =
      df.select("k", "v", "__med", "__mad", "is_outlier")
        .collect().map(_.toSeq).toSet

    DriftOps.updateKeyedValueHistogram(d0, Seq("k"), col("v"), root, 0L)
    // day 1 gated against day 0's model (the daily protocol: gate
    // first, append after) — equals the snapshot-fit frozen gate
    val g1 = DriftOps.rollingMadGate(d1, Seq("k"), col("v"), 3.0,
      root, batchId = 1L, maxStaleness = 1L)
    val f1 = DriftOps.applyRobustStats(d1,
      DriftOps.robustStatsDiscrete(d0, Seq("k"), col("v")),
      Seq("k"), col("v"), 3.0)
    assert(snap(g1) === snap(f1))
    DriftOps.updateKeyedValueHistogram(d1, Seq("k"), col("v"), root, 1L)
    // replayed day 1: bit-identical delta under the SAME id — the
    // serve fold collapses it, day 2's model is unmoved
    DriftOps.updateKeyedValueHistogram(d1, Seq("k"), col("v"), root, 1L)
    val g2 = DriftOps.rollingMadGate(d2, Seq("k"), col("v"), 3.0,
      root, batchId = 2L, maxStaleness = 1L)
    val f2 = DriftOps.applyRobustStats(d2,
      DriftOps.robustStatsDiscrete(d0.unionByName(d1), Seq("k"),
        col("v")),
      Seq("k"), col("v"), 3.0)
    assert(snap(g2) === snap(f2))
    // the gate itself: A's model over days 0∪1 is med 3 / mad 1 —
    // 100 flags, 4 passes; the day-2-only key is unscored, not
    // dropped (model-refresh signal)
    assert(g2.filter(col("is_outlier") === true).select("v")
      .as[Long].collect().toSeq === Seq(100L))
    assert(g2.filter(col("k") === "NEW")
      .filter(col("is_outlier").isNull).count() === 1L)
    // a gate replayed AFTER its own delta was appended stays frozen:
    // the fold's strict __batch < batchId bound keeps day 2's own
    // rows out of day 2's model
    DriftOps.updateKeyedValueHistogram(d2, Seq("k"), col("v"), root, 2L)
    val g2replay = DriftOps.rollingMadGate(d2, Seq("k"), col("v"),
      3.0, root, batchId = 2L, maxStaleness = 1L)
    assert(snap(g2replay) === snap(g2))
    // staleness bound: gating batch 5 off a store whose freshest day
    // is 2 fails at bound 2 (3 behind), passes at bound 3
    intercept[IllegalArgumentException] {
      DriftOps.rollingMadGate(d2, Seq("k"), col("v"), 3.0, root,
        batchId = 5L, maxStaleness = 2L)
    }
    assert(DriftOps.rollingMadGate(d2, Seq("k"), col("v"), 3.0, root,
      batchId = 5L, maxStaleness = 3L).count() === 3L)
    // an unseeded gate (no batch earlier than batchId) fails fast
    intercept[IllegalArgumentException] {
      DriftOps.rollingMadGate(d0, Seq("k"), col("v"), 3.0, root,
        batchId = 0L, maxStaleness = 1L)
    }
  }

  test("the gates keep NULL-key rows as their own group and reject " +
    "colliding input columns instead of clobbering them") {
    import graft.ext.DriftOps
    val df = (Seq(("A", 1L), ("A", 2L), ("A", 3L)) ++
      Seq((null, 5L), (null, 5L), (null, 100L)))
      .toDF("k", "v")
    for (out <- Seq(
        DriftOps.madOutlierGate(df, Seq("k"), col("v"), 3.0),
        DriftOps.madOutlierGateDiscrete(df, Seq("k"), col("v"), 3.0))) {
      // contract: returns the INPUT plus the gate columns — null-key
      // rows included (med 5, mad 0 → 100 flagged)
      assert(out.count() === 6L)
      val nullG = out.filter(col("k").isNull)
      assert(nullG.count() === 3L)
      assert(nullG.filter(col("is_outlier")).select("v")
        .as[Long].collect().toSeq === Seq(100L))
    }
    intercept[IllegalArgumentException] {
      DriftOps.madOutlierGateDiscrete(
        df.withColumnRenamed("v", "__med"), Seq("k"), col("__med"), 3.0)
    }
    intercept[IllegalArgumentException] {
      graft.ops.Relational.keyedOrderStatistic(
        df.withColumnRenamed("v", "__v"), Seq("k"), col("__v"),
        n => n, "med")
    }
  }

  test("topNgrams ≡ naive string explode+count+window, including a " +
    "count tie AT the rank-k boundary where the string tiebreak " +
    "decides which grams survive") {
    import graft.ext.TextOps
    // one trigram per doc (3-token docs); counts via duplication.
    // lang L: a=4, b=3, zc=2, zd=2, ze=2, f=1 → top-4 by (count
    // desc, gram) = a,b,zc,zd — ze ties zd at the boundary and must
    // lose on the STRING, which pass 1 (digest-only) cannot see;
    // the candidate superset has to carry all three 2-count grams.
    def docs(lang: String, gram: String, m: Int) =
      Seq.fill(m)((lang, gram))
    val corpus = (docs("L", "a a a", 4) ++ docs("L", "b b b", 3) ++
      docs("L", "zc c c", 2) ++ docs("L", "zd d d", 2) ++
      docs("L", "ze e e", 2) ++ docs("L", "f f f", 1) ++
      // second language so per-key isolation is exercised — "a a a"
      // deliberately shared with L under different counts
      docs("M", "a a a", 1) ++ docs("M", "q q q", 5)).zipWithIndex
      .map { case ((l, t), i) => (i.toLong, l, t) }
    val df = corpus.toDF("doc_id", "lang", "text")
      // a NULL key is a GROUP (undetected language), not a discard —
      // the gate and the naive form must both rank it
      .union(Seq((900L, null, "n n n"), (901L, null, "n n n"))
        .toDF("doc_id", "lang", "text"))
    val naive = graft.ops.Relational.topNPerKey(
      df.select(col("lang"),
          explode(TextOps.wordNgrams(col("text"), 3)).as("gram"))
        .groupBy("lang", "gram").agg(count(lit(1)).as("n_occurrences")),
      Seq("lang"), Seq(col("n_occurrences").desc, col("gram")), 4)
    // buckets=1 forces every gram of a key into ONE rank window, so
    // the rank() <= k pruning actually drops grams (with 32 buckets
    // over this tiny vocabulary every gram ranks 1 in its own bucket
    // and the filter would be a no-op — untested pruning)
    for (buckets <- Seq(1, 32)) {
      val fast = TextOps.topNgrams(df, Seq("lang"), col("text"), 3, 4,
        buckets = buckets)
      assert(fast.exceptAll(naive).isEmpty &&
        naive.exceptAll(fast).isEmpty,
        s"buckets=$buckets diverges from the naive form")
    }
    val fast = TextOps.topNgrams(df, Seq("lang"), col("text"), 3, 4)
    val l = fast.filter(col("lang") === "L")
      .orderBy(col("n_occurrences").desc, col("gram"))
      .select("gram").as[String].collect().toSeq
    assert(l.head === "a a a" && l.contains("zc c c") &&
      !l.contains("ze e e"))
    assert(fast.filter(col("lang").isNull)
      .select("gram", "n_occurrences").as[(String, Long)]
      .collect().toSeq === Seq(("n n n", 2L)))
  }

  // ---------------- hot-gram skew hardening ----------------

  // Crafted degenerate corpus for the corpus-signal family: every doc
  // opens with the SAME 20-token boilerplate passage, so each boiler
  // 5-gram/bigram occurs in EVERY document — the shape that turns a
  // count window over the gram digest into one straggler partition.
  // The hardened ops never window on the digest (plan-asserted below);
  // this case pins their OUTPUT on the degenerate corpus analytically
  // and bounds their wall-time against an equal-size diverse corpus.
  private val nHot = 1200
  private def boiler = (0 until 20).map(j => s"b$j").mkString(" ")
  private lazy val hotCorpus = (0 until nHot).map { i =>
    (i.toLong, boiler + " " + (0 until 20).map(j => s"u${i}x$j")
      .mkString(" "))
  }.toDF("doc_id", "text")
  private lazy val diverseCorpus = (0 until nHot).map { i =>
    (i.toLong, (0 until 40).map(j => s"d${i}x$j").mkString(" "))
  }.toDF("doc_id", "text")

  private def timed[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }

  test("hot-gram corpus (one passage in every doc): span coverage and " +
    "removal are analytically exact and wall-bounded vs a diverse " +
    "corpus of the same size") {
    // warm both paths once so JIT/codegen cost lands outside the clock
    DedupOps.dupSpanCoverage(diverseCorpus.limit(50), "doc_id", "text", 5)
      .count()
    // Every doc: tokens 0..39; 5-gram starts 0..35; starts 0..15 are
    // fully inside the shared boiler (duplicated corpus-wide, covering
    // positions 0..19); starts 16+ touch per-doc-unique tokens.
    val (cov, tDiv) = timed {
      DedupOps.dupSpanCoverage(diverseCorpus, "doc_id", "text", 5)
        .agg(sum("n_covered")).head.getLong(0)
    }
    assert(cov === 0L) // fully diverse corpus: nothing covered
    val (hotRows, tHot) = timed {
      DedupOps.dupSpanCoverage(hotCorpus, "doc_id", "text", 5)
        .select("n_covered").as[Long].collect()
    }
    assert(hotRows.length === nHot && hotRows.forall(_ == 20L))
    // the hot corpus must not degenerate into a straggler: bounded by
    // a VERY generous margin over the diverse run (same size, same
    // op) — the structural guarantee is the windowless-plan test
    // below; this clock only catches order-of-magnitude collapse, so
    // host-load noise cannot red the suite
    assert(tHot <= math.max(10.0, 10 * tDiv),
      s"hot=$tHot diverse=$tDiv")
    // removal: doc 0 owns every boiler gram's canonical occurrence →
    // loses nothing; every other doc strips exactly the 20 boiler
    // positions and keeps its 20 unique tokens
    val strip = DedupOps.stripDupSpans(hotCorpus, "doc_id", "text", 5)
      .select("doc_id", "n_removed").as[(Long, Long)].collect().toMap
    assert(strip(0L) === 0L)
    assert((1L until nHot.toLong).forall(strip(_) === 20L))
  }

  test("hot-gram corpus: bigram LM and DSIR stay windowless and " +
    "bounded when one bigram dominates the instance stream") {
    DedupOps.corpusDupNgramShare(diverseCorpus.limit(50), "doc_id",
      "text", 2).count()
    val (_, tDiv) = timed {
      TextOps.bigramLmScores(diverseCorpus, "doc_id", "text")
        .agg(count(lit(1))).head.getLong(0)
    }
    val (scored, tHot) = timed {
      TextOps.bigramLmScores(hotCorpus, "doc_id", "text")
        .select("n_bigrams").as[Long].collect()
    }
    assert(scored.length === nHot && scored.forall(_ == 39L))
    assert(tHot <= math.max(10.0, 10 * tDiv), s"hot=$tHot diverse=$tDiv")
    val w = TextOps.dsirWeights(hotCorpus, "doc_id", "text",
      col("doc_id") % 2 === 0)
    assert(w.count() === nHot.toLong)
  }

  test("incremental drift-histogram store: batched build ≡ the " +
    "inline psiReport, a replayed batch changes nothing, and the " +
    "write job reports the batch row count") {
    import graft.ext.DriftOps
    val baseDir = java.nio.file.Files
      .createTempDirectory("graft-driftbase").toString
    val curDir = java.nio.file.Files
      .createTempDirectory("graft-driftcur").toString
    val cuts = Seq(2.0, 5.0)
    val base = Seq(1L, 2L, 3L, 4L, 6L, 7L).toDF("v")
    val cur = Seq(1L, 3L, 4L, 6L, 7L).toDF("v")
    // base in two batches, current in two — the serve fold must be
    // indifferent to how the snapshot was batched
    assert(DriftOps.updateValueHistogram(base.filter(col("v") <= 3),
      col("v"), cuts, baseDir, 0L) === 3L)
    assert(DriftOps.updateValueHistogram(base.filter(col("v") > 3),
      col("v"), cuts, baseDir, 1L) === 3L)
    DriftOps.updateValueHistogram(cur.filter(col("v") <= 4),
      col("v"), cuts, curDir, 0L)
    DriftOps.updateValueHistogram(cur.filter(col("v") > 4),
      col("v"), cuts, curDir, 1L)
    def report(df: org.apache.spark.sql.DataFrame) = df
      .orderBy("bucket")
      .select("bucket", "n_base", "n_cur", "p_base", "p_cur",
        "psi_contrib", "psi_total")
      .as[(Int, Long, Long, Double, Double, Double, Double)]
      .collect().toSeq
    val inline = report(DriftOps.psiReport(base, cur, col("v"), cuts))
    assert(report(DriftOps.psiReportFromStores(spark, baseDir,
      curDir, cuts)) === inline)
    // at-least-once replay: batch 1 re-appended verbatim collapses
    DriftOps.updateValueHistogram(cur.filter(col("v") > 4),
      col("v"), cuts, curDir, 1L)
    assert(report(DriftOps.psiReportFromStores(spark, baseDir,
      curDir, cuts)) === inline)
    // the single-store fold agrees with a direct bucket count
    val hist = DriftOps.histogramFromStore(spark, curDir, cuts)
      .orderBy("bucket").as[(Int, Long)].collect().toSeq
    assert(hist === Seq((0, 1), (1, 2), (2, 2)))
    // an EMPTY batch (quiet day / empty micro-batch) appends a 0-row
    // delta that must poison nothing: reports unchanged, and the
    // streaming lineage guard's max-batch read stays null-safe
    assert(DriftOps.updateValueHistogram(cur.filter(col("v") < 0),
      col("v"), cuts, curDir, 2L) === 0L)
    assert(report(DriftOps.psiReportFromStores(spark, baseDir,
      curDir, cuts)) === inline)
    // a store written under DIFFERENT cuts must refuse to serve —
    // mixed bucket ids would yield a plausible but meaningless PSI
    DriftOps.updateValueHistogram(cur, col("v"), Seq(3.0, 8.0),
      curDir, 3L)
    intercept[IllegalArgumentException] {
      DriftOps.psiReportFromStores(spark, baseDir, curDir, cuts)
        .collect()
    }
    intercept[IllegalArgumentException] {
      DriftOps.histogramFromStore(spark, curDir, cuts).collect()
    }
  }

  test("psi contributions stay finite when a bucket share rounds " +
    "below 1e-6: smoothing feeds the log unrounded") {
    import graft.ext.DriftOps
    // 3M rows per side, each side's mass entirely in one bucket: the
    // empty side's smoothed share is (0+1)/(3e6+2) ≈ 3.3e-7, which
    // round(…,6) flattens to 0.0 — rounding BEFORE the log made
    // psi_contrib ±inf/NaN on any multi-million-row snapshot. The
    // shares must hit ln() unrounded; round(…,6) is display-only.
    val base = spark.range(3000000L).select(lit(0.0).as("v"))
    val cur = spark.range(3000000L).select(lit(1.0).as("v"))
    val rep = DriftOps.psiReport(base, cur, col("v"), Seq(0.5))
      .select("bucket", "psi_contrib", "psi_total")
      .as[(Int, Double, Double)].collect().toSeq.sortBy(_._1)
    assert(rep.size === 2)
    assert(rep.forall { case (_, c, t) =>
      !c.isNaN && !c.isInfinite && !t.isNaN && !t.isInfinite }, rep)
    // total ≈ 2 × ln(3e6) ≈ 29.8: a massive—but finite—alarm
    assert(rep.head._3 > 10.0 && rep.head._3 < 100.0, rep)
  }

  test("incremental bigram-count store: batched build ≡ one-shot " +
    "model, and a replayed batch changes no score") {
    val dir = java.nio.file.Files
      .createTempDirectory("graft-bgstore").toString
    val docs = Seq(
      (1L, "a b c a b"), (2L, "a c b"), (3L, "b c a b c"),
      (4L, "a b"), (5L, "c a"), (6L, "x")
    ).toDF("doc_id", "text")
    (0 until 3).foreach { i =>
      TextOps.updateBigramCounts(docs.filter(col("doc_id") % 3 === i),
        "doc_id", "text", dir, batchId = i)
    }
    def served = TextOps
      .bigramLmScoresFromStore(docs, "doc_id", "text", dir)
      .orderBy("doc_id")
      .select("doc_id", "n_bigrams", "lm_logprob")
      .as[(Long, Long, Double)].collect().toSeq
    val oneShot = TextOps.bigramLmScores(docs, "doc_id", "text")
      .orderBy("doc_id")
      .select("doc_id", "n_bigrams", "lm_logprob")
      .as[(Long, Long, Double)].collect().toSeq
    assert(served === oneShot)
    // at-least-once maintenance: re-appending batch 1 under the same
    // batch id dedups at serve time — nothing changes
    TextOps.updateBigramCounts(docs.filter(col("doc_id") % 3 === 1),
      "doc_id", "text", dir, batchId = 1)
    assert(served === oneShot)
    // scoring ONLY the new batch against the accumulated model is
    // the daily-maintenance read shape: per-doc rows equal the
    // one-shot scores of those docs
    val batchOnly = TextOps.bigramLmScoresFromStore(
        docs.filter(col("doc_id") % 3 === 2), "doc_id", "text", dir)
      .orderBy("doc_id")
      .select("doc_id", "n_bigrams", "lm_logprob")
      .as[(Long, Long, Double)].collect().toSeq
    assert(batchOnly === oneShot.filter(r => r._1 % 3 == 2))
  }

  test("incremental DSIR count store: batched build ≡ one-shot " +
    "weights, and a replayed batch changes nothing") {
    val dir = java.nio.file.Files
      .createTempDirectory("graft-dsirstore").toString
    val docs = Seq(
      (1L, "a b c a b", true), (2L, "a c b", false),
      (3L, "b c a b c", true), (4L, "a b", false),
      (5L, "c a", true), (6L, "x", false)
    ).toDF("doc_id", "text", "tgt")
    (0 until 3).foreach { i =>
      TextOps.updateDsirCounts(docs.filter(col("doc_id") % 3 === i),
        "doc_id", "text", col("tgt"), dir, batchId = i)
    }
    def served = TextOps.dsirWeightsFromStore(docs, "doc_id", "text",
        col("tgt"), dir)
      .orderBy("doc_id").select("doc_id", "n_feats", "dsir_logw")
      .as[(Long, Long, Double)].collect().toSeq
    val oneShot = TextOps.dsirWeights(docs, "doc_id", "text",
        col("tgt"))
      .orderBy("doc_id").select("doc_id", "n_feats", "dsir_logw")
      .as[(Long, Long, Double)].collect().toSeq
    assert(served === oneShot)
    TextOps.updateDsirCounts(docs.filter(col("doc_id") % 3 === 1),
      "doc_id", "text", col("tgt"), dir, batchId = 1)
    assert(served === oneShot)
  }

  test("count-store compaction folds the out-of-window tail without " +
    "changing any score; in-window replays still collapse") {
    val dir = java.nio.file.Files
      .createTempDirectory("graft-bgcompact").toString
    val docs = Seq(
      (1L, "a b c a b"), (2L, "a c b"), (3L, "b c a b c"),
      (4L, "a b"), (5L, "c a"), (6L, "b c"), (7L, "c b a"),
      (8L, "a c")
    ).toDF("doc_id", "text")
    (0 until 4).foreach { i =>
      TextOps.updateBigramCounts(docs.filter(col("doc_id") % 4 === i),
        "doc_id", "text", dir, batchId = i)
    }
    def served = TextOps
      .bigramLmScoresFromStore(docs, "doc_id", "text", dir)
      .orderBy("doc_id")
      .select("doc_id", "n_bigrams", "lm_logprob")
      .as[(Long, Long, Double)].collect().toSeq
    val before = served
    TextOps.compactBigramCounts(spark, dir, keepBatches = 2)
    assert(served === before)
    // batches 0 and 1 folded under the WATERMARK id (the newest
    // folded batch, r15 CountLog semantics); 2 and 3 keep theirs
    val ids = graft.io.CountLog.read(spark, dir, "bigram_counts")
      .select("__batch").distinct().as[Long].collect().toSet
    assert(ids === Set(1L, 2L, 3L))
    // the snapshot is a committed VersionedStore version with the
    // watermark in its marker
    assert(graft.io.CountLog.foldedThrough(spark, dir,
      "bigram_counts") === Some(1L))
    // an in-window replay (batch 3) still collapses at serve time
    TextOps.updateBigramCounts(docs.filter(col("doc_id") % 4 === 3),
      "doc_id", "text", dir, batchId = 3)
    assert(served === before)
    // and maintenance continues over the compacted store
    TextOps.updateBigramCounts(
      Seq((9L, "a b extra")).toDF("doc_id", "text"),
      "doc_id", "text", dir, batchId = 4)
    val after = TextOps
      .bigramLmScoresFromStore(docs, "doc_id", "text", dir)
      .count()
    assert(after === docs.filter(length(col("text")) > 1).count())
  }

  test("corpus-signal plans contain no gram-digest window — the " +
    "count/rank folds are groupBy aggregations (skew-splittable), " +
    "not window partitions") {
    val plans = Seq(
      DedupOps.corpusDupNgramShare(hotCorpus, "doc_id", "text", 5),
      DedupOps.dupSpanCoverage(hotCorpus, "doc_id", "text", 5),
      DedupOps.stripDupSpans(hotCorpus, "doc_id", "text", 5),
      TextOps.bigramLmScores(hotCorpus, "doc_id", "text"),
      TextOps.dsirWeights(hotCorpus, "doc_id", "text",
        col("doc_id") % 2 === 0))
    for (df <- plans) {
      val p = df.queryExecution.executedPlan.toString
      assert(!p.contains("windowspecdefinition"), p.take(2000))
      // the count folds keep map-side partial aggregation
      assert(p.contains("partial_"), p.take(2000))
    }
  }

  // ---------------- learned quality classifier ----------------

  private def round6(x: Double): BigDecimal =
    BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP)

  test("quality classifier separates curated-vocabulary docs from " +
    "raw-vocabulary docs, with exact NB log-odds arithmetic on the " +
    "bias / unseen-bucket paths") {
    import graft.ext.ClassifierOps
    // 3 curated + 2 raw training docs, disjoint vocabularies; 5
    // bigram occurrences per doc → np = 15, nn = 10, dp = 3, dn = 2
    val train = Seq(
      (1L, "the quick brown fox jumps high", true),
      (2L, "a calm clear morning walk today", true),
      (3L, "gentle rain falls on green hills", true),
      (4L, "buy cheap pills now click here", false),
      (5L, "win money fast casino bonus spin", false)
    ).toDF("doc_id", "text", "curated")
    val model = ClassifierOps.trainQualityClassifier(
      train, "doc_id", "text", col("curated"))
    assert(model.weights.count() <= 25, "≤ one bucket per train bigram")

    val score = Seq(
      (10L, "the quick brown fox"),        // curated vocabulary
      (11L, "buy cheap pills now"),        // raw vocabulary
      (12L, "zyxq wvut srqp"),             // unseen vocabulary
      (13L, "solo")                        // featureless (< 2 tokens)
    ).toDF("doc_id", "text")
    val out = ClassifierOps.scoreQuality(score, "doc_id", "text", model)
      .orderBy("doc_id")
      .select("doc_id", "n_feats", "quality_score", "quality_pass")
      .as[(Long, Long, Double, Boolean)].collect().toSeq

    val Seq(cur, raw, unseen, bare) = out
    // separation: curated vocab well above 0, raw vocab well below
    assert(cur._4 && cur._3 > 0.5, cur)
    assert(!raw._4 && raw._3 < -0.5, raw)
    assert(cur._3 > raw._3 + 2.0, (cur, raw))
    // exact arithmetic on the closed-form paths (4096 = default D):
    // bias b0 = ln(dp/dn); unseen-bucket weight w0 =
    // ln(1/(np+D)) - ln(1/(nn+D)) — both rounded to 6 decimals as
    // decimals, summed exactly
    val b0 = round6(math.log(3.0 / 2.0))
    val w0 = round6(math.log(1.0 / (15 + 4096)) -
      math.log(1.0 / (10 + 4096)))
    assert(bare == ((13L, 0L, b0.toDouble, b0 >= 0)), (bare, b0))
    val expUnseen = (b0 + w0 * 2).toDouble
    assert(unseen._2 == 2L && unseen._3 == expUnseen, (unseen, expUnseen))
  }

  test("quality classifier scoring plan: the weight join is a " +
    "BROADCAST (the hashing trick caps the model at numBuckets rows " +
    "regardless of corpus vocabulary)") {
    import graft.ext.ClassifierOps
    val train = Seq((1L, "a b c", true), (2L, "x y z", false))
      .toDF("doc_id", "text", "curated")
    val model = ClassifierOps.trainQualityClassifier(
      train, "doc_id", "text", col("curated"))
    val plan = ClassifierOps.scoreQuality(
        Seq((3L, "a b")).toDF("doc_id", "text"), "doc_id", "text", model)
      .queryExecution.executedPlan.toString
    // the WEIGHT join must broadcast (the hashing trick's whole
    // point); the doc-grain left join back to `docs` is deliberately
    // NOT pinned — both of its sides are corpus-grain, so at scale it
    // is a legitimate shuffle join (in this toy its initial-plan
    // shape just tracks size ESTIMATES, which moved when the bucket
    // expression went native and stopped projecting after the
    // explode; AQE still finalizes tiny sides as broadcasts)
    val weightJoin = plan.linesIterator
      .filter(l => l.contains("BroadcastHashJoin") ||
        l.contains("BroadcastNestedLoopJoin"))
    assert(weightJoin.exists(_.contains("__b")), plan.take(2000))
    assert(!plan.linesIterator.exists(l =>
      l.contains("SortMergeJoin") && l.contains("__b#")),
      plan.take(2000))
  }

  test("incremental classifier count store: batched build ≡ one-shot " +
    "model, and a replayed batch changes no score") {
    import graft.ext.ClassifierOps
    val dir = java.nio.file.Files
      .createTempDirectory("graft-clfstore").toString
    val train = Seq(
      (1L, "the quick brown fox jumps high", true),
      (2L, "a calm clear morning walk today", true),
      (3L, "gentle rain falls on green hills", true),
      (4L, "buy cheap pills now click here", false),
      (5L, "win money fast casino bonus spin", false)
    ).toDF("doc_id", "text", "curated")
    // batches {3}, {1, 4}, {2, 5} — some one-class deltas, which the
    // store must carry fine (only the folded MODEL needs both classes)
    (0 until 3).foreach { i =>
      ClassifierOps.updateClassifierCounts(
        train.filter(col("doc_id") % 3 === i),
        "doc_id", "text", col("curated"), dir, batchId = i)
    }
    val score = Seq(
      (10L, "the quick brown fox"), (11L, "buy cheap pills now"),
      (12L, "zyxq wvut srqp"), (13L, "solo")
    ).toDF("doc_id", "text")
    val oneShot = ClassifierOps.scoreQuality(score, "doc_id", "text",
        ClassifierOps.trainQualityClassifier(
          train, "doc_id", "text", col("curated")))
      .orderBy("doc_id")
      .select("doc_id", "n_feats", "quality_score", "quality_pass")
      .as[(Long, Long, Double, Boolean)].collect().toSeq
    def served = ClassifierOps.scoreQuality(score, "doc_id", "text",
        ClassifierOps.classifierFromStore(spark, dir))
      .orderBy("doc_id")
      .select("doc_id", "n_feats", "quality_score", "quality_pass")
      .as[(Long, Long, Double, Boolean)].collect().toSeq
    assert(served === oneShot)
    // at-least-once maintenance: a replayed batch id collapses at
    // serve — no count doubles, no score moves
    ClassifierOps.updateClassifierCounts(
      train.filter(col("doc_id") % 3 === 1),
      "doc_id", "text", col("curated"), dir, batchId = 1)
    assert(served === oneShot)
  }

  test("learned lang-ID beats the marker heuristic on accented and " +
    "short docs; featureless docs fall back to the prior argmax") {
    import graft.ext.{ClassifierOps, TextOps}
    // training: orthography-distinctive text per language — the char
    // trigrams carry the signal (accents, digraphs), no stopword
    // needed
    val train = Seq(
      (1L, "der schnelle braune fuchs springt über den faulen hund", "de"),
      (2L, "die müden väter hören schöne grüne vögel über uns", "de"),
      (3L, "straße größe weiß müller schön führung bücher", "de"),
      (4L, "le renard brun rapide saute par dessus le chien", "fr"),
      (5L, "les élèves écoutent très attentivement la leçon française", "fr"),
      (6L, "été déjà voilà château forêt cœur garçon français", "fr"),
      (7L, "the quick brown fox jumps over the lazy dog", "en"),
      (8L, "a calm clear morning walk through the green hills", "en"),
      (9L, "quick thinking wins the morning chess match", "en")
    ).toDF("doc_id", "text", "lang")
    val model = ClassifierOps.trainLangId(train, "doc_id", "text",
      "lang", numBuckets = 4096)
    // score: SHORT accented docs with not a single marker stopword —
    // the heuristic's blind spot (it needs der/die/le/la/the…)
    val score = Seq(
      (10L, "größte bücher schöner"),   // de orthography, no markers
      (11L, "élève château déjà"),      // fr orthography, no markers
      (12L, "quick morning chess"),     // en vocabulary, no markers
      (13L, "zz")                       // featureless (< 3 chars)
    ).toDF("doc_id", "text")
    val learned = ClassifierOps.classifyLang(score, "doc_id", "text",
        model)
      .orderBy("doc_id").select("doc_id", "lang_pred")
      .as[(Long, String)].collect().toMap
    assert(learned(10L) == "de" && learned(11L) == "fr" &&
      learned(12L) == "en", learned)
    // the marker heuristic returns undetermined on every one of them
    val heur = score.select(col("doc_id"),
        TextOps.langId(col("text")).as("l"))
      .as[(Long, String)].collect().toMap
    assert(Seq(10L, 11L, 12L).forall(heur(_) == "und"), heur)
    // featureless doc: prior argmax (3-way tie on doc counts →
    // smallest language code)
    assert(learned(13L) == "de", learned)
    // every doc gets exactly one row
    assert(ClassifierOps.classifyLang(score, "doc_id", "text", model)
      .count() == 4)
  }

  test("learned lang-ID scoring plan: weights ride a broadcast, the " +
    "corpus repartitions on the doc id ONCE, and no " +
    "BroadcastNestedLoopJoin touches the corpus grid (the r16 " +
    "matched-rows-only reshape)") {
    import graft.ext.ClassifierOps
    val train = Seq((1L, "abc def", "en"), (2L, "zyx wvu", "de"))
      .toDF("doc_id", "text", "lang")
    val model = ClassifierOps.trainLangId(train, "doc_id", "text",
      "lang")
    val plan = ClassifierOps.classifyLang(train, "doc_id", "text",
      model).queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), plan.take(2000))
    // the scoring grid assembles via literal explode + doc-id join —
    // the crossJoin(BroadcastNestedLoopJoin) shape that lost the
    // corpus partitioning (and re-shuffled docs × L twice) must not
    // come back
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan.take(2000))
    // ONE corpus-grain repartition feeds every classify fold
    assert(plan.linesIterator
      .count(_.contains("REPARTITION_BY_COL")) <= 2, plan.take(2000))
  }

  test("incremental lang-ID count store: batched build ≡ one-shot " +
    "model, a replayed batch changes no prediction, and compaction " +
    "changes nothing") {
    import graft.ext.ClassifierOps
    val dir = java.nio.file.Files
      .createTempDirectory("graft-langstore").toString
    val train = Seq(
      (1L, "der schnelle braune fuchs springt hoch", "de"),
      (2L, "die müden väter hören schöne grüne vögel", "de"),
      (3L, "le renard brun rapide saute par dessus", "fr"),
      (4L, "les élèves écoutent très attentivement", "fr"),
      (5L, "the quick brown fox jumps over the dog", "en"),
      (6L, "a calm clear morning walk through hills", "en")
    ).toDF("doc_id", "text", "lang")
    // batches {3, 6}, {1, 4}, {2, 5} — each misses some language in
    // some batch; only the folded MODEL needs them all
    (0 until 3).foreach { i =>
      ClassifierOps.updateLangIdCounts(
        train.filter(col("doc_id") % 3 === i),
        "doc_id", "text", "lang", dir, batchId = i)
    }
    val score = Seq(
      (10L, "größte bücher schöner"), (11L, "élève château déjà"),
      (12L, "quick morning chess"), (13L, "zz")
    ).toDF("doc_id", "text")
    val oneShot = ClassifierOps.classifyLang(score, "doc_id", "text",
        ClassifierOps.trainLangId(train, "doc_id", "text", "lang"))
      .orderBy("doc_id").select("doc_id", "lang_pred", "lang_score")
      .as[(Long, String, Double)].collect().toSeq
    def served = ClassifierOps.classifyLang(score, "doc_id", "text",
        ClassifierOps.langIdFromStore(spark, dir))
      .orderBy("doc_id").select("doc_id", "lang_pred", "lang_score")
      .as[(Long, String, Double)].collect().toSeq
    assert(served === oneShot)
    // at-least-once maintenance: a replayed batch id collapses
    ClassifierOps.updateLangIdCounts(
      train.filter(col("doc_id") % 3 === 1),
      "doc_id", "text", "lang", dir, batchId = 1)
    assert(served === oneShot)
    // compaction (the shared CountLog protocol): predictions
    // bit-identical after folding the old batches into a snapshot
    ClassifierOps.compactLangIdCounts(spark, dir, keepBatches = 1)
    assert(served === oneShot)
  }

  test("lang-ID store guards: a half-written batch (bucket rows " +
    "without that language's sentinel) refuses to serve; a " +
    "numBuckets mismatch fails append AND serve") {
    import graft.ext.ClassifierOps
    val dir = java.nio.file.Files
      .createTempDirectory("graft-langstore-guard").toString
    val train = Seq((1L, "der schnelle braune fuchs", "de"),
      (2L, "the quick brown fox", "en")).toDF("doc_id", "text", "lang")
    ClassifierOps.updateLangIdCounts(train, "doc_id", "text", "lang",
      dir, batchId = 0)
    // forge the half-written window: batch 1's bucket rows land but
    // the 'en' sentinel row is missing
    val forged = graft.io.CountLog.read(spark, dir, "langid_counts")
      .filter(col("__batch") === 0)
      .filter(!(col("__b") === -1L && col("__lang") === "en"))
      .withColumn("__batch", org.apache.spark.sql.functions.lit(1L))
    graft.io.CountLog.append(forged, dir, "langid_counts")
    val e = intercept[IllegalArgumentException] {
      ClassifierOps.langIdFromStore(spark, dir)
    }
    assert(e.getMessage.contains("sentinel"), e.getMessage)
    // numBuckets mismatch: both directions fail against the marker
    val e2 = intercept[IllegalArgumentException] {
      ClassifierOps.updateLangIdCounts(train, "doc_id", "text",
        "lang", dir, batchId = 2, numBuckets = 2048)
    }
    assert(e2.getMessage.contains("numBuckets"), e2.getMessage)
    val e3 = intercept[IllegalArgumentException] {
      ClassifierOps.langIdFromStore(spark, dir, numBuckets = 2048)
    }
    assert(e3.getMessage.contains("numBuckets"), e3.getMessage)
  }
}
