package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.ext.DedupOps

class DedupSpec extends SparkSpec {
  import spark.implicits._

  private val docs = Seq(
    (1L, "the quick brown fox jumps over the lazy dog near the river bank today"),
    (2L, "the quick brown fox jumps over the lazy dog near the river bank now"),
    (3L, "completely different content about spark distributed query engines and shuffles"),
    (4L, "the quick brown fox jumps over the lazy dog near the river bank today"),
    (5L, "unrelated text mentioning neither foxes nor dogs just tables and joins here")
  ).toDF("doc_id", "text")

  test("exactDedupByHash keeps min-id survivor per identical text") {
    val out = DedupOps.exactDedupByHash(docs, "doc_id", "text")
    val ids = out.select("doc_id").as[Long].collect().toSet
    assert(ids == Set(1L, 2L, 3L, 5L)) // 4 is an exact dup of 1
  }

  test("exactDupGroups counts copies") {
    val g = DedupOps.exactDupGroups(docs, "doc_id", "text")
      .filter($"n_copies" > 1).head()
    assert(g.getAs[Long]("keep_id") == 1L)
    assert(g.getAs[Long]("n_copies") == 2L)
  }

  test("minhash LSH surfaces the planted near-dup pair") {
    val pairs = DedupOps.minhashNearDupPairs(docs, "doc_id", "text",
        shingleSize = 3, numHashes = 64, bands = 32, threshold = 0.5)
      .collect()
    val keys = pairs.map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b")))
    // 1-2 near-dup (one word differs), 1-4 and 2-4 exact-dup-level
    assert(keys.contains((1L, 2L)))
    assert(keys.contains((1L, 4L)))
    val est14 = pairs.find(r => r.getAs[Long]("id_a") == 1L &&
      r.getAs[Long]("id_b") == 4L).get.getAs[Double]("est_jaccard")
    assert(est14 == 1.0) // identical docs → identical signatures
    // unrelated docs never pair with the fox docs above threshold
    assert(!keys.exists(k => k._1 == 3L || k._2 == 3L))
  }

  test("minhash estimate correlates with exact jaccard") {
    val pairs = DedupOps.minhashNearDupPairs(docs, "doc_id", "text",
        shingleSize = 2, numHashes = 64, bands = 32, threshold = 0.0)
      .collect()
    pairs.foreach { r =>
      val est = r.getAs[Double]("est_jaccard")
      val exact = r.getAs[Double]("jaccard")
      assert(math.abs(est - exact) < 0.45,
        s"minhash estimate $est too far from exact $exact")
    }
  }

  test("uncapped token-level minhash has recall 1 vs exact jaccard " +
    "(the dedup_minhash_verified contract)") {
    // richer corpus: clusters of token-set near-dups plus noise docs
    val corpus = (
      (1 to 8).map(i => (i.toLong,
        "alpha beta gamma delta epsilon zeta eta theta iota kappa " +
          (if (i % 2 == 0) "lambda" else "mu"))) ++
      (9 to 12).map(i => (i.toLong,
        s"totally distinct content number $i about nothing shared")) ++
      Seq((13L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"))
    ).toDF("doc_id", "text")
    val t = 0.8
    // exact ground truth: all-pairs token-set jaccard in Spark itself
    val ts = corpus.select($"doc_id",
      array_distinct(graft.ext.TextOps.tokens($"text")).as("ts"))
    val exact = ts.as("a").join(ts.as("b"),
        col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"),
        (size(array_intersect($"a.ts", $"b.ts")).cast("double") /
          (size($"a.ts") + size($"b.ts") -
            size(array_intersect($"a.ts", $"b.ts")))).as("j"))
      .filter(round($"j", 6) >= t)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(exact.nonEmpty)
    // shingleSize=1 + uncapped buckets: banding estimates the SAME
    // token-set jaccard being verified → every pair at j >= t shares
    // a band and survives verification — set equality, not just recall
    val got = DedupOps.minhashNearDupPairs(corpus, "doc_id", "text",
        shingleSize = 1, numHashes = 64, bands = 16, threshold = t,
        maxBucketSize = Int.MaxValue)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(got == exact, s"verified=$got exact=$exact")
  }

  test("minhashNearDupPairsFromSigs on a parquet-round-tripped " +
    "signature store equals the inline run bit-for-bit") {
    val inline = DedupOps.minhashNearDupPairs(docs, "doc_id", "text",
        shingleSize = 2, numHashes = 64, bands = 32, threshold = 0.0)
      .select("id_a", "id_b", "est_jaccard", "jaccard")
      .as[(Long, Long, Double, Double)].collect().toSet
    val dir = java.nio.file.Files
      .createTempDirectory("graft_sigstore_spec").toString
    DedupOps.buildSignatureTable(docs, "doc_id", "text",
        shingleSize = 2, numHashes = 64)
      .write.mode("overwrite").parquet(s"$dir/sigs")
    val stored = DedupOps.minhashNearDupPairsFromSigs(
        spark.read.parquet(s"$dir/sigs"),
        bands = 32, rowsPerBand = 2, threshold = 0.0)
      .select("id_a", "id_b", "est_jaccard", "jaccard")
      .as[(Long, Long, Double, Double)].collect().toSet
    assert(stored == inline)
    assert(inline.nonEmpty)
  }

  test("prefixFilterJaccardPairs equals the exhaustive all-pairs " +
    "exact jaccard — set equality, not just recall") {
    // mixed corpus: near-dup clusters, exact dups, disjoint docs,
    // size-mismatched docs (exercises the size filter), and docs
    // sharing only COMMON tokens (exercises the rare-first prefix)
    val corpus = (
      (1 to 6).map(i => (i.toLong,
        "alpha beta gamma delta epsilon zeta eta theta iota " +
          (if (i % 2 == 0) "kappa" else "lambda"))) ++
      Seq(
        (20L, "alpha beta gamma delta epsilon zeta eta theta iota"),
        (21L, "alpha beta"), // subset, size-filtered at high t
        (30L, "totally different words about query planning fun"),
        (31L, "totally different words about query planning fun"),
        (40L, "the and of to in a is it")) // all-common tokens
    ).toDF("doc_id", "text")
    for (t <- Seq(0.5, 0.8)) {
      val ts = corpus.select($"doc_id",
        array_distinct(graft.ext.TextOps.tokens($"text")).as("ts"))
      val exact = ts.as("a").join(ts.as("b"),
          col("a.doc_id") < col("b.doc_id"))
        .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"),
          round(size(array_intersect($"a.ts", $"b.ts")).cast("double") /
            (size($"a.ts") + size($"b.ts") -
              size(array_intersect($"a.ts", $"b.ts"))), 6).as("j"))
        .filter($"j" >= t)
        .select("id_a", "id_b").as[(Long, Long)].collect().toSet
      val got = DedupOps.prefixFilterJaccardPairs(
          corpus, "doc_id", "text", threshold = t)
        .select("id_a", "id_b").as[(Long, Long)].collect().toSet
      assert(got == exact,
        s"t=$t: got=${got.size} exact=${exact.size}; " +
          s"missing=${(exact -- got).take(5)} extra=${(got -- exact).take(5)}")
      assert(exact.nonEmpty, s"t=$t ground truth empty — weak corpus")
    }
    // borderline exactness: 4-of-5 overlap = jaccard 4/6 ≈ 0.666667
    // rounds UP to the 0.666667 threshold — the relaxed candidate
    // threshold must let verification see it
    val edge = Seq(
      (1L, "a b c d e"), (2L, "a b c d f")).toDF("doc_id", "text")
    val hit = DedupOps.prefixFilterJaccardPairs(
        edge, "doc_id", "text", threshold = 0.666667)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(hit == Set((1L, 2L)))
  }

  test("prefixFilterJaccardPairs maxBucketSize cap: lossless while " +
    "slack, documented drop semantics when it binds") {
    // t=0.3 on 3-token docs → prefix length 3 - ceil(0.9) + 1 = 3:
    // the WHOLE doc is prefix, so the two corpus-hot tokens (h1, h2)
    // enter every hot doc's postings — the low-threshold shape the
    // scaladoc's threshold↔hotness note describes. Hot pairs share
    // ONLY hot prefix tokens; the rare pair (100, 101) shares rare
    // ones (df=2 postings).
    val t = 0.3
    val corpus = (
      (1 to 8).map(i => (i.toLong, s"h1 h2 u$i")) ++ // J=2/4=0.5 pairwise
      Seq((100L, "r1 r2 c3"), (101L, "r1 r2 d3"))    // J=0.5, rare tokens
    ).toDF("doc_id", "text")
    val hotPairs = (for {
      a <- 1 to 8; b <- (a + 1) to 8 } yield (a.toLong, b.toLong)).toSet
    val allPairs = hotPairs + ((100L, 101L))
    // (a) cap present but NOT binding (every posting ≤ 100): the
    // exactness contract holds — identical to the uncapped run
    val slack = DedupOps.prefixFilterJaccardPairs(
        corpus, "doc_id", "text", t, maxBucketSize = 100)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(slack == allPairs, s"slack cap lost pairs: ${allPairs -- slack}")
    // (b) cap binds on h1/h2 (postings of 8 > 4): every hot pair's
    // shared prefix tokens are ALL over the cap → dropped; the rare
    // pair survives through its size-2 postings — one surviving
    // shared rare token is enough
    val capped = DedupOps.prefixFilterJaccardPairs(
        corpus, "doc_id", "text", t, maxBucketSize = 4)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(capped == Set((100L, 101L)),
      s"capped run: expected only the rare pair, got $capped")
  }

  test("containmentPairsPrefix equals the exhaustive all-pairs exact " +
    "containment — set equality, including the doc-in-doc pairs " +
    "Jaccard misses") {
    // mixed corpus: a short doc wholly contained in a long one
    // (Jaccard ≈ 0), near-dup cluster, disjoint docs, a 1-token doc
    // (the output-bound degenerate fan-out case), and docs sharing
    // only COMMON tokens (exercises the rare-first prefix order)
    val corpus = (
      (1 to 5).map(i => (i.toLong,
        "alpha beta gamma delta epsilon zeta eta theta iota " +
          (if (i % 2 == 0) "kappa" else "lambda"))) ++
      Seq(
        (20L, "alpha beta gamma"),          // contained in 1..5 and 21
        (21L, "alpha beta gamma delta epsilon zeta eta theta iota " +
          "kappa lambda mu nu xi omicron pi rho sigma tau upsilon"),
        (30L, "totally different words about query planning fun"),
        (31L, "planning"),                   // 1-token, contained in 30
        (40L, "the and of to in a is it"))
    ).toDF("doc_id", "text")
    for (t <- Seq(0.6, 0.9)) {
      val ts = corpus.select($"doc_id",
        array_distinct(graft.ext.TextOps.tokens($"text")).as("ts"))
      val exact = ts.as("a").join(ts.as("b"),
          col("a.doc_id") < col("b.doc_id"))
        .withColumn("__i",
          size(array_intersect($"a.ts", $"b.ts")).cast("double"))
        .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"),
          round($"__i" / size($"a.ts"), 6).as("ca"),
          round($"__i" / size($"b.ts"), 6).as("cb"))
        .filter($"ca" >= t || $"cb" >= t)
        .select("id_a", "id_b", "ca", "cb")
        .as[(Long, Long, Double, Double)].collect().toSet
      val got = DedupOps.containmentPairsPrefix(
          corpus, "doc_id", "text", minContainment = t)
        .select("id_a", "id_b", "containment_a", "containment_b")
        .as[(Long, Long, Double, Double)].collect().toSet
      assert(got == exact,
        s"t=$t: got=${got.size} exact=${exact.size}; " +
          s"missing=${(exact -- got).take(5)} extra=${(got -- exact).take(5)}")
      assert(exact.nonEmpty, s"t=$t ground truth empty — weak corpus")
      // the doc-in-doc pair is the one the measure exists for
      assert(got.exists(p => p._1 == 20L || p._2 == 20L), got)
    }
    // borderline exactness: containment 2/3 = 0.666667 after rounding
    // meets the 0.666667 threshold — the relaxed candidate threshold
    // must let verification see the round-up
    val edge = Seq(
      (1L, "a b c"), (2L, "a b d e f")).toDF("doc_id", "text")
    val hit = DedupOps.containmentPairsPrefix(
        edge, "doc_id", "text", minContainment = 0.666667)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(hit == Set((1L, 2L)))
  }

  test("containmentPairsPrefix finds the pair the block-capped form " +
    "provably drops — the uncapped scale path") {
    // one (lang, source) block of 3 docs with the cap at 2: the
    // capped form drops the WHOLE block (accounted, but dropped);
    // the prefix form has no blocks and no caps, so the doc-in-doc
    // pair must surface
    val d = Seq(
      (1L, "en", "web", "alpha beta gamma delta epsilon zeta"),
      (2L, "en", "web", "alpha beta gamma delta epsilon zeta eta " +
        "theta iota kappa"),
      (3L, "en", "web", "unrelated totally different words entirely")
    ).toDF("doc_id", "lang", "source", "text")
    val capped = DedupOps.containmentPairs(d, "doc_id", "text",
        Seq("lang", "source"), minContainment = 0.9, maxBlockSize = 2)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(capped.isEmpty)
    val stats = DedupOps.droppedBlockStats(d, Seq("lang", "source"),
        maxBlockSize = 2)
      .as[(Long, Long)].head()
    assert(stats == ((1L, 3L))) // the drop is accounted, not silent
    val exact = DedupOps.containmentPairsPrefix(d, "doc_id", "text",
        minContainment = 0.9)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(exact == Set((1L, 2L))) // containment_a = 6/6 = 1.0
  }

  test("duplicateClusters finds transitive components with min-id reps") {
    // components: {1,2,3,7} via chain 1-2, 2-3, 3-7; {5,9}; pair list
    // never contains (1,7) etc. — only the closure connects them
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 7L), (5L, 9L))
      .toDF("id_a", "id_b")
    val out = DedupOps.duplicateClusters(pairs)
      .as[(Long, Long)].collect().toMap
    assert(out == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 7L -> 1L,
      5L -> 5L, 9L -> 5L))
    // a long chain exceeds a tiny maxIter → loud failure, not a wrong
    // labeling
    val chain = (1L until 12L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    intercept[IllegalStateException] {
      DedupOps.duplicateClusters(chain, maxIter = 2)
    }
    // and converges fine with the default budget
    val full = DedupOps.duplicateClusters(chain)
      .as[(Long, Long)].collect().toMap
    assert(full.values.toSet == Set(1L) && full.size == 12)
  }

  test("duplicateClusters closes a 2000-vertex path graph within the " +
    "default superstep budget (pointer jumping: O(log diameter), " +
    "where plain propagation would cover only ~75 hops)") {
    // the r9 sf1 regression shape: a capped LSH pair graph degrades
    // the mega-cluster into long thin chains
    val path = (1L until 2000L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val out = DedupOps.duplicateClusters(path)
      .as[(Long, Long)].collect().toMap
    assert(out.size == 2000 && out.values.toSet == Set(1L))
  }

  test("degenerate corpus: hot LSH buckets and hot blocks stay capped — " +
    "pair counts bounded, wall-time flat") {
    // adversarial shape at stress size: HALF the corpus is one
    // boilerplate text (→ identical signatures → every band lands 50%
    // of docs in ONE bucket), the rest is diverse. Uncapped, the hot
    // bucket alone contributes n²/8 ≈ 12.5M candidate pairs; the cap
    // must keep both the pair count and the wall-time at the diverse
    // corpus's order of magnitude.
    val n = 10000
    val boiler = "identical boilerplate text repeated across half of " +
      "the whole corpus in every single row"
    def corpus(degenerate: Boolean) = {
      val uniq = concat_ws(" ", (0 until 12).map(k =>
        concat(lit(s"w${k}_"), pmod($"doc_id" * (k + 7), lit(99991)))): _*)
      spark.range(n).toDF("doc_id").select($"doc_id",
        (if (degenerate) when($"doc_id" % 2 === 0, lit(boiler)).otherwise(uniq)
         else uniq).as("text"))
    }
    def timed[A](f: => A): (A, Double) = {
      val t0 = System.nanoTime(); val r = f; (r, (System.nanoTime() - t0) / 1e9)
    }
    // minhash: hot buckets (> maxBucketSize=50) are dropped, so the
    // 5000-identical-doc cluster contributes ZERO candidate pairs and
    // survivors are bounded by small-bucket combinatorics
    val (degPairs, tDeg) = timed(DedupOps.minhashNearDupPairs(
      corpus(degenerate = true), "doc_id", "text", threshold = 0.5).count())
    val (divPairs, tDiv) = timed(DedupOps.minhashNearDupPairs(
      corpus(degenerate = false), "doc_id", "text", threshold = 0.5).count())
    assert(degPairs < 10000L,
      s"degenerate corpus emitted $degPairs pairs — hot-bucket cap broken")
    // wall-time flat: the degenerate run must stay within noise range
    // of the diverse run, nowhere near the ~1000× of an uncapped n²/8
    assert(tDeg <= 5 * math.max(tDiv, 2.0),
      s"degenerate $tDeg s vs diverse $tDiv s — quadratic blowup")
    info(f"minhash degenerate: $degPairs pairs in $tDeg%.1f s; " +
      f"diverse: $divPairs pairs in $tDiv%.1f s")

    // ngram-jaccard blocking: one (lang, source) block holds 50% of
    // docs → over maxBlockSize → dropped, never joined quadratically
    val blocked = corpus(degenerate = true).select($"doc_id", $"text",
      when($"doc_id" % 2 === 0, lit("xx")).otherwise(
        concat(lit("lang_"), pmod($"doc_id", lit(200)))).as("lang"))
    val (nPairs, tNg) = timed(DedupOps.ngramJaccardPairs(
      blocked, "doc_id", "text", Seq("lang"), maxBlockSize = 100).count())
    // odd doc_ids hit only odd residues mod 200 → 100 surviving blocks
    // of 50 docs → exactly 100 × C(50,2) = 122500 within-block pairs;
    // the hot block's C(5000,2) ≈ 12.5M pairs must contribute NOTHING
    assert(nPairs <= 100L * 1225,
      s"ngram blocking emitted $nPairs pairs — hot-block cap broken")
    assert(tNg <= 5 * math.max(tDiv, 2.0),
      s"ngram blocked run took $tNg s — quadratic blowup")
    info(f"ngram blocked: $nPairs pairs in $tNg%.1f s")
  }

  test("simhash: near-dups within small hamming distance, unrelated far") {
    // distinct tokens: the pipeline's set semantics (simhashNearDupPairs)
    val sigs = docs.select($"doc_id",
      DedupOps.simhash(org.apache.spark.sql.functions.array_distinct(
        graft.ext.TextOps.tokens($"text"))).as("sig"))
      .as[(Long, Long)].collect().toMap
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(ham(sigs(1L), sigs(4L)) == 0) // identical text
    val near = ham(sigs(1L), sigs(2L)) // one word differs
    val far = ham(sigs(1L), sigs(3L)) // unrelated
    // tiny docs make simhash noisy; the ordering must still hold
    assert(near < far, s"near=$near far=$far")
    val pairs = DedupOps.simhashNearDupPairs(docs, "doc_id", "text",
        maxDistance = near)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((1L, 4L)) && pairs.contains((1L, 2L)))
    assert(!pairs.contains((1L, 3L)))
  }

  test("incrementalMinhashDedup drops cross-batch near-dups via the " +
    "persisted index") {
    val indexDir = java.nio.file.Files
      .createTempDirectory("graft-incdedup").toString
    val base = "the quick brown fox jumps over the lazy dog and then " +
      "runs far away into the deep dark forest tonight"
    val batch1 = Seq(
      (1L, base),
      (2L, "completely different content about databases and query " +
        "engines running distributed aggregation plans at scale"))
      .toDF("doc_id", "text")
    val s1 = DedupOps.incrementalMinhashDedup(batch1, "doc_id", "text",
      indexDir, threshold = 0.7)
    assert(s1.select("doc_id").as[Long].collect().sorted.toSeq ==
      Seq(1L, 2L))

    val batch2 = Seq(
      (10L, base),  // exact dup of accepted doc 1 → dropped
      (11L, "fresh unrelated text describing mountains rivers valleys " +
        "and the long winding hiking trails between them all summer"),
      (12L, "fresh unrelated text describing mountains rivers valleys " +
        "and the long winding hiking trails between them all summer"))
      .toDF("doc_id", "text") // 11/12 near-dup within batch → keep 11
    val s2 = DedupOps.incrementalMinhashDedup(batch2, "doc_id", "text",
      indexDir, threshold = 0.7)
    assert(s2.select("doc_id").as[Long].collect().sorted.toSeq ==
      Seq(11L))

    // batch 3: near-dup of a batch-2 SURVIVOR → the index grew
    val batch3 = Seq((20L, "fresh unrelated text describing mountains " +
      "rivers valleys and the long winding hiking trails between them " +
      "all summer")).toDF("doc_id", "text")
    val s3 = DedupOps.incrementalMinhashDedup(batch3, "doc_id", "text",
      indexDir, threshold = 0.7)
    assert(s3.isEmpty)
    // the index only holds accepted docs (1, 2, 11)
    val indexed = graft.io.Staging.readTable(spark, indexDir, "sig_store")
      .select("doc_id").as[Long].collect().sorted.toSeq
    assert(indexed == Seq(1L, 2L, 11L))
  }

  test("incrementalMinhashDedup: a LEGACY (unsorted, unstamped) " +
    "sig_store is defensively re-sorted on load — near-dups of " +
    "indexed docs are still dropped") {
    val indexDir = java.nio.file.Files
      .createTempDirectory("graft-incdedup-legacy").toString
    val base = "the quick brown fox jumps over the lazy dog and then " +
      "runs far away into the deep dark forest tonight"
    val batch1 = Seq((1L, base)).toDF("doc_id", "text")
    DedupOps.incrementalMinhashDedup(batch1, "doc_id", "text",
      indexDir, threshold = 0.7).collect()
    // a freshly created index is stamped with the sorted format
    assert(graft.io.Staging.readMarker(spark, indexDir, "sig_format")
      .contains(DedupOps.SigStoreFormat))

    // forge a PRE-r13 store: reverse every __tokset (descending =
    // unsorted) and remove the format marker. Rows collected to the
    // driver first — rewriting a parquet dir from a plan that reads
    // it is undefined.
    val legacyRows = graft.io.Staging
      .readTable(spark, indexDir, "sig_store")
      .select($"doc_id", reverse($"__tokset").as("__tokset"), $"__sig")
      .collect().toSeq
    val legacy = spark.createDataFrame(
      spark.sparkContext.parallelize(legacyRows),
      graft.io.Staging.readTable(spark, indexDir, "sig_store").schema)
    graft.io.Staging.overwriteParquet(legacy, indexDir, "sig_store")
    new java.io.File(s"$indexDir/_graft_sig_format").delete()
    assert(graft.io.Staging.readMarker(spark, indexDir, "sig_format")
      .isEmpty)

    // an exact dup of indexed doc 1 MUST still verify and drop —
    // without the defensive sort the sorted-merge kernel undercounts
    // the reversed tokset and the duplicate silently survives
    val batch2 = Seq((10L, base)).toDF("doc_id", "text")
    val s2 = DedupOps.incrementalMinhashDedup(batch2, "doc_id", "text",
      indexDir, threshold = 0.7)
    assert(s2.isEmpty)
    // and the legacy store is NOT retroactively stamped (its old
    // rows stay unsorted on disk; every future load keeps the guard)
    assert(graft.io.Staging.readMarker(spark, indexDir, "sig_format")
      .isEmpty)
  }

  test("ngramJaccardPairs drops blocks over maxBlockSize instead of " +
    "exploding quadratically") {
    // one hot 5-doc block over the cap → zero pairs, not C(5,2)
    val hot = docs.withColumn("lang", lit("en"))
      .withColumn("source", lit("s"))
    assert(DedupOps.ngramJaccardPairs(hot, "doc_id", "text",
      Seq("lang", "source"), maxBlockSize = 4).count() == 0)
    // mixed: the small block still pairs, the oversized one is dropped
    val mixed = docs.withColumn("lang",
        when($"doc_id" <= 2, "en").otherwise("de"))
      .withColumn("source", lit("s"))
    val out = DedupOps.ngramJaccardPairs(mixed, "doc_id", "text",
      Seq("lang", "source"), maxBlockSize = 2)
    assert(out.select("id_a", "id_b").as[(Long, Long)].collect().toSet
      == Set((1L, 2L)))
  }

  test("ngramJaccardPairs computes exact set jaccard within blocks") {
    val blocked = docs.withColumn("lang", lit("en"))
      .withColumn("source", lit("s"))
    val out = DedupOps.ngramJaccardPairs(blocked, "doc_id", "text",
      Seq("lang", "source"))
    assert(out.count() == 10) // C(5,2)
    val j14 = out.filter($"id_a" === 1 && $"id_b" === 4)
      .select("jaccard").as[Double].head()
    assert(j14 == 1.0)
  }

  test("incrementalExactDedup: first-arrival-wins across batches, " +
    "min-id within a batch, replay appends nothing") {
    val dir = java.nio.file.Files
      .createTempDirectory("graft-incexact").toString
    val b1 = Seq(
      (10L, "alpha beta gamma"),
      (12L, "alpha beta gamma"),     // within-batch dup → 10 survives
      (11L, "delta epsilon")
    ).toDF("doc_id", "text")
    val b2 = Seq(
      (2L, "alpha beta gamma"),      // SMALLER id but LATER arrival →
                                     // dropped (10 already accepted)
      (3L, "zeta eta")
    ).toDF("doc_id", "text")
    val s1 = DedupOps.incrementalExactDedup(b1, "doc_id", "text", dir)
      .select("doc_id").as[Long].collect().sorted.toSeq
    assert(s1 === Seq(10L, 11L))
    val s2 = DedupOps.incrementalExactDedup(b2, "doc_id", "text", dir)
      .select("doc_id").as[Long].collect().sorted.toSeq
    assert(s2 === Seq(3L))
    val idxAfter = graft.io.Staging
      .readTable(spark, dir, "digest_index").distinct().count()
    assert(idxAfter === 3L) // alpha…, delta…, zeta…
    // replayed batch 2: a survivor matches only its OWN index row
    // (self-exclusion), so the replay re-emits exactly the original
    // survivors — a crashed run reproduces its output instead of
    // losing it — and the duplicate appends change no decision
    val s2r = DedupOps.incrementalExactDedup(b2, "doc_id", "text", dir)
      .select("doc_id").as[Long].collect().sorted.toSeq
    assert(s2r === s2)
    assert(graft.io.Staging.readTable(spark, dir, "digest_index")
      .distinct().count() === 3L)
    // and a LATER duplicate of a replayed survivor still drops
    val b3 = Seq((99L, "zeta eta")).toDF("doc_id", "text")
    assert(DedupOps.incrementalExactDedup(b3, "doc_id", "text", dir)
      .isEmpty)
  }

  test("prefixFilterJaccardPairs: dense bitmask core and prefix core " +
    "agree pair-for-pair, jaccard values included, on the same " +
    "small-vocabulary corpus") {
    // ≤62 distinct tokens → the default run takes the dense bitmask
    // core; a non-default maxBucketSize that never binds forces the
    // prefix core on the SAME corpus (dense ignores the cap — see
    // scaladoc). Corpus includes exact-dup groups (within-group 1.0
    // expansion), an empty doc (must stay absent), and borderline
    // sizes for the tEff filter.
    val corpus = (
      (1 to 6).map(i => (i.toLong,
        "alpha beta gamma delta epsilon zeta eta theta " +
          (if (i % 2 == 0) "iota" else "kappa"))) ++
      Seq(
        (20L, "alpha beta gamma delta epsilon zeta eta theta iota"),
        (21L, "mu nu xi"), (22L, "mu nu xi"), (23L, "mu nu xi"),
        (30L, "   "), (31L, ""))
    ).toDF("doc_id", "text")
    for (t <- Seq(0.5, 0.8, 1.0)) {
      val dense = DedupOps.prefixFilterJaccardPairs(
          corpus, "doc_id", "text", threshold = t)
        .as[(Long, Long, Double)].collect().toSet
      val prefix = DedupOps.prefixFilterJaccardPairs(
          corpus, "doc_id", "text", threshold = t,
          maxBucketSize = Int.MaxValue - 1)
        .as[(Long, Long, Double)].collect().toSet
      assert(dense == prefix,
        s"t=$t: dense-only=${(dense -- prefix).take(5)} " +
          s"prefix-only=${(prefix -- dense).take(5)}")
      // identical-set triple expands to its 3 within-group pairs at 1.0
      assert(dense.filter(p => p._1 >= 21L && p._2 <= 23L) ==
        Set((21L, 22L, 1.0), (21L, 23L, 1.0), (22L, 23L, 1.0)), dense)
      // empty/blank docs never pair (0/0 jaccard was null in the
      // all-arrays form; the collapse must not resurrect them)
      assert(!dense.exists(p => p._1 >= 30L || p._2 >= 30L), dense)
    }
  }

  test("dense bitmask cores SHARD past the group knee — tiny-vocab " +
    "corpus with more distinct sets than the shard size routes " +
    "through hash-sliced broadcasts with an identical answer (r12 " +
    "VERDICT #2: this corner used to fall through to the degenerate " +
    "prefix core)") {
    // 10-token universe, ~600 distinct subsets (token i present iff
    // bit i of a per-doc pattern is set; pattern ≥ 1 so no empty
    // sets) — far more groups than the lowered shard size below
    val toks = Array("t0", "t1", "t2", "t3", "t4", "t5", "t6", "t7",
      "t8", "t9")
    val corpus = (0 until 700).map { i =>
      val pat = (i * 2654435761L % 1023 + 1).toInt
      (i.toLong, toks.indices.filter(b => (pat & (1 << b)) != 0)
        .map(toks).mkString(" "))
    }.toDF("doc_id", "text")
    def jaccard(pairs: DataFrame) =
      pairs.as[(Long, Long, Double)].collect().toSet
    def containment(pairs: DataFrame) =
      pairs.select("id_a", "id_b", "containment_a", "containment_b")
        .as[(Long, Long, Double, Double)].collect().toSet
    // default: the operators run one broadcast
    val oneJ = jaccard(DedupOps.prefixFilterJaccardPairs(
      corpus, "doc_id", "text", threshold = 0.8))
    val oneC = containment(DedupOps.containmentPairsPrefix(
      corpus, "doc_id", "text", minContainment = 0.9))
    assert(oneJ.nonEmpty && oneC.nonEmpty, "weak corpus — no pairs")
    // the shared set-grain body at a shard size of 64 groups
    assert(jaccard(DedupOps.setGrainPairs(corpus, "doc_id", "text",
        DedupOps.Jaccard, 0.8, shardSize = 64)) == oneJ,
      "sharded jaccard dense core diverged")
    assert(containment(DedupOps.setGrainPairs(corpus, "doc_id", "text",
        DedupOps.Containment, 0.9, shardSize = 64)) == oneC,
      "sharded containment dense core diverged")
  }

  test("containmentPairsPrefix on a >62-token vocabulary (prefix " +
    "core) equals the exhaustive all-pairs exact containment") {
    // 70 unique filler tokens push the vocabulary past the 62-bit
    // mask bound, so this corpus runs the prefix-filter containment
    // core; the planted doc-in-doc and identical-set pairs sit on top
    val corpus = (
      (0 until 70).map(i => (100L + i, s"filler$i")) ++
      Seq(
        (1L, "alpha beta gamma delta epsilon zeta"),
        (2L, "alpha beta gamma"),                   // contained in 1, 3
        (3L, "alpha beta gamma delta epsilon zeta eta theta"),
        (4L, "alpha beta gamma delta epsilon zeta"), // identical to 1
        (10L, "filler0 filler1 filler2 unrelated"))
    ).toDF("doc_id", "text")
    for (t <- Seq(0.6, 1.0)) {
      val ts = corpus.select($"doc_id",
        array_distinct(graft.ext.TextOps.tokens($"text")).as("ts"))
      val exact = ts.as("a").join(ts.as("b"),
          col("a.doc_id") < col("b.doc_id"))
        .withColumn("__i",
          size(array_intersect($"a.ts", $"b.ts")).cast("double"))
        .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"),
          round($"__i" / size($"a.ts"), 6).as("ca"),
          round($"__i" / size($"b.ts"), 6).as("cb"))
        .filter($"ca" >= t || $"cb" >= t)
        .as[(Long, Long, Double, Double)].collect().toSet
      val got = DedupOps.containmentPairsPrefix(
          corpus, "doc_id", "text", minContainment = t)
        .select("id_a", "id_b", "containment_a", "containment_b")
        .as[(Long, Long, Double, Double)].collect().toSet
      assert(got == exact,
        s"t=$t: missing=${(exact -- got).take(5)} " +
          s"extra=${(got -- exact).take(5)}")
      assert(exact.nonEmpty, s"t=$t ground truth empty — weak corpus")
    }
  }

  test("workBudgetCap derives the cap from the pairable-block " +
    "census with its clamps") {
    // 3 pairable blocks (sizes 3, 2, 2), one singleton (never
    // pairs), one null-key doc (excluded)
    val df = Seq(
      (1L, "en"), (2L, "en"), (3L, "en"),
      (4L, "de"), (5L, "de"), (6L, "fr"), (7L, "fr"),
      (8L, "zh"), (9L, null)).toDF("doc_id", "lang")
    // floor(sqrt(2·27/3)) = floor(4.24) = 4
    assert(DedupOps.workBudgetCap(df, Seq("lang"),
      pairBudget = 27L, capCeil = 10000) == 4)
    // ceiling clamp: a huge budget saturates at capCeil
    assert(DedupOps.workBudgetCap(df, Seq("lang"),
      pairBudget = Long.MaxValue / 4, capCeil = 10000) == 10000)
    // floor clamp: a starvation budget still allows pairs of 2
    assert(DedupOps.workBudgetCap(df, Seq("lang"),
      pairBudget = 1L, capCeil = 10000) == 2)
    // degenerate census (no block can pair): inert capCeil
    assert(DedupOps.workBudgetCap(
      Seq((1L, "en")).toDF("doc_id", "lang"), Seq("lang"),
      pairBudget = 27L, capCeil = 10000) == 10000)
    // the zipf-leg shape: 40 blocks at the default budget → 4000,
    // the escape posture SCALING.md "Round-14: the capped production
    // posture" measured (leg `tools/CappedTierLeg`, source at 3f71aa0)
    val forty = (0 until 80).map(i => (i.toLong, s"b${i % 40}"))
      .toDF("doc_id", "lang")
    assert(DedupOps.workBudgetCap(forty, Seq("lang")) == 4000)
  }
}
