package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.ops.Relational

/** Deduplication for training-data pipelines: exact, MinHash+LSH,
  * SimHash, n-gram Jaccard. All Spark-native column expressions and
  * joins; hash families are keyed by literal seeds (xxhash64(x, seed))
  * so every signature is deterministic across runs and executors.
  *
  * Scale design:
  *   - exact dedup: one hash-shuffle on a 256-bit digest, never on the
  *     full text (shuffling 100 TB of text to dedupe it is the classic
  *     mistake; shuffling 32-byte digests is ~free);
  *   - MinHash/LSH: per-doc signature is a narrow map; candidate
  *     generation shuffles (band, bandHash) pairs — corpus-linear, not
  *     pairwise; only bucket-mates are compared exactly;
  *   - SimHash: 64-bit signature; near-dup = signature XOR popcount ≤
  *     r, candidate-pruned by band equality on 16-bit chunks.
  */
object DedupOps {

  /** On-disk format version of the incremental-minhash `sig_store`
    * ([[incrementalMinhashDedup]]): "2" = `__tokset` arrays sorted at
    * write (the sorted-merge verify kernel's precondition). Stores
    * without the marker are treated as legacy-unsorted and
    * defensively re-sorted on load. */
  val SigStoreFormat = "2"

  // ------------------------------------------------------------------
  // Exact dedup
  // ------------------------------------------------------------------

  /** Exact duplicate groups by full equality of `textCol`: one
    * surviving doc id (minimum) + duplicate count per distinct text. */
  def exactDupGroups(df: DataFrame, idCol: String,
                     textCol: String): DataFrame =
    df.groupBy(col(textCol))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_copies"))
      .select("keep_id", "n_copies")

  /** Exact dedup at scale: group on sha2-256 of the text so the
    * shuffle carries 32-byte digests, not documents. Deterministic
    * survivor (min id). */
  def exactDedupByHash(df: DataFrame, idCol: String,
                       textCol: String): DataFrame = {
    val hashed = df.withColumn("__h", sha2(col(textCol), 256))
    Relational.dedupeByKeyMinStruct(hashed, Seq("__h"), Seq(col(idCol)))
      .drop("__h")
  }

  // ------------------------------------------------------------------
  // MinHash + LSH
  // ------------------------------------------------------------------

  /** Word n-gram shingles from a token array. Docs shorter than n
    * produce a single whole-doc shingle. */
  def shingles(tokens: Column, n: Int): Column =
    when(size(tokens) < n, array(concat_ws(" ", tokens)))
      .otherwise(transform(sequence(lit(0), size(tokens) - n),
        i => concat_ws(" ", slice(tokens, i + lit(1), lit(n)))))

  /** MinHash signature from pre-hashed shingles: the per-j hash is an
    * xxhash64 mix of (shingle hash, j) — long arithmetic only, no
    * string re-hashing inside the 64-wide loop. */
  def minhashSignatureFromHashes(shingleHashes: Column,
                                 numHashes: Int): Column =
    transform(sequence(lit(0), lit(numHashes - 1)),
      j => array_min(transform(shingleHashes, h => xxhash64(h, j))))

  /** Estimated Jaccard from two signatures: fraction of agreeing
    * positions. */
  def minhashJaccard(sigA: Column, sigB: Column): Column =
    size(filter(zip_with(sigA, sigB, (a, b) => a === b),
      x => x)).cast("double") / size(sigA)

  /** Per-doc LSH band keys: the signature split into `bands` rows of
    * `rowsPerBand`, each band hashed to one long. Docs sharing any
    * (band index, band hash) are candidates. */
  def lshBandKeys(sig: Column, bands: Int, rowsPerBand: Int): Column =
    transform(sequence(lit(0), lit(bands - 1)),
      b => struct(b.as("band"),
        xxhash64(slice(sig, b * lit(rowsPerBand) + lit(1), lit(rowsPerBand)))
          .as("band_hash")))

  /** Per-doc MinHash signatures + distinct-token sets — the shared
    * input of candidate generation and verification.
    *
    * Built as three separate projections so tokenization, shingling,
    * and hashing each run ONCE per row. Interpreted higher-order
    * lambdas re-evaluate any expression inlined into their body once
    * per element — collapsing these projections re-tokenizes every
    * document 64× (measured 100× slowdown). Each intermediate alias is
    * referenced twice in its consumer, which stops Catalyst's
    * CollapseProject from re-inlining (it never duplicates non-cheap
    * multi-referenced expressions). */
  private def signatureTable(df: DataFrame, idCol: String,
                             textCol: String, shingleSize: Int,
                             numHashes: Int): DataFrame =
    // widened: numHashes mixing passes per shingle dominate a narrow
    // scan (Relational.widenNarrowScan; no-op on wide scans)
    graft.ops.Relational.widenNarrowScan(df)
      .select(col(idCol).as("doc_id"),
        TextOps.tokens(col(textCol)).as("__tok"))
      // __tok referenced twice → projection boundary preserved.
      // __tokset carries xxhash64 of each distinct token (longs, not
      // strings): the verify intersect then hashes primitives — a
      // doc's tokens would otherwise be re-hashed per candidate pair.
      // Hashed-set jaccard is exact up to 64-bit collisions
      // (≈ |A|·|B|/2⁶⁴ per pair); DedupSpec's string-set ground truth
      // and the DuckDB oracle prove collision-freedom on the corpus.
      // sorted set: one sort_array per DOC buys the allocation-free
      // sorted-merge intersect count per PAIR (SortedLongIntersectCount)
      .select(col("doc_id"),
        sort_array(transform(array_distinct(col("__tok")),
          t => xxhash64(t))).as("__tokset"),
        transform(shingles(col("__tok"), shingleSize),
          x => xxhash64(x)).as("__shash"))
      // native fused mixing loop — bit-identical to
      // minhashSignatureFromHashes (asserted in NativeExprSpec) but one
      // pass instead of numHashes interpreted lambda passes; evaluates
      // its child once, so no CollapseProject re-evaluation hazard here
      .select(col("doc_id"), col("__tokset"),
        graft.functions.native.minhash_sig(col("__shash"), numHashes)
          .as("__sig"))

  /** Slim LSH candidate pairs: (id_a, id_b, n_bands_matching), id_a <
    * id_b. CRITICAL scale shapes:
    *   - the band self-join and the per-pair aggregation carry ONLY
    *     ids — signatures and token sets never enter the candidate
    *     shuffle (at 100 TB that shuffle is billions of rows; 16 bytes
    *     each vs kilobytes decides feasibility);
    *   - oversized buckets are dropped (`maxBucketSize`): a bucket
    *     with B docs contributes B²/2 pairs, so one hot bucket (a
    *     boilerplate shingle, an empty-doc band) can dwarf the whole
    *     join. Hot buckets carry no dedup signal — every serious
    *     minhash pipeline caps them. */
  def minhashCandidates(sigs: DataFrame, bands: Int, rowsPerBand: Int,
                        maxBucketSize: Int = 50): DataFrame = {
    // banded feeds three consumers (bucket sizing + both join sides):
    // persist it or the signature computation runs once per consumer.
    // The candidate triples are materialized below so the banded cache
    // can be released before returning — cached corpus-scale blocks
    // must not outlive the operator that needed them (a long-lived
    // session accumulates them until executors spill or evict).
    val banded = sigs.select(col("doc_id"),
      explode(lshBandKeys(col("__sig"), bands, rowsPerBand))
        .as("__band"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val smallBuckets = banded.groupBy("__band")
      .agg(count(lit(1)).as("__bsz"))
      .filter(col("__bsz") <= maxBucketSize && col("__bsz") > 1)
      .select("__band")
    val pruned = banded.join(smallBuckets, Seq("__band"))
    val a = pruned.select(col("__band"), col("doc_id").as("id_a"))
    val b = pruned.select(col("__band"), col("doc_id").as("id_b"))
    val cand = a.join(b, Seq("__band"))
      .filter(col("id_a") < col("id_b"))
      .groupBy("id_a", "id_b")
      .agg(count(lit(1)).as("n_bands_matching"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    cand.count() // materialize (slim id-pair triples), then drop banded
    banded.unpersist()
    cand
  }

  /** MinHash/LSH near-duplicate pairs with exact-jaccard verification.
    * Pipeline: slim candidates → join signatures (estimate) → join
    * token sets (exact) → threshold. Payload joins happen only for
    * surviving candidate pairs.
    *
    * Every candidate pair is verified (no caller wants a top-k cut).
    *
    * @param threshold     exact token-set Jaccard cut for verified pairs
    * @param maxBucketSize hot-bucket drop cap forwarded to
    *                      [[minhashCandidates]]; raise it (e.g. to the
    *                      corpus size) when the query must be an
    *                      exactness proof — capped buckets trade recall
    *                      for boundedness and a verification-against-
    *                      ground-truth run must not take that trade
    * @return (id_a, id_b, est_jaccard, jaccard) with id_a < id_b */
  def minhashNearDupPairs(df: DataFrame, idCol: String, textCol: String,
                          shingleSize: Int = 3, numHashes: Int = 64,
                          bands: Int = 16, threshold: Double = 0.5,
                          maxBucketSize: Int = 50): DataFrame = {
    // The signature table feeds candidate generation and both payload
    // joins — persist it (corpus-linear: id + 64 longs + token set;
    // at 100 TB this is the table you'd checkpoint to storage).
    val sigs = signatureTable(df, idCol, textCol, shingleSize, numHashes)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // fromSigs materializes its (small) output before returning, so
    // releasing the corpus-scale signature cache here is safe
    try minhashNearDupPairsFromSigs(sigs, bands, numHashes / bands,
      threshold, maxBucketSize)
    finally sigs.unpersist()
  }

  /** The per-doc signature table `(doc_id, __tokset, __sig)` as a
    * PUBLIC build artifact: per-doc minhash signatures are
    * corpus-independent, so at 100 TB this table is computed once per
    * corpus snapshot, checkpointed to storage, and every downstream
    * consumer (capped production banding, uncapped verification
    * subsets, incremental re-dedup) reads the snapshot instead of
    * re-tokenizing the corpus — the same build-once/serve-many split
    * as [[SearchOps.buildPostings]] → `bm25FromIndex`. Feed it to
    * [[minhashNearDupPairsFromSigs]]. */
  def buildSignatureTable(df: DataFrame, idCol: String, textCol: String,
                          shingleSize: Int = 3,
                          numHashes: Int = 64): DataFrame =
    signatureTable(df, idCol, textCol, shingleSize, numHashes)

  /** [[minhashNearDupPairs]] from a prebuilt signature table
    * ([[buildSignatureTable]], typically read back from its parquet
    * snapshot): banding, candidate generation, and exact verification
    * only — query-time cost is candidate-linear, with zero corpus
    * tokenization. Bit-identical output to the inline form (shared
    * code path; the signatures are deterministic xxhash64). */
  def minhashNearDupPairsFromSigs(sigs: DataFrame, bands: Int,
                                  rowsPerBand: Int,
                                  threshold: Double,
                                  maxBucketSize: Int = 50): DataFrame = {
    val cand = minhashCandidates(sigs, bands, rowsPerBand, maxBucketSize)
    val sa = sigs.select(col("doc_id").as("id_a"),
      col("__tokset").as("__ta"), col("__sig").as("__sa"))
    val sb = sigs.select(col("doc_id").as("id_b"),
      col("__tokset").as("__tb"), col("__sig").as("__sb"))
    val out = cand.join(sa, Seq("id_a")).join(sb, Seq("id_b"))
      .withColumn("est_jaccard",
        round(minhashJaccard(col("__sa"), col("__sb")), 6))
      // |A∪B| = |A|+|B|-|A∩B| on these (distinct) token sets: sizes
      // only, never a materialized union array. __i is referenced
      // twice below, which keeps the projection boundary (CollapseProject
      // won't inline a non-cheap expression used twice) — the
      // intersect runs once per pair. Sorted-merge count kernel:
      // __tokset is sorted at construction (signatureTable).
      .withColumn("__i", graft.functions.native
        .intersect_count_sorted(col("__ta"), col("__tb")))
      .withColumn("jaccard", round(col("__i").cast("double") /
        (size(col("__ta")) + size(col("__tb")) - col("__i")), 6))
      .filter(col("jaccard") >= threshold)
      .select("id_a", "id_b", "est_jaccard", "jaccard")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // materialize the (small, candidate-linear) verified pairs, then
    // release the corpus-scale candidate cache — cached blocks must
    // not live for the rest of the session (the inline wrapper
    // releases its signature cache the same way)
    out.count()
    cand.unpersist()
    out
  }

  // ------------------------------------------------------------------
  // Duplicate clusters (connected components over near-dup pairs)
  // ------------------------------------------------------------------

  /** Transitive duplicate CLUSTERS from a near-dup pair set: connected
    * components of the pair graph, each doc labeled with its
    * component's minimum id (`cluster_rep`). Pairwise output (A~B,
    * B~C) under-states duplication — keep-one-per-cluster needs the
    * transitive closure, and a cluster's representative must be
    * deterministic for reproducible survivor selection.
    *
    * Distributed min-label propagation WITH pointer jumping: every
    * vertex starts as its own label; each round, labels flow across
    * edges and every vertex keeps the minimum seen; each superstep
    * additionally shortcuts label(x) ← label(label(x)) (valid because
    * labels are always vertex ids, and x ~ label(x) by induction).
    * The jump doubles the distance a label covers per superstep, so
    * convergence is O(log diameter) instead of O(diameter) — the
    * distinction the r9 sf1 leg made concrete: the e2e curation
    * chain's CAPPED pair graph (hot LSH buckets dropped) breaks its
    * mega-cluster into long thin chains, and plain propagation blew
    * the 25-round bound where log-doubling closes it in a few
    * supersteps. Fixpoint = components labeled by their min id,
    * identical for any propagation order (the label lattice has one
    * bottom per component). Each round is one join + one
    * min-aggregate on (id, label) pairs — edge-linear shuffles
    * carrying two longs; the jump adds one vertex-grain self-join per
    * superstep; `localCheckpoint` truncates the per-round lineage so
    * the plan doesn't grow with iterations (the classic
    * iterative-Spark failure). `maxIter` bounds the supersteps;
    * hitting it raises rather than silently emitting a non-fixpoint
    * labeling. */
  def duplicateClusters(pairs: DataFrame, maxIter: Int = 25): DataFrame = {
    val edgesRaw = pairs
      .select(col("id_a").as("src"), col("id_b").as("dst"))
      .unionByName(
        pairs.select(col("id_b").as("src"), col("id_a").as("dst")))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // Size the loop's shuffle width from the GRAPH, not the session
    // default: the iterate state is vertex/edge-sized (often tiny
    // relative to the corpus the pairs came from), and at session
    // width every round pays tens of near-empty AQE-scheduled stages
    // — measured 10× the whole propagation on the bench graph. ~1M
    // edges per partition; keyed repartitions below keep every round
    // join/aggregate co-partitioned at this width, so a round is ONE
    // real exchange.
    val spark = pairs.sparkSession
    val w = math.max(1L, math.min(
      spark.sparkContext.defaultParallelism.toLong,
      edgesRaw.count() / 1000000L + 1)).toInt
    val edges = edgesRaw.repartition(w, col("dst"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // AQE OFF for the loop: adaptive execution materializes every
    // shuffle as its own scheduled query stage — right for one big
    // query, but an iterative loop over vertex-sized state pays
    // ~250 ms of stage scheduling per tiny shuffle (measured 7× the
    // whole propagation at bench SF). The width is already sized from
    // the data above, which is the decision AQE would be making.
    // Session-conf scope: handled by the reference-counted [[AqeGate]]
    // — a bare get/set/restore pair here raced under CONCURRENT loop
    // invocations (two overlapping enters: the second reads "false" as
    // its restore value and re-lands it, leaving the session without
    // AQE for every later query — exactly the bench's parallel-warmup
    // shape once curation_e2e added a second cluster-loop entry point;
    // measured as a suite-wide 1.3× inflation at r9: 86.4 → 67 s).
    // A query PLANNED concurrently during the (now fully bracketed)
    // loop window still plans without AQE — correctness unaffected.
    var labels = edges.select(col("src").as("id")).distinct()
      .withColumn("label", col("id"))
      .repartition(w, col("id"))
      .localCheckpoint(true)
    var changed = 1L
    var i = 0
    try {
      AqeGate.enter(spark)
    // SUPERSTEPS of one pointer jump + 3 lazily-chained propagate
    // rounds, two jobs each (eager checkpoint + convergence count).
    // `maxIter` bounds SUPERSTEPS — with the jump doubling covered
    // distance each superstep, the default 25 closes components of
    // diameter ~3·2²⁴, so hitting the bound means a broken edge set,
    // not an honest long chain. The chaining shape itself: per-round
    // checkpoint+count is 3 fixed-cost jobs per round, and per-round
    // persist-without-checkpoint recomputes the whole chain each
    // round (labels appears twice per round, so cost TRIPLES per
    // un-truncated level — measured 0.6→45 s/round before the first
    // lineage cut). Chaining 3 rounds inside one job re-scans the
    // checkpointed labels RDD a few extra times — trivially cheap —
    // while cutting job count to 2 per 3 rounds; dedup graphs
    // (diameter 2-4) close in 1-2 supersteps. */
    while (changed > 0 && i < maxIter) {
      val step = 3
      // pointer jump FIRST, on the checkpointed frame (a LogicalRDD —
      // self-joining the in-loop union/aggregate plan instead trips
      // Union constraint rewriting on duplicate attribute ids):
      // label(x) <- label(label(x)). Labels only ever DECREASE (they
      // are min-folds of vertex ids within the component), so the
      // shortcut is monotone toward the same fixpoint; every label IS
      // a vertex id present in the frame, the left join + least() is
      // belt-and-braces.
      val jumpTo = labels.toDF("__jid", "__jlabel")
      var cur = labels
        .join(jumpTo, labels("label") === jumpTo("__jid"), "left")
        .select(labels("id"),
          least(labels("label"), coalesce(col("__jlabel"),
            labels("label"))).as("label"))
        .repartition(w, col("id"))
      for (_ <- 0 until step) {
        val via = edges.join(cur, edges("dst") === cur("id"))
          .select(edges("src").as("id"), col("label"))
        cur = cur.unionByName(via)
          .repartition(w, col("id"))
          .groupBy("id").agg(min("label").as("label"))
      }
      val next = cur.localCheckpoint(true)
      changed = next
        .join(labels.select(col("id"), col("label").as("__old")), Seq("id"))
        .filter(col("label") =!= col("__old")).count()
      labels = next
      i += 1
    }
    } finally {
      AqeGate.exit(spark)
      // in the finally: an exception mid-loop (including a cancelled
      // job) must not leak two corpus-pair caches into the session
      edges.unpersist()
      edgesRaw.unpersist()
    }
    if (changed > 0)
      throw new IllegalStateException(
        s"duplicateClusters did not converge in $i supersteps — with " +
          "pointer jumping that needs diameter ~2^supersteps, so the " +
          "edge set is likely malformed; raise maxIter explicitly if " +
          "the graph is legitimate")
    labels.withColumnRenamed("label", "cluster_rep")
  }

  // ------------------------------------------------------------------
  // SimHash
  // ------------------------------------------------------------------

  /** 64-bit SimHash from a *materialized* token-hash array: bit i is
    * the sign of the sum over tokens of ±1 depending on bit i of the
    * token hash. 64 statically-unrolled bit terms (shift amounts must
    * be literals in the Column API); pass an attribute, not an inlined
    * expression — the 64 terms each re-evaluate their child
    * (see [[signatureTable]] performance note). */
  def simhashFromHashes(hashes: Column): Column = {
    val terms = (0 until 64).map { i =>
      val ones = size(filter(hashes,
        h => shiftright(h, i).bitwiseAND(1L) === 1L))
      // bitSum = ones - (total - ones) > 0  ⇔  2·ones > total
      when(ones * 2 > size(hashes), lit(1L << i)).otherwise(lit(0L))
    }
    terms.reduce(_ + _)
  }

  /** Convenience single-expression form (fine for small frames and
    * unit tests; hot paths use [[simhashFromHashes]] over a
    * materialized hash column). */
  def simhash(tokens: Column): Column =
    simhashFromHashes(transform(tokens, t => xxhash64(t)))

  /** Hamming distance between two 64-bit signatures. */
  def hamming(a: Column, b: Column): Column = bit_count(a.bitwiseXOR(b))

  /** SimHash near-dup pairs: the signature is split into blocks and
    * candidates are keyed on block COMBINATIONS (see
    * [[simhashPairsFromSigs]]), verified by full Hamming distance.
    * The hot-bucket cap is fixed at 200 docs, and the block count is
    * always auto-sized ([[chooseBlocks]]) from the corpus's doc count
    * so candidate-key width grows with the corpus — the fix for the
    * round-6 measured recall sag, where
    * fixed `maxDistance + 1` chunks (16-bit keys at d=3) made bucket
    * occupancy ∝ N and the hot-bucket cap started dropping real
    * pairs at 16×–32× corpus growth.
    *
    * Signatures are bit-majority over the DISTINCT token hashes (set
    * semantics, same discipline as the minhash family and the
    * portable twin): two docs with equal token sets get identical
    * signatures regardless of token counts/order, which gives the
    * family its checkable invariant — every identical-token-set pair
    * MUST surface at Hamming 0 (the `dedup_simhash` oracle gates
    * exactly that against a DuckDB-recomputed ground truth). */
  def simhashNearDupPairs(df: DataFrame, idCol: String, textCol: String,
                          maxDistance: Int = 3): DataFrame =
    simhashPairsFromSigs(
      df.select(col(idCol).as("doc_id"),
        graft.functions.native.simhash64(
          array_distinct(TextOps.tokens(col(textCol)))).as("__sig")),
      maxDistance, maxBucketSize = 200)

  /** SimHash signatures from a PORTABLE token hash: the first 15 hex
    * chars of md5(token) parsed as a 60-bit integer. Any engine with
    * md5 can recompute the identical signature (the DuckDB oracle
    * does, bit for bit), unlike the xxhash64 production family above —
    * this is what makes `dedup_simhash_verified` a full-hash oracle
    * query rather than rows-only. Distinct tokens (set semantics, like
    * the minhash verified twin); empty-token docs are excluded because
    * their signature (0) says nothing about content. Signature bits
    * 60–63 are always 0 on both sides, so Hamming distances agree.
    * No bucket is dropped (`maxBucketSize = Int.MaxValue`), so the
    * output is exactly all pairs within `maxDistance` — the exhaustive
    * form an oracle twin can check; the block count is auto-sized
    * ([[chooseBlocks]]). */
  def simhashPortablePairs(df: DataFrame, idCol: String, textCol: String,
                           maxDistance: Int): DataFrame = {
    val hashed = graft.ops.Relational.widenNarrowScan(
        df.filter(length(trim(col(textCol))) > 0))
      .select(col(idCol).as("doc_id"),
        transform(array_distinct(TextOps.tokens(col(textCol))),
          t => conv(substring(md5(t), 1, 15), 16, 10).cast("long"))
          .as("__h"))
      // materialization barrier: simhashFromHashes expands to 64 bit
      // terms each reading its child — cached `__h` is read 64 times,
      // an inlined expression would md5 every token 64 times
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val sigs = hashed.select(col("doc_id"),
      simhashFromHashes(col("__h")).as("__sig"))
    // simhashPairsFromSigs materializes its output before returning,
    // so releasing the hash cache afterwards is safe. sigBits = 60:
    // the md5-derived signature occupies bits 0–59, so the block
    // split covers only real bits (no constant-zero block narrowing
    // a combination key's effective width)
    val out = simhashPairsFromSigs(sigs, maxDistance,
      maxBucketSize = Int.MaxValue, sigBits = 60)
    hashed.unpersist()
    out
  }

  /** Number of candidate tables C(numBlocks, numBlocks - maxDistance)
    * the combination scheme generates — the explode factor per doc.
    * Auto-sizing stays within [[maxComboTables]]. */
  private[ext] def comboCount(c: Int, d: Int): Long = {
    val k = math.min(c - d, d)
    (1 to k).foldLeft(1L)((acc, i) => acc * (c - k + i) / i)
  }

  private val maxComboTables = 64

  /** Bit widths of the `c` signature blocks (`sigBits` split as
    * evenly as integer division allows; earlier blocks take the
    * remainder). `sigBits < 64` matters when the signature genuinely
    * occupies fewer bits (portable md5 sigs: 60; image dHash: 56) —
    * splitting the full 64 would hand some combination keys a
    * constant-zero block, silently narrowing their REAL width and
    * heating their buckets while the occupancy model still assumed
    * the nominal width. */
  private def blockWidths(c: Int, sigBits: Int): Seq[Int] = {
    val base = sigBits / c
    val extra = sigBits % c
    (0 until c).map(i => base + (if (i < extra) 1 else 0))
  }

  /** Width in bits of the NARROWEST candidate key the combination
    * scheme produces: the sum of the `c - d` smallest block widths.
    * Bucket occupancy for unrelated docs is ~N / 2^width, so this is
    * the knob that must grow with the corpus. */
  private def minComboWidth(c: Int, d: Int, sigBits: Int): Int =
    blockWidths(c, sigBits).sorted.take(c - d).sum

  /** Corpus-size-derived block count: the smallest `c ≥ d + 1` whose
    * narrowest combination key gives expected unrelated-bucket
    * occupancy ≤ 1/8 (2^width ≥ 8·n), subject to the combo-table
    * budget. If no `c` within budget reaches the target (huge corpus
    * or large `d`), the widest-key `c` within budget is used — best
    * effort, with the hot-bucket cap as the remaining safety. This is
    * the Manku-et-al. simhash dedup trade: more tables (compute) buy
    * collision-free keys (recall) as the corpus grows. */
  private[ext] def chooseBlocks(n: Long, d: Int, sigBits: Int = 64): Int = {
    val target = math.log(8.0 * math.max(n, 1L)) / math.log(2.0)
    val candidates = Iterator.from(d + 1)
      .takeWhile(c => c <= sigBits && comboCount(c, d) <= maxComboTables)
      .toSeq
    candidates.find(c => minComboWidth(c, d, sigBits) >= target)
      .getOrElse(candidates.maxBy(c => minComboWidth(c, d, sigBits)))
  }

  /** Corpus-size-derived MinHash/LSH parameters `(numHashes, bands,
    * rowsPerBand)` — the [[chooseBlocks]] derivation applied to the
    * banding family. Two constraints pin the shape:
    *
    *  - RECALL: a true pair at `threshold` similarity misses every
    *    band w.p. `(1 - t^r)^b` — bands `b` is the smallest count
    *    pushing that below `maxMissProb` = 1e-6.
    *  - PRECISION AT SCALE: an unrelated pair (background similarity
    *    `bgJaccard` = 0.1) collides in some band w.p. ≈ `b·bg^r`, so
    *    expected false candidates are `(n-1)/2 · b · bg^r` PER DOC.
    *    Rows-per-band `r` is the smallest depth keeping that under
    *    `fpPerDoc` = 1 — `r` grows with log n, which is what keeps the
    *    candidate stage corpus-LINEAR as the corpus grows (the same
    *    more-compute-buys-collision-freedom trade as chooseBlocks).
    *
    * The returned signature length `r·b` is monotone non-decreasing
    * in `n` (SimhashBlocksSpec proves bounds + monotonicity) and
    * CAPPED at `maxSigHashes` (default 512 longs/doc): the recall
    * constraint makes bands grow like `1/t^r`, so an uncapped search
    * at a moderate threshold and web-scale `n` would return
    * megabyte-scale signatures (t = 0.5, n = 1e9 → ~6.8M hashes).
    * When no depth within the budget meets the false-positive target
    * the deepest in-budget `r` is used — best effort, exactly the
    * [[chooseBlocks]] fallback posture, with the hot-bucket cap as
    * the remaining safety. Below threshold ≈ 0.23 (at the default
    * recall target and budget) even `r = 2` cannot fit: recall at
    * such thresholds inherently needs thousands of bands, so the
    * call FAILS LOUDLY (IllegalArgumentException) rather than
    * silently degrading the recall contract — raise `maxSigHashes`,
    * or use a higher threshold with transitive
    * clustering ([[duplicateClusters]]) to reach looser similarity. The hot-bucket cap itself is deliberately
    * NOT n-derived: a band hash is 64 bits, so unrelated-doc
    * occupancy stays ~0 at any corpus size — oversized buckets mean
    * a degenerate near-dup cluster, and the cap is a per-cluster
    * boundedness guard, not a collision knob.
    *
    * The three targets are constants: every caller uses the same
    * recall and precision contract, and only the signature budget
    * varies. */
  def chooseMinhashParams(n: Long, threshold: Double,
                          maxSigHashes: Int = 512): (Int, Int, Int) = {
    require(threshold > 0 && threshold < 1, s"threshold=$threshold")
    val bgJaccard = 0.1
    val maxMissProb = 1e-6
    val fpPerDoc = 1.0
    def bandsFor(r: Int): Int = {
      val pBand = math.pow(threshold, r)
      // miss = (1-p)^b <= maxMiss  =>  b >= ln(maxMiss)/ln(1-p)
      math.max(1, math.ceil(math.log(maxMissProb) /
        math.log1p(-pBand)).toInt)
    }
    val inBudget = (2 to 32)
      .takeWhile(r => r.toLong * bandsFor(r) <= maxSigHashes)
    require(inBudget.nonEmpty,
      s"maxSigHashes=$maxSigHashes cannot satisfy recall " +
        s"$maxMissProb at threshold=$threshold even at r=2")
    val r = inBudget.find { r =>
      val fp = (math.max(n, 2L) - 1L) / 2.0 * bandsFor(r) *
        math.pow(bgJaccard, r)
      fp <= fpPerDoc
    }.getOrElse(inBudget.last)
    (r * bandsFor(r), bandsFor(r), r)
  }

  /** Pigeonhole block-combination probe over a prepared
    * `(doc_id, __sig)` frame — the shared engine of
    * [[simhashNearDupPairs]] (native xxhash64 signatures) and
    * [[simhashPortablePairs]] (oracle-recomputable md5 signatures).
    *
    * The signature is split into `numBlocks = c` blocks and each doc
    * is keyed under every combination of `c - maxDistance` blocks
    * (the packed block values + a combo id). A pair within Hamming
    * distance `d` differs in ≤ d blocks, so it agrees on ≥ c - d
    * blocks and therefore shares at least one FULL combination key —
    * pigeonhole exactness holds for every `c ≥ d + 1`. `c = d + 1`
    * degenerates to the classic one-chunk-per-key scheme; larger `c`
    * buys wider keys (≈ 64·(c-d)/c bits vs 64/(d+1)), so unrelated
    * docs stop colliding and bucket occupancy stays O(1) as the
    * corpus grows, at the cost of C(c, c-d) candidate tables. With
    * `numBlocks = 0` (default) the count is [[chooseBlocks]]-derived
    * from the frame's row count — one cheap count() on a frame this
    * operator persists anyway.
    *
    * With `maxBucketSize = Int.MaxValue` no bucket is dropped, so the
    * output is exactly ALL pairs within `maxDistance` — the
    * exhaustive form the verified oracle query uses (any valid `c`
    * yields the same exact output; `c` only shifts the
    * candidate-generation cost). */
  def simhashPairsFromSigs(sigFrame: DataFrame, maxDistance: Int,
                           maxBucketSize: Int,
                           numBlocks: Int = 0,
                           sigBits: Int = 64): DataFrame = {
    require(sigBits >= 1 && sigBits <= 64, s"sigBits=$sigBits")
    val sigd = sigFrame
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val d = math.min(maxDistance, sigBits - 1)
    val c =
      if (numBlocks > 0) {
        require(numBlocks >= d + 1 && numBlocks <= sigBits,
          s"numBlocks=$numBlocks must be in [maxDistance+1=${d + 1}, " +
            s"sigBits=$sigBits]")
        numBlocks
      } else chooseBlocks(sigd.count(), d, sigBits)
    val widths = blockWidths(c, sigBits)
    val offsets = widths.scanLeft(0)(_ + _)
    def blockVal(b: Int): Column = {
      val mask = if (widths(b) >= 64) -1L else (1L << widths(b)) - 1
      shiftright(col("__sig"), offsets(b)).bitwiseAND(mask)
    }
    // one struct per (c-d)-combination: combo id + block values packed
    // into a single long (total width of any block subset ≤ 64 bits)
    val keyStructs = (0 until c).combinations(c - d).toSeq.zipWithIndex
      .map { case (blocks, ci) =>
        val packed = blocks.tail.foldLeft(blockVal(blocks.head)) {
          (acc, b) => shiftleft(acc, widths(b)).bitwiseOR(blockVal(b))
        }
        struct(lit(ci).as("combo"), packed.as("combo_val"))
      }
    val chunked = sigd.select(col("doc_id"), col("__sig"),
      explode(array(keyStructs: _*)).as("__c"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // drop hot chunk-buckets: B docs in a bucket → B²/2 pairs; a hot
    // bucket carries no near-dup signal (see minhashCandidates note)
    val smallBuckets = chunked.groupBy("__c")
      .agg(count(lit(1)).as("__bsz"))
      .filter(col("__bsz") <= maxBucketSize && col("__bsz") > 1)
      .select("__c")
    val pruned = chunked.join(smallBuckets, Seq("__c"))
    val a = pruned.select(col("__c"), col("doc_id").as("id_a"),
      col("__sig").as("__sa"))
    val b = pruned.select(col("__c"), col("doc_id").as("id_b"),
      col("__sig").as("__sb"))
    // hamming-filter BEFORE deduplicating: the bit_count filter is a
    // narrow map over the raw chunk-mate pairs, so the dedup shuffle
    // only carries the (few) surviving near-dup pairs instead of every
    // candidate pair — same result (the distance is a pure function of
    // the pair), orders-of-magnitude smaller shuffle on a dup-heavy
    // corpus
    val out = a.join(b, Seq("__c"))
      .filter(col("id_a") < col("id_b"))
      .withColumn("hamming_distance", hamming(col("__sa"), col("__sb")))
      .filter(col("hamming_distance") <= maxDistance)
      .dropDuplicates("id_a", "id_b")
      .select("id_a", "id_b", "hamming_distance")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    out.count() // materialize, then release the corpus-scale caches
    sigd.unpersist()
    chunked.unpersist()
    out
  }

  // ------------------------------------------------------------------
  // The exact set-pair engine: one body per shape, the measure passed in
  // ------------------------------------------------------------------

  /** The measure — the ONLY thing the Jaccard and containment
    * operators differ in; every shape below takes one. `values`: the
    * rounded columns from the overlap `i` (`iD` as the double
    * numerator) and the set sizes; `keep`: the filter on the ROUNDED
    * values; `renormalized`: the values for a member pair whose ids
    * run against its group pair's order. */
  private[graft] sealed abstract class SetMeasure(val names: Seq[String]) {
    def values(iD: Column, i: Column, na: Column, nb: Column): Seq[Column]
    def keep(t: Double): Column
    def renormalized(aFirst: Column): Seq[Column]
  }

  /** `|A∩B| / |A∪B|`, the union by size arithmetic (no union array);
    * symmetric, so renormalizing is a no-op. */
  private[graft] case object Jaccard extends SetMeasure(Seq("jaccard")) {
    def values(iD: Column, i: Column, na: Column, nb: Column): Seq[Column] =
      Seq(round(iD / (na + nb - i), 6))
    def keep(t: Double): Column = col("jaccard") >= t
    def renormalized(aFirst: Column): Seq[Column] = Seq(col("jaccard"))
  }

  /** `|A∩B| / |A|` and `|A∩B| / |B|`, kept when EITHER direction
    * reaches the threshold; the two swap when a pair renormalizes. */
  private[graft] case object Containment
      extends SetMeasure(Seq("containment_a", "containment_b")) {
    def values(iD: Column, i: Column, na: Column, nb: Column): Seq[Column] =
      Seq(round(iD / na, 6), round(iD / nb, 6))
    def keep(t: Double): Column =
      col("containment_a") >= t || col("containment_b") >= t
    def renormalized(aFirst: Column): Seq[Column] = Seq(
      when(aFirst, col("containment_a")).otherwise(col("containment_b"))
        .as("containment_a"),
      when(aFirst, col("containment_b")).otherwise(col("containment_a"))
        .as("containment_b"))
  }

  /** `pairs` (which carries the overlap `__i`) with `m`'s columns added
    * in order, filtered at `t` when one is given. */
  private def measured(pairs: DataFrame, m: SetMeasure, t: Option[Double],
                       iD: Column, na: Column, nb: Column): DataFrame = {
    val valued = m.names.zip(m.values(iD, col("__i"), na, nb))
      .foldLeft(pairs) { case (df, (name, v)) => df.withColumn(name, v) }
    t.fold(valued)(x => valued.filter(m.keep(x)))
  }

  /** Shard size for the dense all-pairs core ([[denseSetPairs]]): past
    * this many distinct token sets the single broadcast nested-loop is
    * SHARDED — the broadcast side splits into ⌈M / shard⌉ hash-slices
    * of ≤ shard groups each and the width-pinned streamed side joins
    * every slice, so broadcast memory stays bounded and the M²/2
    * popcount work (embarrassingly parallel) spreads over shards ×
    * width tasks (vocab ≤ 62 ALWAYS routes dense — before r13 it fell
    * through to the prefix core past 200k sets, the r12 VERDICT's #2
    * latent edge). A constant that keeps each broadcast ≤ ~6 MB;
    * changing it is a performance change that needs its own bench
    * (the shard-knee finding at [[broadcastShards]]). */
  private val denseCoreMaxGroups = 200000L

  /** DISTINCT-TOKEN-SET groups: `(__tok sorted array<long>, __gid =
    * min member id, __members sorted, __n = set size)`. The
    * exact-duplicate collapse every quadratic set-similarity stage
    * should run behind: docs with identical distinct-token sets are
    * indistinguishable to any set measure, so candidate generation,
    * verification, and (in the dense core) the pair loop all run at
    * GROUP grain — on a boilerplate-heavy web corpus the group count
    * is far below the doc count, and the savings are quadratic.
    * Sets are canonicalized by sorting the hashed tokens (tokenizer
    * order is first-occurrence, which would split equal sets). */
  private def tokenSetGroups(df: DataFrame, idCol: String,
                             textCol: String): DataFrame =
    df.select(col(idCol).as("doc_id"),
        sort_array(transform(array_distinct(TextOps.tokens(col(textCol))),
          t => xxhash64(t))).as("__tok"))
      .groupBy("__tok")
      .agg(min("doc_id").as("__gid"),
        sort_array(collect_list("doc_id")).as("__members"))
      .withColumn("__n", size(col("__tok")))

  /** The corpus's distinct hashed-token vocabulary IF it fits a
    * 63-bit mask (≤ 62 tokens — bit 63 stays clear so masks are
    * non-negative longs), else None. The census is one token-grain
    * distinct with `limit(63)` — the limit makes the collect bounded
    * by construction, and 63 returned rows already prove the universe
    * is too big. Tiny-universe corpora are not exotic at 100 TB:
    * tag/label sets, categorical feature baskets, template-generated
    * boilerplate — exactly the corpora where "rare-token" prefix
    * postings degenerate to corpus-hot (measured: a 28-token corpus
    * put 34k docs in its rarest posting — 3.4 B candidate pairs where
    * the true answer was 46 M). */
  private def smallUniverse(groups: DataFrame): Option[Array[Long]] = {
    val v = groups.select(explode(col("__tok")).as("__t")).distinct()
      .limit(63).collect().map(_.getLong(0))
    if (v.length <= 62) Some(v.sorted) else None
  }

  /** OR-fold of `1 << bitIndex(token)` over a hashed-token set —
    * the whole set as ONE long, so a pair comparison is two popcounts
    * instead of an array intersect, and the pair join shuffles 8-byte
    * masks instead of token arrays. */
  private def maskOf(tok: Column, vocab: Array[Long]): Column = {
    val vocabLit = array(vocab.map(lit(_)): _*)
    aggregate(tok, lit(0L), (acc, t) =>
      acc.bitwiseOR(call_function("shiftleft", lit(1L),
        (array_position(vocabLit, t) - 1).cast("int"))))
  }

  /** The broadcast slices of a dense core's build side: ⌈M / shard⌉
    * hash-slices of the group-grain frame, each small enough to
    * broadcast, whose union is the whole frame. One slice (no
    * sharding) below the shard size — the common case. Slicing is by
    * `pmod(xxhash64(__gid))`, a pure row function, so every slice is
    * a deterministic filter over the SAME cached `groups` subtree
    * (the caller's persist serves all slice builds).
    *
    * Measured at the knee (SCALING.md "Round-14: the dense-core shard
    * knee"; leg `tools/DenseShardLeg`, source at 3f71aa0; 238,936 real
    * distinct sets = 2 default shards): all postures bit-identical
    * (118,124,299 pairs), and FINER shards run FASTER — 4 forced
    * slices 442 s vs 662 s for the forced single broadcast — because
    * the nested-loop inner working set is the broadcast slice
    * (~1.4 MB/quarter-slice fits per-core L2; the full 239k-group
    * frame ≈ 5.7 MB spills it), while the streamed side re-reads one
    * reused pinned exchange per slice join. The 200k
    * [[denseCoreMaxGroups]] is a broadcast-MEMORY bound, not a
    * performance ceiling; a lower shard size buys cache locality at
    * no correctness or wall cost at this scale. */
  private def broadcastShards(masked: DataFrame, nGroups: Long,
                              shardSize: Long): Seq[DataFrame] = {
    val nShards = math.max(1L, (nGroups + shardSize - 1) / shardSize).toInt
    if (nShards == 1) Seq(masked)
    else (0 until nShards).map { s =>
      masked.filter(pmod(xxhash64(col("__gid")),
        lit(nShards.toLong)) === lit(s.toLong))
    }
  }

  /** Jaccard's group-pair condition: id order plus the size-ratio
    * prune — J ≥ t forces min(|A|,|B|)/max(|A|,|B|) ≥ t. Containment
    * has no such prune on the OR of its directions (if nb < t·na then
    * na ≥ nb ≥ t·nb, so the shorter side can always qualify). */
  private def jaccardPairCond(tEff: Double): Column =
    col("__ga") < col("__gb") &&
      col("__na") * lit(tEff) <= col("__nb") + lit(1e-9) &&
      col("__nb") * lit(tEff) <= col("__na") + lit(1e-9)

  /** Dense all-pairs core over distinct-set groups encoded as
    * bitmasks: a broadcast nested-loop join whose condition `cond` is
    * pure fused arithmetic (id order, plus Jaccard's size prune), the
    * measure from popcounts. The streamed side is width-pinned
    * (`repartition(defaultParallelism)`, REPARTITION_BY_NUM — the
    * AQE-coalesce opt-out, see Relational.computeDensePairJoin: M
    * group rows are KBs of bytes but M²/2 of compute). Exactness
    * needs no candidate filter at all here — every pair is checked.
    * Past `shardSize` groups the build side ships as
    * [[broadcastShards]] hash-slices, each joined against the SAME
    * streamed subtree (Catalyst reuses the pinned exchange) — the
    * M²/2 work is inherent to the exact answer on a vocabulary where
    * filters can't prune, so scale-out is by sharding, never by
    * falling back to the degenerate prefix core. */
  private def denseSetPairs(groups: DataFrame, vocab: Array[Long],
                            cond: Column, m: SetMeasure, t: Double,
                            nGroups: Long, shardSize: Long): DataFrame = {
    // empty sets never pair (the prefix core never generates them as
    // candidates; here they'd put 0/0 — an ANSI divide-by-zero — into
    // the loop), so they are excluded before it
    val masked = groups.filter(col("__n") > 0)
      .select(col("__gid"),
        col("__n").cast("double").as("__nn"),
        maskOf(col("__tok"), vocab).as("__mask"))
    val par = groups.sparkSession.sparkContext.defaultParallelism
    val a = masked.toDF("__ga", "__na", "__ma").repartition(par)
    broadcastShards(masked, nGroups, shardSize).map { sh =>
      val b = broadcast(sh.toDF("__gb", "__nb", "__mb"))
      measured(a.join(b, cond)
          .withColumn("__i",
            bit_count(col("__ma").bitwiseAND(col("__mb"))).cast("double")),
          m, Some(t), col("__i"), col("__na"), col("__nb"))
        .select(("__ga" +: "__gb" +: m.names).map(col): _*)
    }.reduce(_ unionByName _)
  }

  /** Rarity-prefix core over distinct-set groups, the
    * general-vocabulary engine of [[setGrainPairs]]: rarity ranking,
    * prefix slicing and verification shared, the candidate join per
    * measure ([[jaccardCandidates]], [[containmentCandidates]]; the
    * bounds are in the two operators' scaladocs). */
  private def prefixSetPairs(groups: DataFrame, m: SetMeasure, t: Double,
                             tEff: Double, maxBucketSize: Int): DataFrame = {
    val toks = groups.select(col("__gid"), col("__n"),
      explode(col("__tok")).as("__t"))
    val dfreq = toks.groupBy("__t").agg(count(lit(1)).as("__df"))
    // rarity order = (df asc, token asc): deterministic global total
    // order with every set's rarest tokens first; sorting happens
    // per-row inside the rebuilt array, not in a cluster sort
    val ranked = toks.join(dfreq, "__t")
      .groupBy("__gid")
      .agg(transform(sort_array(collect_list(
        struct(col("__df"), col("__t")))), s => s.getField("__t"))
        .as("__sorted"))
    // prefix length |A| - ceil(t·|A|) + 1; the 1e-9 slack keeps an
    // exactly-representable product like 0.8·5 from ceiling UP on
    // binary-float noise, which would shorten the prefix and
    // silently break completeness
    val pref = ranked.withColumn("__n", size(col("__sorted")))
      .withColumn("__p", (col("__n") -
        ceil(lit(tEff) * col("__n") - lit(1e-9)) + 1).cast("int"))
      .select(col("__gid"), col("__n"),
        explode(slice(col("__sorted"), lit(1),
          greatest(col("__p"), lit(0))))
          .as("__pt"))
    val cand = m match {
      case Jaccard     => jaccardCandidates(pref, tEff, maxBucketSize)
      case Containment => containmentCandidates(toks, pref, tEff)
    }
    val sa = groups.select(col("__gid").as("__ga"), col("__tok").as("__ta"))
    val sb = groups.select(col("__gid").as("__gb"), col("__tok").as("__tb"))
    // __tok is sorted at construction (tokenSetGroups) — the
    // sorted-merge count kernel applies
    measured(cand.join(sa, Seq("__ga")).join(sb, Seq("__gb"))
        .withColumn("__i", graft.functions.native
          .intersect_count_sorted(col("__ta"), col("__tb")).cast("int")),
        m, Some(t), col("__i").cast("double"),
        size(col("__ta")), size(col("__tb")))
      .select(("__ga" +: "__gb" +: m.names).map(col): _*)
  }

  /** Jaccard candidates: group pairs sharing a prefix token, size-ratio
    * pruned before the pair-dedup shuffle. Postings here count GROUPS,
    * which only tightens the `maxBucketSize` bound — a group posting
    * is never longer than the doc posting it replaces. */
  private def jaccardCandidates(pref: DataFrame, tEff: Double,
                                maxBucketSize: Int): DataFrame = {
    val posting =
      if (maxBucketSize == Int.MaxValue) pref
      else {
        val small = pref.groupBy("__pt")
          .agg(count(lit(1)).as("__psz"))
          .filter(col("__psz") <= maxBucketSize && col("__psz") > 1)
          .select("__pt")
        pref.join(small, Seq("__pt"))
      }
    val a = posting.select(col("__pt"), col("__gid").as("__ga"),
      col("__n").as("__na"))
    val b = posting.select(col("__pt"), col("__gid").as("__gb"),
      col("__n").as("__nb"))
    a.join(b, Seq("__pt"))
      .filter(jaccardPairCond(tEff))
      .groupBy("__ga", "__gb")
      .agg(count(lit(1)).as("__shared_prefix"))
  }

  /** Containment candidates: each group probes with its prefix
    * against every group's FULL token postings (the containing side
    * contributes all its tokens), pruned on the necessary size
    * condition, then renormalized to `__ga < __gb` and deduplicated. */
  private def containmentCandidates(toks: DataFrame, pref: DataFrame,
                                    tEff: Double): DataFrame = {
    val probe = pref.select(col("__gid").as("__probe"),
      col("__n").as("__np"), col("__pt"))
    // the index is the FULL token stream in principle, but a token in
    // nobody's prefix can never seed a candidate — semi-joining the
    // stream down to the distinct prefix vocabulary drops the bulk of
    // every set's common tokens before the candidate shuffle (the
    // prefix vocabulary is the corpus's rare tail by construction)
    val prefVocab = probe.select(col("__pt").as("__t")).distinct()
    val index = toks.join(prefVocab, Seq("__t"))
      .select(col("__gid").as("__idx"), col("__n").as("__ni"),
        col("__t"))
    probe.join(index, col("__pt") === col("__t"))
      .filter(col("__probe") =!= col("__idx") &&
        // c_probe = i/np ≥ t needs i ≥ t·np and i ≤ min(np, ni),
        // so the indexed side must be at least t·np tokens
        col("__ni") + lit(1e-9) >= col("__np") * lit(tEff))
      .select(least(col("__probe"), col("__idx")).as("__ga"),
        greatest(col("__probe"), col("__idx")).as("__gb"))
      .distinct()
  }

  /** All ordered (a < b) pairs from a SORTED id array, as structs —
    * the within-group expansion of identical-set members. Arrays are
    * group-member lists (small); the quadratic here is the true
    * output size, not wasted candidates. */
  private def orderedPairs(sortedIds: Column): Column =
    flatten(transform(sortedIds, (x, i) =>
      transform(slice(sortedIds, i + lit(2), size(sortedIds)),
        y => struct(x.as("a"), y.as("b")))))

  /** The set-grain body behind [[prefixFilterJaccardPairs]] and
    * [[containmentPairsPrefix]] (the former's scaladoc has the bound,
    * the dense escape hatch and the cap): every (a < b) doc pair whose
    * rounded measure `m` passes `t`, at DISTINCT-SET grain. Two
    * bounded actions pick the core — the group census (which
    * materializes the persist) and the ≤63-row vocabulary collect; a
    * tiny vocabulary ALWAYS routes dense, sharded past `shardSize`
    * (a spec hook: the operators run at [[denseCoreMaxGroups]]). */
  private[graft] def setGrainPairs(df: DataFrame, idCol: String,
                                   textCol: String, m: SetMeasure,
                                   t: Double,
                                   maxBucketSize: Int = Int.MaxValue,
                                   shardSize: Long = denseCoreMaxGroups)
      : DataFrame = {
    // the FINAL filter accepts the 6-dp-ROUNDED value ≥ t, so a pair
    // at true value t - 5e-7 can legitimately pass — candidate
    // generation (prefix length, size filters) must therefore run at a
    // slightly relaxed threshold or those round-up borderline pairs
    // would be pruned before verification ever sees them
    val tEff = t - 1e-6
    val groups = tokenSetGroups(df, idCol, textCol)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val nGroups = groups.count()
    val vocab =
      if (maxBucketSize == Int.MaxValue) smallUniverse(groups)
      else None
    // (__ga < __gb, measure) pairs at distinct-set grain, the measure
    // columns oriented lower group id first
    val gp = vocab match {
      case Some(v) =>
        val cond = m match {
          case Jaccard     => jaccardPairCond(tEff)
          case Containment => col("__ga") < col("__gb")
        }
        denseSetPairs(groups, v, cond, m, t, nGroups, shardSize)
      case None => prefixSetPairs(groups, m, t, tEff, maxBucketSize)
    }
    // expand to doc pairs: cross-group via member lists (group ids
    // don't order member ids — least/greatest renormalizes, and the
    // measure re-orients with it), plus within-group identical-set
    // pairs at exactly 1.0 (empty sets excluded: 0/0 is null)
    val ma = groups.select(col("__gid").as("__ga"),
      col("__members").as("__mas"))
    val mb = groups.select(col("__gid").as("__gb"),
      col("__members").as("__mbs"))
    val cross = gp.join(ma, "__ga").join(mb, "__gb")
      .select((m.names.map(col) :+ explode(col("__mas")).as("__x") :+
        col("__mbs")): _*)
      .select((m.names.map(col) :+ col("__x") :+
        explode(col("__mbs")).as("__y")): _*)
      .select((least(col("__x"), col("__y")).as("id_a") +:
        greatest(col("__x"), col("__y")).as("id_b") +:
        m.renormalized(col("__x") < col("__y"))): _*)
    val within = groups
      .filter(col("__n") > 0 && size(col("__members")) > 1)
      .select(explode(orderedPairs(col("__members"))).as("__pr"))
      .select((col("__pr.a").as("id_a") +: col("__pr.b").as("id_b") +:
        m.names.map(lit(1.0).as(_))): _*)
    val out = cross.unionByName(within)
      // eager localCheckpoint, not persist: the result must
      // materialize before the corpus-scale group cache is released,
      // and checkpoint storage is reclaimed by the context cleaner
      // when the frame is no longer referenced — a persist here had
      // no unpersist path, so long sessions calling the operator
      // repeatedly accumulated cached partitions forever
      .localCheckpoint(true)
    groups.unpersist()
    out
  }

  /** Within-block pairs — the blocked shape behind
    * [[ngramJaccardPairs]] and [[containmentPairs]]: every (a < b)
    * pair sharing all `blockCols`, in blocks of 2 to `maxBlockSize`
    * documents, with `m`'s columns (kept at `threshold` when given). */
  private def blockedPairs(df: DataFrame, idCol: String, textCol: String,
                           blockCols: Seq[String], maxBlockSize: Int,
                           m: SetMeasure, threshold: Option[Double])
      : DataFrame = {
    // tokens are hashed ONCE per doc (xxhash64 → long) so the
    // per-pair intersect hashes primitives, not strings — a doc's
    // tokens would otherwise be re-hashed for every pair it appears
    // in (measured 3.3× on the verify stage). Set equality over
    // 64-bit hashes is exact up to collisions (≈ |A|·|B|/2⁶⁴ per
    // pair); the string-set DuckDB oracle hash-matching at the gate
    // proves collision-freedom on the corpus. Sorted per doc: the
    // per-pair intersect is then the allocation-free sorted-merge
    // count (intersect_count_sorted), not a per-pair hash-set build —
    // measured ~6× on the zipf corpus's B²-shaped blocked stage,
    // where the old size(array_intersect) was the whole cost.
    val base = df.select((col(idCol).as("doc_id") +:
      sort_array(transform(array_distinct(TextOps.tokens(col(textCol))),
        t => xxhash64(t))).as("__tok") +:
      blockCols.map(col)): _*)
    // block-size prune carries only the blocking key, never the
    // tokens. Deliberately NOT persisted (r14, revisiting ADVICE
    // r13): the census subtree is kept PLAN-IDENTICAL to the one
    // [[droppedBlockStats]] builds, so when a caller composes pairs
    // + accounting (the registry posture) AQE reuses ONE exchange
    // for both at execution — a persisted census here breaks that
    // identity and the accounting fold re-scans the corpus in-plan
    // (audited: +1 full-data exchange on ngram_jaccard_topk). The
    // salt derivation's construction-time collect does evaluate the
    // census once more as a side job; persisting would merely move
    // that scan onto the accounting path, not remove it.
    val blockCensus = df.groupBy(blockCols.map(col): _*)
      .agg(count(lit(1)).as("__bsz"))
      .filter(col("__bsz") <= maxBlockSize && col("__bsz") > 1)
    val smallBlocks = blockCensus.select(blockCols.map(col): _*)
    // tiny-universe fast path: when the corpus vocabulary fits a
    // 63-bit mask, the pair stage carries an 8-byte mask per doc
    // instead of a token array, and the per-pair intersect is two
    // popcounts — the B²/2 within-block work becomes fused arithmetic
    // (the array form's arithmetic, empty-set pairs included: under
    // ANSI their 0/0 fails in both). The census is one token-grain
    // distinct, ~free next to the quadratic stage it can save.
    val (enc, iCol, nOf) = smallUniverse(base) match {
      case Some(v) => (
        base.select((col("doc_id") +:
          maskOf(col("__tok"), v).as("__tok") +: blockCols.map(col)): _*),
        (ta: Column, tb: Column) => bit_count(ta.bitwiseAND(tb)),
        (s: Column) => bit_count(s))
      case None => (base,
        (ta: Column, tb: Column) => graft.functions.native
          .intersect_count_sorted(ta, tb),
        (s: Column) => size(s))
    }
    val a = enc.toDF(("id_a" +: "__ta" +: blockCols): _*)
      .join(smallBlocks, blockCols)
    val b = enc.toDF(("id_b" +: "__tb" +: blockCols): _*)
    // pinned-width SALTED pair join (Relational.computeDensePairJoin):
    // MBs of token payload are byte-small but intersect-dense, so
    // AQE's byte-advisory coalescing would collapse the quadratic
    // stage; and block COUNT ≥ cores is not enough when block WORK is
    // B²-concentrated — a hot language's blocks hold most of the
    // quadratic work (measured at sf4: the 10 en-blocks of 10k docs
    // carry ~500M of the ~560M pairs, pinning half the stage onto the
    // few tasks those blocks hash to). The salt count derives from
    // the block-work census (max B² vs Σ B² — pairWorkSalts), so a
    // hotter corpus splits wider without a human re-measuring (the
    // r12 hand-pin of 4 came from exactly that measurement).
    measured(Relational.computeDensePairJoin(a, b, blockCols,
          nSalts = Relational.pairWorkSalts(blockCensus, "__bsz"))
        .filter(col("id_a") < col("id_b"))
        .withColumn("__i", iCol(col("__ta"), col("__tb"))),
        m, threshold, col("__i").cast("double"),
        nOf(col("__ta")), nOf(col("__tb")))
      .select((blockCols ++ Seq("id_a", "id_b") ++ m.names).map(col): _*)
  }

  /** EXACT token-set Jaccard pair join at `threshold` with
    * prefix-filter candidate generation — the deterministic scale
    * path the blocked all-pairs forms ([[ngramJaccardPairs]],
    * [[containmentPairs]]) lack, and the exact complement to the
    * probabilistic LSH family: output is provably ALL pairs with
    * rounded jaccard ≥ t, no banding miss probability, no bucket-cap
    * recall trade (default cap is uncapped).
    *
    * The published AllPairs/PPJoin bound (Bayardo et al. WWW'07;
    * Xiao et al. WWW'08): under ANY common total token order, if
    * `J(A,B) ≥ t` then `|A∩B| ≥ ⌈t·|A|⌉` (since `|B| ≥ |A∩B|`), so
    * the first `|A| - ⌈t·|A|⌉ + 1` tokens of A — its PREFIX — and
    * B's prefix must share a token. Candidates are therefore pairs
    * sharing ≥ 1 prefix token, a tiny fraction of all pairs when the
    * order puts RARE tokens first (each doc's prefix is its rarest
    * tokens, whose postings are short by definition).
    *
    * Scale shape (all stages at DISTINCT-SET grain — see
    * [[setGrainPairs]]; docs with equal token sets collapse before
    * any quadratic work and expand back at the end, within-group
    * pairs emitted at jaccard 1.0 directly):
    *  - token frequencies: one vocab-grain aggregate;
    *  - rarity-sorting: one per-set aggregate (sort is per-row,
    *    inside the array);
    *  - the candidate self-join carries (prefix-token, id, set-size)
    *    ONLY — token arrays never enter the candidate shuffle (the
    *    minhashCandidates slimness rule);
    *  - a size filter (`t·max ≤ min`) prunes candidates before the
    *    pair-dedup shuffle;
    *  - payload verification joins run only for surviving pairs.
    * Explode width is Σ(prefix sizes) ≈ (1-t)·corpus tokens — at
    * t = 0.8, a fifth of the corpus token stream, shrinking as the
    * threshold rises.
    *
    * DEGENERATE-VOCABULARY ESCAPE HATCH: prefix filtering assumes
    * rare tokens exist. On a tiny-universe corpus (tag sets,
    * categorical baskets, template boilerplate) every posting is
    * corpus-hot and candidate generation explodes quadratically
    * (measured on a 28-token corpus at sf4: 3.4 B candidates, 70 GB
    * spill, 1044 s — for a 46 M-pair true answer DuckDB produced in
    * 6.5 s). When the vocabulary fits a 63-bit mask
    * ([[smallUniverse]]) the core switches to [[denseSetPairs]]:
    * each set is ONE long, all M²/2 group pairs are checked by fused
    * popcount arithmetic under a width-pinned broadcast loop — exact,
    * no candidate structure at all, and faster than any filter when
    * filters can't prune (before/after measured in BASELINE.md's sf4
    * row). The dense
    * core ignores `maxBucketSize` (nothing to cap — so a non-default
    * cap forces the prefix core, which the cap spec exploits).
    *
    * `maxBucketSize` (default uncapped — this operator's contract is
    * exactness) optionally drops prefix-token postings longer than
    * the cap — the 100 TB safety valve. Threshold↔hotness: the
    * prefix length is ≈ (1-t)·|A| + 1, so a LOW threshold puts most
    * of every document into its prefix, COMMON tokens included —
    * their postings are corpus-hot and the candidate join on them is
    * quadratic. At high t prefixes hold only each doc's rarest
    * tokens and the cap rarely binds. Drop semantics when it does
    * bind: a true pair is lost iff EVERY prefix token the two docs
    * share is over the cap (one surviving shared rare token keeps
    * the pair — candidates need any single common posting); postings
    * of size 1 generate no candidates and are always pruned. Corpora
    * where rare-token postings still exceed the cap are
    * mass-duplicated boilerplate — the LSH family's documented
    * territory. Capped-path contract spec'd in DedupSpec
    * ("maxBucketSize cap").
    *
    * @return (id_a, id_b, jaccard) with id_a < id_b, jaccard rounded
    *         to 6 dp and filtered on the rounded value (oracle
    *         discipline, as [[minhashNearDupPairs]]) */
  def prefixFilterJaccardPairs(df: DataFrame, idCol: String,
                               textCol: String, threshold: Double,
                               maxBucketSize: Int = Int.MaxValue)
      : DataFrame = {
    require(threshold > 0 && threshold <= 1, s"threshold=$threshold")
    setGrainPairs(df, idCol, textCol, Jaccard, threshold, maxBucketSize)
  }

  // ------------------------------------------------------------------
  // n-gram Jaccard
  // ------------------------------------------------------------------

  /** WORK-BUDGET-derived block cap for the exact verification tiers —
    * the registry default since r15 (VERDICT r14 "what's wrong #2":
    * the fixed 10000 was a human-picked constant the scale legs
    * outgrew — zipf8's survivors sat at ~2/3 cap, the documented
    * worst point of the capped-posture walk, and `containment_dedup`
    * paid 400 s where the measured cap-4000 posture costs ~66 s
    * including LSH-on-dropped). The tier's work is bounded by
    * #blocks × cap²/2 REGARDLESS of corpus size (the invariant
    * SCALING.md "Round-14: the capped production posture" records;
    * leg `tools/CappedTierLeg`, source at 3f71aa0), so the cap
    * becomes the derived quantity: the largest cap whose worst-case
    * pair mass stays inside `pairBudget`, i.e.
    * `floor(sqrt(2·budget / #blocks))`, clamped to [2, capCeil].
    * #blocks counts non-null-key blocks with at least 2 documents —
    * the only ones that can produce pairs — the SAME
    * census subtree the operators and [[droppedBlockStats]] already
    * fold, evaluated once driver-side (block-count-grain, the
    * pairWorkSalts collect discipline).
    *
    * Default budget 320M pairs ≈ the tier mass the measured postures
    * clear in about a minute at local[32] (same SCALING.md section,
    * zipf4: ~163M surviving pairs → 77.6 s); on the zipf leg family's
    * 40-block shape it derives cap = 4000 — exactly the posture the
    * leg measured as the efficient escape point (tier collapses
    * toward its census, oversized blocks ride LSH with the drop
    * accounted). A corpus with more blocks derives a tighter cap so
    * the stage's total work stays budget-bounded; fewer blocks relax
    * it up to `capCeil`. Deterministic and engine-portable: a pure
    * integer/sqrt function of the block census, so an oracle
    * re-derives the identical cap in SQL (IEEE-exact sqrt both
    * engines). Degenerate no-pairable-blocks census (n = 0) returns
    * `capCeil` — no block can produce pairs, the value is inert. */
  def workBudgetCap(df: DataFrame, blockCols: Seq[String],
                    pairBudget: Long = 320000000L,
                    capCeil: Int = 10000): Int = {
    val n = df.filter(blockCols.map(col(_).isNotNull).reduce(_ && _))
      .groupBy(blockCols.map(col): _*)
      .agg(count(lit(1)).as("__bsz"))
      .filter(col("__bsz") > 1)
      .count()
    if (n == 0L) capCeil
    else math.min(capCeil.toLong, math.max(2L,
      math.sqrt(2.0 * pairBudget / n).toLong)).toInt
  }

  /** Dropped-block accounting for the block-capped pair operators
    * ([[ngramJaccardPairs]], [[containmentPairs]]): ONE row —
    * `dropped_blocks` (blocks whose population exceeds
    * `maxBlockSize`) and `dropped_docs` (total documents inside
    * them). The caps are a deliberate cartesian-bomb guard, but a
    * silent drop reads as "covered everything" to a 100 TB operator
    * — cross-join (broadcast) this onto the pair output, or run it
    * as a side metric, so the coverage loss is VISIBLE (the repo's
    * no-silent-caps principle; VERDICT r8 wrong #3). Cost: one
    * block-grain global fold — the per-block count aggregate is the
    * SAME subtree as the operators' small-block prune (identical
    * null-key filter, below), so when cross-joined onto their output
    * Catalyst reuses that exchange and only the tiny block-grain
    * SinglePartition fold is new. Null-key docs are excluded on both
    * sides to keep the subtrees canonical — they never enter the
    * pair join anyway (inner-join block semantics), so they are not
    * a size-cap drop. */
  def droppedBlockStats(df: DataFrame, blockCols: Seq[String],
                        maxBlockSize: Int = 10000): DataFrame =
    df.filter(blockCols.map(col(_).isNotNull).reduce(_ && _))
      .groupBy(blockCols.map(col): _*)
      .agg(count(lit(1)).as("__bsz"))
      .agg(
        coalesce(sum(when(col("__bsz") > maxBlockSize, 1L)), lit(0L))
          .as("dropped_blocks"),
        coalesce(sum(when(col("__bsz") > maxBlockSize, col("__bsz"))),
          lit(0L)).as("dropped_docs"))

  /** Exact token-set Jaccard for all (a < b) pairs within a blocking
    * key (e.g. language+source) — the verification-quality measure,
    * viable when blocks are small; the body is [[blockedPairs]].
    *
    * Blocks larger than `maxBlockSize` are DROPPED, same policy as the
    * hot-bucket caps in [[minhashCandidates]] and
    * [[simhashNearDupPairs]]: the self-join is B²/2 within a block, so
    * without a cap one hot block (lang='en', source='web' at corpus
    * scale) is a cartesian bomb; oversized blocks belong to the LSH
    * paths, which are built for them. Pair with
    * [[droppedBlockStats]] so the drop is accounted, not silent. */
  def ngramJaccardPairs(df: DataFrame, idCol: String, textCol: String,
                        blockCols: Seq[String],
                        maxBlockSize: Int = 10000): DataFrame =
    blockedPairs(df, idCol, textCol, blockCols, maxBlockSize, Jaccard, None)

  /** Exact token-set CONTAINMENT for all (a < b) pairs within a
    * blocking key: `containment_a = |A∩B| / |A|` (the fraction of A's
    * distinct tokens that also appear in B) and symmetrically
    * `containment_b`. Containment is the doc-IN-doc measure Jaccard
    * misses: a short document wholly quoted inside a long one scores
    * containment 1.0 but Jaccard ≈ |A|/|B| ≈ 0 — exactly the
    * boilerplate-inclusion / quote-plagiarism case a training-corpus
    * curation pass must catch (broder97 resemblance-vs-containment
    * distinction).
    *
    * The same [[blockedPairs]] body and block-cap policy as
    * [[ngramJaccardPairs]] (this is the small-block verification
    * measure; corpus-scale candidate generation stays LSH's job —
    * min-wise containment sketches would slot in exactly like the
    * minhash path). Pairs below `minContainment` in BOTH directions
    * are dropped map-side, before the result shuffle. */
  def containmentPairs(df: DataFrame, idCol: String, textCol: String,
                       blockCols: Seq[String], minContainment: Double,
                       maxBlockSize: Int = 10000): DataFrame =
    blockedPairs(df, idCol, textCol, blockCols, maxBlockSize, Containment,
      Some(minContainment))

  /** EXACT corpus-global containment pair join via ASYMMETRIC prefix
    * filtering — [[containmentPairs]] without blocking keys, block
    * caps, or data drops: every (a < b) pair whose rounded
    * containment reaches `minContainment` in EITHER direction, over
    * the whole input. The scale path the blocked form lacks: its
    * cap DROPS oversized blocks (accounted, but dropped); this form
    * is complete by the same published bound family as
    * [[prefixFilterJaccardPairs]] (Bayardo et al. WWW'07), adapted to
    * the asymmetric measure.
    *
    * The asymmetric bound: `|A∩B|/|A| ≥ t` forces `|A∩B| ≥ ⌈t·|A|⌉`,
    * so B must hold at least one of A's first `|A| − ⌈t·|A|⌉ + 1`
    * rarity-ordered tokens (miss them all and the overlap tops out at
    * `⌈t·|A|⌉ − 1 < t·|A|`). Only the DENOMINATOR side's prefix is
    * bounded — the containing side contributes its FULL token list to
    * the index (any of its tokens can be the shared rare one). Each
    * doc therefore probes with its prefix against every doc's full
    * postings; the union over both probe directions covers the OR of
    * the two containments, and candidates prune on the necessary size
    * condition `|B| ≥ t·|A|` (the containing side cannot be shorter
    * than the required overlap) before the pair-dedup shuffle.
    *
    * Scale shape: the [[setGrainPairs]] body, dense escape hatch
    * and slim candidate shuffle of [[prefixFilterJaccardPairs]]
    * (within-group pairs at containment 1.0/1.0). Candidate width is
    * Σ_tokens |prefixPosting| × |fullPosting| — corpus-linear when
    * prefixes hold only rare tokens (high t), and OUTPUT-bound in
    * the degenerate case (a 1-token doc's prefix is its whole self;
    * its true containment fan-out IS every doc sharing that token —
    * exactness has no smaller answer).
    *
    * @return (id_a, id_b, containment_a, containment_b) with
    *         id_a < id_b, both rounded to 6 dp and filtered on the
    *         rounded values (oracle discipline). */
  def containmentPairsPrefix(df: DataFrame, idCol: String,
                             textCol: String,
                             minContainment: Double): DataFrame = {
    require(minContainment > 0 && minContainment <= 1,
      s"minContainment=$minContainment")
    setGrainPairs(df, idCol, textCol, Containment, minContainment)
  }

  // ------------------------------------------------------------------
  // Incremental cross-batch dedup (continuous corpus curation)
  // ------------------------------------------------------------------

  /** Incremental MinHash dedup: dedupe a NEW batch of documents
    * against everything previously accepted, using a persisted LSH
    * index — the continuous form of [[minhashNearDupPairs]] for a
    * corpus that grows daily. A one-shot re-dedup of the whole corpus
    * per batch is O(corpus) per day; this is O(batch + matched
    * buckets).
    *
    * The index is two parquet tables under `indexDir`:
    * `band_index(doc_id, band)` — joined against the new batch's
    * bands for cross-batch candidates — and `sig_store(doc_id,
    * __tokset, __sig)` — the verification payload for matched
    * candidates only. A new doc is DROPPED if it verifies (exact
    * hashed-token Jaccard ≥ threshold) against any previously
    * accepted doc, or against ANY earlier-id doc within its own
    * batch — whether or not that earlier doc itself survives. This
    * is the single-pass greedy filter: on a transitive chain A~B,
    * B~C (A≁C) both B and C are dropped (the chain collapses to
    * its representative), which over-drops relative to a strict
    * only-survivors-eliminate policy. That policy would need an
    * iterative connected-components pass (multi-round shuffles over
    * the candidate graph); the greedy form is deterministic,
    * order-independent, and one shuffle — the right trade for a
    * daily 100 TB batch, and the convention used by large-corpus
    * dedup pipelines. Survivors' bands and signatures are appended
    * to the index, so the next batch dedups against them too.
    *
    * Scale shapes as the batch form: candidates carry ids only, the
    * signatures/bands are computed ONCE per batch and reused by both
    * the within-batch and cross-batch stages, and the band join is
    * capped: bucket sizes are measured over newBands ∪ band_index, so
    * a degenerate hot band (boilerplate shingles accumulating in the
    * index across batches) is dropped from candidate generation
    * instead of producing |new hot| × |old hot| pairs.
    *
    * The signature shape is fixed at the batch form's defaults
    * (3-token shingles, 64 hashes, 16 bands, hot-band cap 50): the
    * index stores band keys, so every batch appended to one index must
    * band the same way.
    *
    * @return surviving new docs (doc_id + original columns). */
  def incrementalMinhashDedup(newDocs: DataFrame, idCol: String,
                              textCol: String, indexDir: String,
                              threshold: Double = 0.8): DataFrame = {
    val spark = newDocs.sparkSession
    val shingleSize = 3
    val numHashes = 64
    val bands = 16
    val maxBucketSize = 50
    val rowsPerBand = numHashes / bands
    val sigs = signatureTable(newDocs, idCol, textCol, shingleSize,
      numHashes).persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val newBands = sigs.select(col("doc_id"),
      explode(lshBandKeys(col("__sig"), bands, rowsPerBand)).as("band"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)

    val haveIndex = graft.io.Staging.tableExists(spark, indexDir, "band_index")
    // KEY scale shape (measured in IndexScaleStress): only index rows
    // whose band THE BATCH TOUCHES can ever produce a candidate, so
    // the historical side is semi-filtered by the batch's band set —
    // broadcast-sized (16 bands × batch docs) — BEFORE the sizing
    // aggregate and the candidate join. Without this the cross-batch
    // stage shuffles the WHOLE band index every batch (O(corpus
    // indexed so far), measured growing linearly with the index);
    // with it the shuffle is O(batch + matching index rows), which is
    // what makes day-N maintenance cost the same as day-1. Dropping
    // untouched bands changes nothing semantically: they can appear
    // in neither candidate set.
    // The semi-filter frames below (batch band set, candidate id set)
    // scale with BATCH size, not index size — but "batch" can mean a
    // multi-million-doc daily drop, past Spark's 8 GB broadcast limit.
    // Gate the broadcast hint on the measured batch size (sigs is
    // persisted; the count materializes the cache it needs anyway)
    // instead of force-hinting: over the threshold the joins fall back
    // to shuffle and AQE still converts them at runtime if the
    // measured build side turns out small.
    val batchDocs = sigs.count()
    val hintBroadcast = batchDocs * bands <= 2000000L
    def semiSide(df: DataFrame): DataFrame =
      if (hintBroadcast) broadcast(df) else df
    val batchBands = newBands.select("band").distinct()
    val bandIndex =
      if (haveIndex)
        graft.io.Staging.readTable(spark, indexDir, "band_index")
          .join(semiSide(batchBands), Seq("band"))
      else newBands.limit(0)
    // hot-band cap over the UNION of batch and historical bands.
    // DISTINCT doc_id per band: the index appends are at-least-once
    // under streaming replay, and raw-row counting would let
    // duplicate index rows inflate a legitimate band past the cap,
    // silently disabling dedup for it
    val smallBands = newBands.select("band", "doc_id")
      .unionByName(bandIndex.select("band", "doc_id"))
      .groupBy("band").agg(countDistinct(col("doc_id")).as("__bsz"))
      .filter(col("__bsz") <= maxBucketSize && col("__bsz") > 1)
      .select("band")
    // prunedNew feeds the cross pairs and both sides of the within
    // self-join; smallBands has this single consumer, so only
    // prunedNew needs the cache
    val prunedNew = newBands.join(smallBands, Seq("band"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)

    def verified(pairs: DataFrame, rightTokset: DataFrame): DataFrame =
      pairs
        .join(sigs.select(col("doc_id").as("new_id"),
          col("__tokset").as("__tn")), Seq("new_id"))
        .join(rightTokset, Seq("other_id"))
        // __tokset sorted at construction (signatureTable); persisted
        // sig_store rows are sorted by format marker or re-sorted on
        // load (see crossDropped's format guard)
        .withColumn("__i", graft.functions.native
          .intersect_count_sorted(col("__tn"), col("__to")))
        // round(,6) matches minhashNearDupPairs exactly, so the batch
        // and incremental paths classify threshold-boundary pairs
        // identically
        .withColumn("jaccard", round(col("__i").cast("double") /
          (size(col("__tn")) + size(col("__to")) - col("__i")), 6))
        .filter(col("jaccard") >= threshold)
        .select("new_id").distinct()

    // cross-batch: new docs matching any accepted doc's band
    val crossDropped =
      if (!haveIndex) null
      else {
        // sig_store format guard (ADVICE r13): the sorted-merge verify
        // kernel (intersect_count_sorted) silently UNDERCOUNTS on
        // unsorted input, so an index written before the sorted-set
        // change (format marker absent) would quietly miss
        // near-duplicates. Legacy stores get a defensive
        // sort_array(__tokset) on load — cheap next to the verify
        // join it feeds (candidate-pruned rows only), and a no-op
        // on already-sorted data. Fresh indexes are stamped with the
        // format marker at creation (below), so the sort is skipped
        // on every store this code ever writes.
        val sigSorted = graft.io.Staging.readMarker(spark, indexDir,
          "sig_format").contains(SigStoreFormat)
        val sigStoreRaw = graft.io.Staging.readTable(spark, indexDir,
          "sig_store")
        val sigStore =
          if (sigSorted) sigStoreRaw
          else sigStoreRaw.withColumn("__tokset",
            sort_array(col("__tokset")))
        // the band equi-join runs over the batch-band-filtered index
        // side (see bandIndex above)
        val pairs = prunedNew.select(col("doc_id").as("new_id"),
            col("band"))
          .join(bandIndex.select(col("doc_id").as("other_id"),
            col("band")), Seq("band"))
          // a doc is never a duplicate of itself — also guards
          // re-evaluation after this batch's own append (see below)
          .filter(col("new_id") =!= col("other_id"))
          .select("new_id", "other_id").distinct()
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        // payload pre-prune, same reasoning as the band filter: only
        // candidates' token sets are needed for verification, so the
        // (index-sized, wide) sig_store is semi-filtered by the
        // candidate id set — cap-bounded, broadcastable — instead of
        // shuffling whole for the verify join
        val otherIds = pairs.select(col("other_id")).distinct()
        val out = verified(pairs,
          sigStore.select(col("doc_id").as("other_id"),
              col("__tokset").as("__to"))
            .join(semiSide(otherIds), Seq("other_id")))
          .localCheckpoint(true)
        pairs.unpersist()
        out
      }

    // within-batch (min-id survivor policy): candidates from the SAME
    // prebuilt bands — the batch's signatures are never recomputed
    val withinDropped = {
      val a = prunedNew.select(col("band"), col("doc_id").as("other_id"))
      val b = prunedNew.select(col("band"), col("doc_id").as("new_id"))
      val pairs = b.join(a, Seq("band"))
        .filter(col("new_id") > col("other_id")) // drop the LARGER id
        .select("new_id", "other_id").distinct()
      verified(pairs, sigs.select(col("doc_id").as("other_id"),
        col("__tokset").as("__to")))
    }

    val droppedIds =
      (if (crossDropped == null) withinDropped
       else withinDropped.unionByName(crossDropped).distinct())
        .withColumnRenamed("new_id", idCol)
    // localCheckpoint (not persist): the appends below REFRESH the
    // index paths, which invalidates any cached plan whose lineage
    // reads them — a merely-persisted survivors frame would silently
    // re-evaluate against the post-append index when the caller
    // collects it. Checkpointing truncates the lineage, freezing the
    // pre-append answer.
    val survivors = newDocs.join(droppedIds, Seq(idCol), "left_anti")
      .localCheckpoint(true)

    // append survivors to the index so the NEXT batch sees them
    val survivingSigs = sigs.join(
      survivors.select(col(idCol).as("doc_id")), Seq("doc_id"))
    graft.io.Staging.appendParquet(
      survivingSigs.select("doc_id", "__tokset", "__sig"),
      indexDir, "sig_store")
    graft.io.Staging.appendParquet(
      newBands.join(survivors.select(col(idCol).as("doc_id")),
        Seq("doc_id")),
      indexDir, "band_index")
    // Stamp the sorted-__tokset format ONLY when this call created
    // the index: a legacy (pre-marker) store keeps its defensive
    // sort-on-load forever — stamping it after a mixed append would
    // declare the OLD unsorted rows sorted and re-open the silent
    // undercount this marker exists to close.
    if (!haveIndex)
      graft.io.Staging.writeMarker(spark, indexDir, "sig_format",
        SigStoreFormat)
    sigs.unpersist()
    newBands.unpersist()
    prunedNew.unpersist()
    survivors
  }

  /** Incremental EXACT dedup: drop new-batch documents whose text
    * digest already exists in the persisted digest index, or appears
    * under a smaller id WITHIN the batch — the continuous form of
    * [[exactDedupByHash]] for a corpus that grows daily, and the
    * EXACT-equality sibling of [[incrementalMinhashDedup]]. Survivor
    * semantics are FIRST-ARRIVAL-WINS across batches (the only
    * causal choice a streaming pipeline can make: an already-
    * accepted doc is never retroactively evicted by a
    * smaller-id duplicate arriving later) and min-id within a batch
    * — so with batches processed in a known order, the surviving set
    * equals ranking each text group by (arrival batch, id) and
    * keeping the first, which is what the registry oracle encodes.
    *
    * Scale shape: the batch shuffles once on its 32-byte sha2-256
    * digest (text never shuffles) for the within-batch fold; the
    * cross-batch check anti-joins against the index SEMI-FILTERED by
    * the batch's digest set (broadcast when the batch is small, the
    * [[incrementalMinhashDedup]] gate) — the index is scanned
    * narrowly but only |index ∩ batch| rows ever shuffle, so day-N
    * maintenance shuffles O(batch + matched), not O(corpus).
    *
    * The index rows carry the SURVIVOR'S ID, and a match only kills
    * a DIFFERENT doc (the [[incrementalMinhashDedup]] self-exclusion
    * — `curatedCorpusStream`'s crash discipline): a REPLAYED batch
    * therefore re-emits exactly its original survivors (each matches
    * only its own index row) rather than silently emitting nothing —
    * a crashed run re-produces its output, and the sink-side id
    * anti-join ([[graft.streaming.StreamingOps.exactDedupStream]])
    * absorbs the duplicate emission. Replayed appends add duplicate
    * (digest, id) rows, which change no decision (spec-asserted).
    *
    * @return surviving new docs (original columns). */
  def incrementalExactDedup(newDocs: DataFrame, idCol: String,
                            textCol: String,
                            indexDir: String): DataFrame = {
    val spark = newDocs.sparkSession
    val hashed = newDocs.withColumn("__h", sha2(col(textCol), 256))
    val batchKept = Relational.dedupeByKeyMinStruct(hashed, Seq("__h"),
        Seq(col(idCol)))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val survivors =
      if (graft.io.Staging.tableExists(spark, indexDir, "digest_index")) {
        val batchDigests = batchKept.select(col("__h")).distinct()
        val side =
          if (batchKept.count() <= 1000000L) broadcast(batchDigests)
          else batchDigests
        val touched = graft.io.Staging
          .readTable(spark, indexDir, "digest_index")
          .toDF("__ih", "__iid")
          .join(side, col("__ih") === col("__h"), "left_semi")
        batchKept.join(touched,
          col("__h") === col("__ih") &&
            col(idCol) =!= col("__iid"), "left_anti")
      } else batchKept
    // freeze the answer before the append refreshes the index path
    // (the incrementalMinhashDedup lineage argument)
    val out = survivors.localCheckpoint(true)
    graft.io.Staging.appendParquet(
      out.select(col("__h"), col(idCol).as("__id")), indexDir,
      "digest_index")
    batchKept.unpersist()
    out.drop("__h")
  }

  // ------------------------------------------------------------------
  // Corpus-level duplicated-n-gram share (exact-substring dedup signal)
  // ------------------------------------------------------------------

  /** Per-document share of DISTINCT word n-grams that also occur in at
    * least one OTHER document — the corpus-level exact-substring
    * duplication signal (the metric behind suffix-array training-data
    * dedup: a high share means the doc is largely assembled from text
    * that exists elsewhere in the corpus, even when no single whole-doc
    * near-dup pair exists). Complements the per-doc repetition metrics
    * ([[TextOps.dupNgramFrac]] is WITHIN-doc; this is ACROSS-doc).
    *
    * Scale design: the n-gram universe is shuffled as 256-bit digests,
    * never as text (the exact-dedup digest-shuffle discipline applied
    * at n-gram grain), and NOTHING instance-grained is ever windowed
    * or joined back: the count window over the digest this replaces
    * put every occurrence of one gram into a single partition, so a
    * stopword phrase or boilerplate passage shared by 10⁸ documents
    * became one straggler task. Instead, ONE map-side-combinable fold
    * per digest — `groupBy(digest).agg(count, min(doc))` — yields
    * each gram's document frequency plus, for df = 1 grams, their
    * single OWNING doc; per-doc unique-gram counts then fold from the
    * vocabulary-sized digest frame alone (`n_dup = n_grams −
    * n_unique`), so the instance frame is never re-shuffled on the
    * gram key at all. Partial aggregation collapses a hot gram to one
    * row per input partition before any shuffle. Cost is linear in
    * total distinct (doc, gram) instances; no pairwise stage exists
    * at any scale. Docs with fewer than `n` tokens have no n-grams
    * and yield no row (callers treating absence as share-0 can
    * left-join the corpus). */
  def corpusDupNgramShare(df: DataFrame, idCol: String, textCol: String,
                          n: Int): DataFrame = {
    require(n >= 1, "n >= 1")
    // 128-bit gram digest as TWO independent-seed fused hash chains
    // ([[graft.functions.NgramHashes]]): no gram strings are ever
    // built (the interpreted transform+concat_ws+slice composition
    // was the query's dominant cost), and the shuffle key is 16 bytes
    // of longs rather than a 64-byte sha2 hex varchar — collision
    // probability ~1e-15 even at 10^12 distinct grams. Distinctness
    // of hash PAIRS equals distinctness of grams up to collisions, so
    // the per-doc distinct-gram set is taken over the pairs.
    // widened: the per-position double hash chain + per-doc distinct
    // dominates a narrow scan (OPTIMIZATION_r16.md §5: 1.17 → 0.75 s,
    // probe `tools/ScanWidthProbe`, source at 3f71aa0;
    // Relational.widenNarrowScan — no-op on wide scans)
    val grams = graft.ops.Relational.widenNarrowScan(df)
      .select(col(idCol), TextOps.tokens(col(textCol)).as("__tok"))
      .select(col(idCol), explode(array_distinct(arrays_zip(
        graft.functions.native.ngram_hashes(col("__tok"), n, 42L)
          .as("__g1"),
        graft.functions.native.ngram_hashes(col("__tok"), n, 1337L)
          .as("__g2")))).as("__g"))
      .select(col(idCol), col("__g.__g1").as("__g1"),
        col("__g.__g2").as("__g2"))
    // one (doc, gram)-keyed pre-agg exchange feeds BOTH per-doc
    // totals and the digest fold (AQE stage reuse — the corpus is
    // tokenized and hashed once, not once per consumer); grams are
    // distinct per doc, so count(*) per digest == document frequency,
    // and a df=1 gram has exactly one owner (= min doc id) — unique
    // counts fold from the vocabulary-sized frame, no instance-grain
    // join-back (see scale note)
    val docGram = grams
      .groupBy(col(idCol), col("__g1"), col("__g2")).count()
      .drop("count")
    val uniqPerDoc = docGram.groupBy("__g1", "__g2")
      .agg(count(lit(1)).as("__df"), min(col(idCol)).as("__owner"))
      .filter(col("__df") === 1)
      .groupBy(col("__owner").as(idCol))
      .agg(count(lit(1)).as("__n_uniq"))
    docGram.groupBy(col(idCol))
      .agg(count(lit(1)).as("n_grams"))
      .join(uniqPerDoc, Seq(idCol), "left")
      .withColumn("n_dup_grams",
        col("n_grams") - coalesce(col("__n_uniq"), lit(0L)))
      .withColumn("dup_share",
        round(col("n_dup_grams").cast("double") / col("n_grams"), 6))
      .drop("__n_uniq")
  }

  /** The span ops' shared front half ([[dupSpanCoverage]],
    * [[stripDupSpans]]): the token arrays `(id, __tok)` and the
    * per-(doc, gram) sorted start lists `(id, __g1, __g2, __is)`. Gram
    * digests are the fused 128-bit hash chains. This is the first
    * level of the two-level fold: starts collapse per (doc, gram) —
    * the doc id keys the shuffle, so no gram is ever hot and
    * within-doc repetition (boilerplate repeated 200× in one doc)
    * collapses to ONE row before anything gram-keyed happens. */
  private def spanStarts(df: DataFrame, idCol: String, textCol: String,
                         n: Int): (DataFrame, DataFrame) = {
    val toks = df.select(col(idCol),
      TextOps.tokens(col(textCol)).as("__tok"))
    val docGram = toks
      .select(col(idCol), posexplode(arrays_zip(
        graft.functions.native.ngram_hashes(col("__tok"), n, 42L)
          .as("__g1"),
        graft.functions.native.ngram_hashes(col("__tok"), n, 1337L)
          .as("__g2"))).as(Seq("__i", "__g")))
      .select(col(idCol), col("__i"),
        col("__g.__g1").as("__g1"), col("__g.__g2").as("__g2"))
      .groupBy(col(idCol), col("__g1"), col("__g2"))
      .agg(sort_array(collect_list(col("__i"))).as("__is"))
    (toks, docGram)
  }

  /** The token positions `(id, __p)` under the `n`-token windows of
    * the start lists in `starts` (`id`, `__is`). Re-keyed to the doc
    * BEFORE the explodes: the span ops' join output is
    * digest-clustered (a hot gram's rows concentrated in few
    * partitions), so exploding there would re-create the straggler
    * one stage later — and exchanging (doc, gram) rows ships n× fewer
    * rows than positions. The caller's per-doc fold reuses this
    * partitioning (no second exchange). */
  private def spanWindows(starts: DataFrame, idCol: String,
                          n: Int): DataFrame =
    starts.select(col(idCol), col("__is"))
      .repartition(col(idCol))
      .select(col(idCol), explode(col("__is")).as("__i"))
      .select(col(idCol),
        explode(sequence(col("__i"), col("__i") + (n - 1))).as("__p"))

  /** Duplicated-SPAN coverage, the token-position form of the
    * exact-substring dedup signal (Lee et al. 2022, "Deduplicating
    * Training Data Makes Language Models Better"): per document, how
    * many token positions are covered by at least one `n`-gram whose
    * TOTAL occurrence count across the corpus exceeds 1 (cross-doc
    * duplicates AND within-doc repeats both count — any repeated
    * passage). A span remover would strip exactly these positions;
    * this op emits the accounting a 100 TB curation run decides on:
    * `(id, n_tokens, n_covered, coverage)` for every document
    * (`n_covered = 0` for docs shorter than `n` tokens).
    *
    * Scale design: gram digests are the fused 128-bit hash chains
    * ([[graft.functions.NgramHashes]] — no gram strings exist), and
    * the occurrence accounting is a TWO-LEVEL fold, never a window:
    * starts first collapse per (doc, gram) — the doc id keys that
    * shuffle, so no gram is hot and within-doc repetition (all
    * occurrences count!) folds to one row — then total occurrence
    * counts fold combinably per digest, and the duplicated-digest
    * set semi-joins back at (doc, gram) grain, where a corpus-wide
    * boilerplate gram contributes one row PER DOC (AQE-skew-
    * splittable; at bench SF the dup frame broadcasts). The count
    * window this replaces pinned every occurrence of a hot gram to
    * one unsplittable partition. Covered positions are the exploded
    * `[i, i+n-1]` windows of duplicated gram starts, re-keyed to the
    * doc BEFORE the explode and distinct-counted per doc. The
    * explode factor is the constant `n`, so every stage is
    * corpus-linear; no pairwise stage exists.
    * Collision odds as [[corpusDupNgramShare]] (~1e-15; a binding
    * collision can only over-mark coverage, and the string-counting
    * DuckDB oracle doubles as the collision monitor at gate SF). */
  def dupSpanCoverage(df: DataFrame, idCol: String, textCol: String,
                      n: Int): DataFrame = {
    require(n >= 1, "n >= 1")
    val (toks, docGram) = spanStarts(df, idCol, textCol, n)
    val dupGrams = docGram.groupBy("__g1", "__g2")
      .agg(sum(size(col("__is"))).as("__occ"))
      .filter(col("__occ") > 1)
      .select("__g1", "__g2")
    val covered = spanWindows(
        docGram.join(dupGrams, Seq("__g1", "__g2"), "left_semi"), idCol, n)
      .groupBy(col(idCol))
      .agg(count_distinct(col("__p")).as("n_covered"))
    toks.select(col(idCol), size(col("__tok")).as("n_tokens"))
      .join(covered, Seq(idCol), "left")
      .withColumn("n_covered", coalesce(col("n_covered"), lit(0L)))
      .withColumn("coverage",
        when(col("n_tokens") === 0, lit(0.0))
          .otherwise(round(
            col("n_covered").cast("double") / col("n_tokens"), 6)))
  }

  /** Duplicated-span REMOVAL — the transform [[dupSpanCoverage]]
    * accounts for (Lee et al. 2022's exact-substring dedup, applied
    * at token grain): strip every token position covered by a
    * NON-CANONICAL occurrence of a corpus-duplicated `n`-gram, where
    * the canonical occurrence is the (doc, start)-minimal one — the
    * corpus keeps exactly one copy of every repeated passage (rather
    * than losing all copies), and the survivor choice is the same
    * min-id rule as the whole dedup family. Returns every input
    * document: `(id, n_tokens, n_removed, cleaned_text)` with
    * `cleaned_text` the kept tokens rejoined on single spaces.
    *
    * Scale shape: the [[dupSpanCoverage]] two-level fold. Starts
    * collapse per (doc, gram) under a doc-keyed shuffle (no hot
    * gram); occurrence count AND canonical occurrence then come from
    * ONE combinable digest fold — `agg(sum(sizes), min(struct(doc,
    * first start)))` — joined back at (doc, gram) grain, where a hot
    * gram is one row per doc (skew-splittable; broadcasts at bench
    * SF). The count-window + `row_number()`-window form this
    * replaces put every occurrence of a hot gram (boilerplate
    * repeated 10⁸ times) into a single window partition and then
    * SORTED it in one task; min-of-struct replaces the rank (the
    * canonical occurrence is exactly the (doc, start)-minimum — no
    * total order is ever materialized). Removal positions are a
    * constant-factor (`n`) explode of non-canonical dup starts,
    * re-keyed to the doc before exploding, folded per doc into a
    * sorted position array (ints — NOT the kept-token structs of the
    * previous form, whose aggregation state held every token string
    * of the largest document); the cleaned text is rebuilt by slicing
    * the original token array between consecutive removed positions
    * (O(tokens + removals) per doc, no per-token membership probe).
    * Per-doc state is bounded by the REMOVED-position count of the
    * largest document (4 bytes each), not its full token text. Every
    * stage corpus-linear, no pairwise stage. A position covered by
    * both a canonical occurrence of one gram and a non-canonical
    * occurrence of another is removed (removal wins), which is
    * exactly the overlap rule a sequential span-stripper applies. */
  def stripDupSpans(df: DataFrame, idCol: String, textCol: String,
                    n: Int): DataFrame = {
    require(n >= 1, "n >= 1")
    val (toks, docGram) = spanStarts(df, idCol, textCol, n)
    // one combinable fold per digest: total occurrences + the
    // (doc, start)-minimal occurrence (= the min-id doc's first
    // start — the min-struct is the skew-safe replacement for
    // ranking the digest's occurrences)
    val dupCanon = docGram.groupBy("__g1", "__g2")
      .agg(sum(size(col("__is"))).as("__occ"),
        min(struct(col(idCol).as("__cid"),
          element_at(col("__is"), 1).as("__ci"))).as("__canon"))
      .filter(col("__occ") > 1)
      .select("__g1", "__g2", "__canon")
    // removed positions = the n-token windows of every NON-canonical
    // occurrence of a duplicated gram: the canonical doc drops its
    // canonical start from its list (starts are distinct within a
    // doc), every other doc keeps its whole list; positions fold per
    // doc into one sorted int array (collect_set dedups overlaps)
    val rm = spanWindows(docGram
        .join(dupCanon, Seq("__g1", "__g2"))
        .withColumn("__is",
          when(col(idCol) === col("__canon.__cid"),
            array_remove(col("__is"), col("__canon.__ci")))
            .otherwise(col("__is"))), idCol, n)
      .groupBy(col(idCol))
      .agg(sort_array(collect_set(col("__p"))).as("__rm"))
    // rebuild by slicing __tok between consecutive removed positions:
    // bounds [-1, r_0 … r_k, n_tokens]; each adjacent pair (lo, hi)
    // with hi - lo > 1 keeps the 0-based positions lo+1 … hi-1
    // (1-based slice start lo+2, length hi-lo-1)
    toks.join(rm, Seq(idCol), "left")
      .withColumn("__rm", coalesce(col("__rm"),
        array().cast("array<int>")))
      .withColumn("__bounds", concat(array(lit(-1)), col("__rm"),
        array(size(col("__tok")))))
      .withColumn("cleaned_text", array_join(flatten(transform(
        filter(
          arrays_zip(
            slice(col("__bounds"), lit(1), size(col("__bounds")) - 1)
              .as("__lo"),
            slice(col("__bounds"), lit(2), size(col("__bounds")) - 1)
              .as("__hi")),
          p => p.getField("__hi") - p.getField("__lo") > 1),
        p => slice(col("__tok"), p.getField("__lo") + lit(2),
          p.getField("__hi") - p.getField("__lo") - lit(1)))), " "))
      .select(col(idCol), size(col("__tok")).cast("long").as("n_tokens"),
        size(col("__rm")).cast("long").as("n_removed"),
        col("cleaned_text"))
  }
}

/** Reference-counted session-conf gate for the iterative loops that
  * run with `spark.sql.adaptive.enabled=false`
  * ([[DedupOps.duplicateClusters]]). A bare get/set/restore-in-finally
  * races when two loops overlap on one session (possible whenever
  * queries are built concurrently — e.g. a parallel warmup): the
  * second enter reads the first's "false" as its restore value and
  * re-lands it on exit, permanently stripping AQE from the session.
  * Here the FIRST enter records the true prior value and flips the
  * conf; nested/overlapping enters only bump the count; the LAST exit
  * restores the recorded value. One coarse lock — enters happen at
  * most a handful of times per query, never per row.
  *
  * No thread-scoped replacement exists. A probe on Spark 4.1.2
  * cloned the session conf, set `spark.sql.adaptive.enabled=false`
  * on the clone and ran the loop's planning inside
  * `SQLConf.withExistingConf(clone)`: it still planned an
  * `AdaptiveSparkPlanExec`, while the control (the flag set on the
  * session) planned `WholeStageCodegenExec`. Classic planning reads
  * the session's own conf, not the thread's active one, so a query
  * planned on another thread while the gate is held still plans
  * without AQE (results are unaffected). */
private[ext] object AqeGate {
  private val key = "spark.sql.adaptive.enabled"
  private val state = new java.util.IdentityHashMap[
    org.apache.spark.sql.SparkSession, (Array[Int], String)]()
  def enter(spark: org.apache.spark.sql.SparkSession): Unit =
    state.synchronized {
      val e = state.get(spark)
      if (e == null) {
        val prev = spark.conf.get(key, "true")
        state.put(spark, (Array(1), prev))
        spark.conf.set(key, "false")
      } else e._1(0) += 1
    }
  def exit(spark: org.apache.spark.sql.SparkSession): Unit =
    state.synchronized {
      val e = state.get(spark)
      if (e != null) {
        e._1(0) -= 1
        if (e._1(0) == 0) {
          spark.conf.set(key, e._2)
          state.remove(spark)
        }
      }
    }
}
