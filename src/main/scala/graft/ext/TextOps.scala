package graft.ext

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text analysis for training-data pipelines: tokenization, quality
  * scoring, language-ID heuristics, fingerprinting. All pure column
  * expressions (codegen'd) — each scales as a narrow map over the
  * corpus, no shuffle.
  */
object TextOps {

  /** Whitespace tokenization of trimmed, lowercased text.
    * Empty/blank text → empty array. */
  /** Whitespace tokenization — THE module-wide token law, mirrored
    * verbatim by every DuckDB oracle twin ($tokSql). Contract edge,
    * kept deliberately: `trim` strips SPACES only, so text with
    * leading/trailing NON-space whitespace ('\n', '\t') yields empty
    * edge tokens — identically in both engines (the split laws
    * agree), so every op that consumes tokens directly stays
    * oracle-exact. The edge is NOT rebuild-stable though: joining
    * tokens back to text and re-tokenizing collapses the phantoms —
    * any op that round-trips tokens through text must filter empties
    * first on both sides (dup_line_signals does). Changing the law
    * itself means changing ~30 oracle twins in lockstep. */
  def tokens(text: Column): Column =
    when(length(trim(text)) === 0, array().cast("array<string>"))
      .otherwise(split(lower(trim(text)), "\\s+"))

  def tokenCount(text: Column): Column = size(tokens(text))

  def distinctTokenCount(text: Column): Column =
    size(array_distinct(tokens(text)))

  /** Token-bounded document chunking with overlap — the
    * context-window prep step of a training-data pipeline: each doc
    * becomes ceil(max(n_tok - overlap, 1) / stride) rows of up to
    * `chunkSize` tokens, consecutive chunks sharing `overlap` tokens
    * (stride = chunkSize - overlap). Pure plan-side explode of a
    * per-row sequence — a narrow map, no payload shuffle; the chunk
    * text is rebuilt by slicing the token array. Start positions stop
    * at n_tok - overlap, so no chunk is fully contained in its
    * predecessor (a trailing chunk of only overlap tokens would be
    * duplicated training content); coverage is preserved because the
    * last admitted start still reaches the final token. Empty docs
    * yield one empty chunk (chunk_idx 0, 0 tokens), so no document
    * silently disappears. */
  def chunkDocs(df: org.apache.spark.sql.DataFrame, idCol: String,
                textCol: String, chunkSize: Int,
                overlap: Int): org.apache.spark.sql.DataFrame = {
    require(chunkSize > 0 && overlap >= 0 && overlap < chunkSize,
      "need 0 <= overlap < chunkSize")
    val stride = chunkSize - overlap
    df.select(col(idCol), tokens(col(textCol)).as("__tok"))
      // __tok referenced multiple times below → boundary preserved
      .select(col(idCol), col("__tok"),
        explode(sequence(lit(1),
          greatest(size(col("__tok")) - overlap, lit(1)),
          lit(stride))).as("__start"))
      .select(col(idCol),
        ((col("__start") - 1) / stride).cast("long").as("chunk_idx"),
        concat_ws(" ", slice(col("__tok"), col("__start"), lit(chunkSize)))
          .as("chunk_text"),
        least(lit(chunkSize),
          greatest(size(col("__tok")) - col("__start") + 1, lit(0)))
          .as("n_chunk_tokens"))
  }

  /** Unicode normalization of a text column (UAX #15, default NFC)
    * via the native codegen'd [[graft.functions.UnicodeNormalize]]
    * expression — the standard curation pre-pass BEFORE
    * fingerprinting/dedup: composed vs decomposed accents (é vs
    * e+U+0301) and fullwidth vs ASCII forms are the same text to a
    * reader but hash apart without it. Narrow map, no shuffle; pure
    * ASCII passes through the JDK quick-check at near-no-op cost.
    * Pass the normalized column to [[fingerprint]] /
    * [[graft.ext.DedupOps.exactDedupByHash]] (they take a column /
    * column name — normalize first, dedupe on the result). */
  def normalizeUnicode(text: Column, form: String = "NFC"): Column =
    graft.functions.native.unicode_normalize(text, form)

  /** The zero-width / invisible codepoints a curation pass strips
    * before fingerprinting: ZWSP, ZWNJ, ZWJ, WORD JOINER, ZWNBSP
    * (BOM). Written in the Java-regex ∩ RE2 subset so the identical
    * class runs in both engines (the PII-pattern discipline). */
  val zeroWidthClass: String =
    "[\u200B\u200C\u200D\u2060\uFEFF]"

  /** `text` with zero-width codepoints removed. */
  def stripZeroWidth(text: Column): Column =
    regexp_replace(text, zeroWidthClass, "")

  /** Count of zero-width codepoints (a strip-delta, no regex count
    * function needed — identical arithmetic cross-engine). */
  def zeroWidthCount(text: Column): Column =
    length(text) - length(stripZeroWidth(text))

  /** Mojibake tell-tale characters: the UTF-8-read-as-Latin-1 lead
    * bytes Ã (U+00C3) and Â (U+00C2) — every Latin-1/Latin-ish
    * codepoint mis-decoded that way starts with one of them — plus
    * the replacement character U+FFFD a lossy decode leaves behind. */
  val mojibakeClass: String = "[\u00C3\u00C2\uFFFD]"

  /** Count of mojibake tell-tale characters in `text`. */
  def mojibakeHits(text: Column): Column =
    length(text) - length(regexp_replace(text, mojibakeClass, ""))

  /** Heuristic mojibake flag with the letter-follows guard: U+FFFD
    * always flags (a lossy decode already happened), while the
    * Latin-1 lead tell-tales Ã/Â flag only when followed by a
    * NON-letter or end-of-text — mis-decoded UTF-8 pairs them with
    * symbols/signs ("Ã©" for é, "Â«" for «), whereas in legitimate
    * text ("Ângelo") they are word-initial letters followed by
    * letters. Written in the Java-regex ∩ RE2 subset (no lookahead;
    * `\p{L}` classes run identically in both engines) so the oracle
    * evaluates the same predicate. Contract: the flag ROUTES docs to
    * a re-decode pass, it must never gate deletion — a heuristic
    * with a known FP/FN floor (TextSpec pins the legitimate-accent
    * case) only ever earns a second look, not a drop. */
  def isMojibake(text: Column): Column =
    regexp_like(text,
      lit("[\\u00C3\\u00C2]([^\\p{L}]|$)|\\uFFFD"))

  /** BPE-ish subword count: word-piece regex splits on whitespace AND
    * punctuation boundaries, counting punctuation runs as tokens —
    * a cheap stand-in for a real tokenizer's token count. */
  def subwordCount(text: Column): Column =
    size(filter(
      split(lower(trim(text)), "(?<=[^\\p{L}\\p{N}])|(?=[^\\p{L}\\p{N}])"),
      t => length(trim(t)) > 0))

  /** Mean token length (double; exact int/int division). */
  def avgTokenLength(text: Column): Column = {
    val t = tokens(text)
    when(size(t) === 0, lit(0.0)).otherwise(
      aggregate(t, lit(0L), (acc, x) => acc + length(x)).cast("double") /
        size(t))
  }

  /** Punctuation chars / total chars. */
  def punctRatio(text: Column): Column =
    when(length(text) === 0, lit(0.0)).otherwise(
      length(regexp_replace(text, "[^.,!?;:]", "")).cast("double") /
        length(text))

  /** Occurrences of `words` (as whole tokens) / token count. */
  def wordSetRatio(text: Column, words: Seq[String]): Column = {
    val t = tokens(text)
    val set = array(words.map(lit): _*)
    when(size(t) === 0, lit(0.0)).otherwise(
      size(filter(t, x => array_contains(set, x))).cast("double") /
        size(t))
  }

  val englishStopwords: Seq[String] = Seq(
    "the", "a", "an", "and", "or", "of", "to", "in", "is", "it",
    "that", "for", "on", "with", "as", "at", "by", "be", "this")

  /** Composite quality score in [0,1]: weighted blend of
    * length-sanity, stopword presence, and low punctuation noise —
    * the shape of a Gopher/C4-style heuristic filter. */
  def qualityScore(text: Column): Column = {
    val n = tokenCount(text)
    val lengthOk = when(n >= 10 && n <= 100000, lit(1.0))
      .otherwise(lit(0.0))
    val stop = least(wordSetRatio(text, englishStopwords) * 5.0, lit(1.0))
    val punctOk = lit(1.0) - least(punctRatio(text) * 4.0, lit(1.0))
    round(lengthOk * 0.4 + stop * 0.3 + punctOk * 0.3, 6)
  }

  /** Marker vocabulary per language for the n-gram/stopword heuristic
    * language-ID. Ordered map — ties resolve to the first language in
    * this order. */
  val langMarkers: Seq[(String, Seq[String])] = Seq(
    "de" -> Seq("der", "die", "das", "und", "ist", "nicht", "ein",
      "mit", "für", "von"),
    "en" -> Seq("the", "and", "is", "of", "to", "in", "that", "it",
      "for", "with"),
    "es" -> Seq("el", "la", "los", "y", "es", "de", "que", "en",
      "un", "por"),
    "fr" -> Seq("le", "la", "les", "et", "est", "de", "que", "en",
      "un", "pour"),
    "zh" -> Seq("的", "是", "在", "了", "我", "有", "和", "就",
      "不", "人"))

  /** Heuristic language-ID: count marker-token occurrences per
    * language; argmax with deterministic first-wins tiebreak; "und"
    * (undetermined) when nothing matches. */
  def langId(text: Column): Column =
    // double [[bind1]]: the token array once, then the score VECTOR
    // once — the unbound form pasted a split+filter tree per score
    // REFERENCE (each score appears in `best` and in its own when
    // condition: ~15 interpreted filter passes per row; now 5, over
    // a bound array)
    bind1(tokens(text)) { t =>
      bind1(array(langMarkers.map { case (_, ms) =>
        size(filter(t, x => array_contains(array(ms.map(lit): _*), x)))
      }: _*)) { sc =>
        val best = array_max(sc)
        langMarkers.zipWithIndex.foldRight(lit("und")) {
          case (((lang, _), i), els) =>
            when(element_at(sc, i + 1) === best && best > 0, lit(lang))
              .otherwise(els)
        }
      }
    }

  /** Evaluate-once binding for composite per-row expressions: wraps
    * `v` in a single-element array and exposes it to `f` as a HOF
    * LAMBDA VARIABLE (an O(1) slot read), so however many times `f`
    * references it, `v` is computed exactly once per row.
    *
    * Why this exists (the r14 `repetition_metrics` stall): a plain
    * `val t = tokens(text)` Scala binding pastes the WHOLE split
    * expression at every use site, and when one of those sites is
    * inside another HOF's lambda, the text is re-lowered/re-split
    * PER ELEMENT — higher-order functions are interpreted (no
    * codegen, no subexpression elimination), so `topNgramFrac` was
    * O(grams × distinct × split) per row: invisible on the 28-token
    * gate corpus, a 40-minute stall on 400-token zipf docs. The
    * count()-based bench never caught it because a terminal
    * projection is column-pruned under count() — see Bench's
    * full-evaluation note. */
  private[ext] def bind1(v: Column)(f: Column => Column): Column =
    element_at(transform(array(v), f), 1)

  /** N-gram array from an ALREADY-BOUND token array (a lambda
    * variable or attribute — never pass a raw `tokens(text)` tree,
    * that is exactly the re-split trap [[bind1]] exists for). */
  private def gramsOf(t: Column, n: Int): Column =
    when(size(t) < n, array().cast("array<string>"))
      .otherwise(transform(sequence(lit(1), size(t) - n + 1),
        i => concat_ws(" ", slice(t, i, lit(n)))))

  /** Word n-grams as space-joined strings; fewer than `n` tokens →
    * empty array. A narrow map (plan-side transform over the token
    * array) — the building block for decontamination and repetition
    * metrics. The token split is [[bind1]]-bound: one split per row,
    * not one per emitted gram. */
  def wordNgrams(text: Column, n: Int): Column = {
    require(n >= 1, "n >= 1")
    bind1(tokens(text))(t => gramsOf(t, n))
  }

  /** EXACT top-`k` word `n`-grams per key by occurrence count —
    * `(keys…, gram, n_occurrences)` — without ever shuffling gram
    * STRINGS at corpus grain. A naive `explode(wordNgrams)` +
    * `groupBy(key, gram)` builds a ~20-byte string per token
    * INSTANCE and shuffles string keys; here the count pass runs on
    * the fused 128-bit digest kernel ([[graft.functions.NgramHashes]]
    * — no gram strings exist at all, fixed-width shuffle keys), and
    * strings are materialized only for the winners in a second,
    * candidate-pruned scan.
    *
    * Tie-exactness argument: the final order is (count desc, gram
    * asc), but pass 1 cannot compare gram strings. It doesn't need
    * to — a TIES-INCLUSIVE bucket-local rank on counts alone yields
    * a candidate superset of the true top-k under ANY string
    * tiebreak (see the inline argument). Pass 2 recovers candidate
    * strings: instances re-derive digests, a broadcast semi-join
    * prunes to candidates BEFORE any gram string is built (the
    * explode→filter→concat chain stays inside one codegen stage —
    * the token array is never copied per instance), and the exact
    * (count desc, gram) top-k runs on the candidates-sized frame.
    * Both heavy stages are hot-key-safe: counting is a combinable
    * fold, ranking happens in parallel per-bucket windows. Digest
    * identity is the module-wide 128-bit two-seed assumption
    * ([[DedupOps.corpusDupNgramShare]]).
    *
    * CARDINALITY CONTRACT: `keys` is a LOW-cardinality grouping
    * (language, source, dataset) — the candidate set
    * (≤ keys × buckets × (k + boundary ties)) and the winner gram
    * strings are BROADCAST, the [[graft.ops.Relational.keyedRanks]]
    * bound. Over high-cardinality keys with mostly-unique grams the
    * rank-k count is 1 and every count-1 gram ties at the boundary,
    * so candidates approach the whole vocabulary and the broadcast
    * is the wrong shape — use the naive explode + groupBy +
    * [[graft.ops.Relational.topNPerKey]] form there (per-key slices
    * are task-sized, so its window is fine). */
  def topNgrams(df: org.apache.spark.sql.DataFrame, keys: Seq[String],
                textCol: Column, n: Int, k: Int,
                buckets: Int = 32): org.apache.spark.sql.DataFrame = {
    import graft.functions.native.ngram_hashes
    require(n >= 1 && k >= 1 && buckets >= 1, "n, k, buckets >= 1")
    for (c <- Seq("__tok", "__g", "__g1", "__g2", "__tb", "__r",
        "__i", "gram", "n_occurrences"))
      require(!df.columns.contains(c),
        s"topNgrams: input already has a '$c' column — rename it")
    val keyCols = keys.map(col)
    val toks = df.select((keyCols :+ tokens(textCol).as("__tok")): _*)
    def h(seed: Long) = ngram_hashes(col("__tok"), n, seed)
    val counts = toks
      .select((keyCols :+ explode(arrays_zip(h(42L).as("__g1"),
        h(1337L).as("__g2"))).as("__g")): _*)
      .select((keyCols :+ col("__g.__g1").as("__g1") :+
        col("__g.__g2").as("__g2")): _*)
      .groupBy((keyCols :+ col("__g1") :+ col("__g2")): _*)
      .agg(count(lit(1)).as("n_occurrences"))
    // candidates = TIES-INCLUSIVE bucket-local top-k: rank() — not
    // row_number — over (key, digest-hash-bucket) windows keeps
    // every digest tied at its bucket's rank-k count. Superset
    // argument: if k digests in g's own bucket beat g STRICTLY on
    // count, g is below global rank k under ANY tiebreak; equal
    // counts are kept — so no possible (count desc, gram) winner is
    // lost. Each bucket ranks ~1/buckets of the vocabulary in
    // parallel (hot-key-safe), counts has a single consumer (no
    // re-planned fold), and candidates ≤ buckets·(k + boundary
    // ties) per key — degenerate all-tied corpora inflate the
    // candidate set, never the answer.
    val wB = org.apache.spark.sql.expressions.Window
      .partitionBy((keyCols :+ col("__tb")): _*)
      .orderBy(col("n_occurrences").desc)
    val cands = counts
      .withColumn("__tb",
        pmod(xxhash64(struct(col("__g1"), col("__g2"))), lit(buckets)))
      .withColumn("__r", rank().over(wB))
      .filter(col("__r") <= k)
      .drop("__tb", "__r")
    // joins on the keys are NULL-SAFE: a null key (undetected
    // language) is a GROUP to the count fold and the rank window,
    // and a USING join would silently drop its top-k — diverging
    // from the naive form this op is pinned equivalent to
    def renameJoinCols(r: org.apache.spark.sql.DataFrame) =
      (keys ++ Seq("__g1", "__g2")).foldLeft(r)((d, c) =>
        d.withColumnRenamed(c, s"__rk_$c"))
    def joinCond = (keys.map(kc => col(kc) <=> col(s"__rk_$kc")) ++
      Seq(col("__g1") === col("__rk___g1"),
        col("__g2") === col("__rk___g2"))).reduce(_ && _)
    val candKeys = renameJoinCols(cands
      .select((keyCols :+ col("__g1") :+ col("__g2")): _*))
    val grams = toks
      .select((keyCols :+ col("__tok") :+
        posexplode(arrays_zip(h(42L).as("__g1"), h(1337L).as("__g2")))
          .as(Seq("__i", "__g"))): _*)
      .select((keyCols :+ col("__tok") :+ col("__i") :+
        col("__g.__g1").as("__g1") :+ col("__g.__g2").as("__g2")): _*)
      .join(broadcast(candKeys), joinCond, "left_semi")
      .select((keyCols :+ col("__g1") :+ col("__g2") :+
        concat_ws(" ",
          slice(col("__tok"), col("__i") + 1, lit(n))).as("gram")): _*)
      .distinct()
    val named = cands
      .join(broadcast(renameJoinCols(grams)), joinCond)
      .select((keyCols :+ col("gram") :+ col("n_occurrences")): _*)
    graft.ops.Relational.topNPerKey(named, keys,
      Seq(col("n_occurrences").desc, col("gram")), k)
  }

  /** PII patterns in both Java-regex and RE2 (DuckDB) common syntax —
    * no lookarounds, so the same pattern string runs identically in
    * either engine. Order matters: EMAIL first (its local part may
    * contain digits/dots the narrower patterns would nibble), then
    * PHONE, then IP; replacement tokens contain no digits, so later
    * passes can never match inside an earlier redaction. */
  val piiPatterns: Seq[(String, String, String)] = Seq(
    ("email", "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}", "<EMAIL>"),
    ("phone", "\\b\\d{3}-\\d{3}-\\d{4}\\b", "<PHONE>"),
    ("ip", "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b", "<IP>"))

  /** Redact emails / phone numbers / IPv4 addresses to typed
    * placeholder tokens — the scrubbing pass a training corpus runs
    * before anything else sees the text. Pure regexp_replace chain:
    * codegen'd, narrow, no shuffle. */
  def redactPii(text: Column): Column =
    piiPatterns.foldLeft(text) { case (c, (_, re, tok)) =>
      regexp_replace(c, re, tok)
    }

  /** Match count of one PII kind ("email" | "phone" | "ip") in the
    * ORIGINAL text (counts are independent per kind, before any
    * redaction). */
  def piiCount(text: Column, kind: String): Column = {
    val re = piiPatterns.collectFirst { case (`kind`, r, _) => r }
      .getOrElse(throw new IllegalArgumentException(s"unknown kind $kind"))
    regexp_count(text, lit(re))
  }

  private def dupTokenFracOf(t: Column): Column =
    when(size(t) === 0, lit(0.0)).otherwise(
      lit(1.0) - size(array_distinct(t)).cast("double") / size(t))

  /** Fraction of tokens that are repeats (1 - distinct/total) —
    * 0 for all-unique or empty text. Split bound once ([[bind1]]). */
  def dupTokenFrac(text: Column): Column =
    bind1(tokens(text))(dupTokenFracOf)

  /** Share of the single most frequent word n-gram among all n-grams
    * (the Gopher-style "top n-gram fraction" repetition signal).
    * The max multiplicity is a LINEAR run-length scan over the
    * sorted gram array (sort + one aggregate pass per row) — the
    * r13 form was max over distinct grams of `filter(g, ·)` counts,
    * whose inner filter re-derived the WHOLE gram array (and its
    * token split) per distinct gram under interpreted HOF eval:
    * O(len³)-ish per row, the r14 zipfml stall. Same value by
    * construction (max run of equal values in sorted order = max
    * multiplicity). */
  def topNgramFrac(text: Column, n: Int): Column =
    bind1(tokens(text))(t => topNgramFracOf(t, n))

  private def topNgramFracOf(t: Column, n: Int): Column =
    bind1(gramsOf(t, n)) { g =>
      when(size(g) === 0, lit(0.0)).otherwise(
        bind1(sort_array(g)) { sg =>
          aggregate(sg,
            struct(lit("").as("prev"), lit(0L).as("run"),
              lit(0L).as("best")),
            (acc, x) => {
              // a gram is never "" (tokens are non-empty), so the
              // zero accumulator can't extend a phantom run
              val run = when(x === acc.getField("prev"),
                acc.getField("run") + 1L).otherwise(lit(1L))
              struct(x.as("prev"), run.as("run"),
                greatest(acc.getField("best"), run).as("best"))
            },
            acc => acc.getField("best"))
        }.cast("double") / size(g))
    }

  /** Fraction of word n-grams that are duplicates (1 - distinct/total)
    * — the "duplicated n-gram" repetition signal. Split and gram
    * array bound once ([[bind1]]). */
  def dupNgramFrac(text: Column, n: Int): Column =
    bind1(tokens(text))(t => dupNgramFracOf(t, n))

  private def dupNgramFracOf(t: Column, n: Int): Column =
    bind1(gramsOf(t, n)) { g =>
      when(size(g) === 0, lit(0.0)).otherwise(
        lit(1.0) - size(array_distinct(g)).cast("double") / size(g))
    }

  /** All three Gopher repetition fractions from ONE token split:
    * `struct(dup_token_frac, top_ngram_frac, dup_ngram_frac)` —
    * the composite form the repetition_metrics battery consumes.
    * Calling the three single-fraction functions side by side costs
    * three splits per row (each binds its own); a consumer that
    * needs several signals should take this struct and reference
    * its FIELDS (keep the struct in its own projection — Spark does
    * not duplicate non-cheap multi-referenced aliases across
    * projects, so the battery is computed once per row). */
  def repetitionFracs(text: Column, topN: Int = 2,
                      dupN: Int = 3): Column =
    bind1(tokens(text)) { t =>
      struct(
        dupTokenFracOf(t).as("dup_token_frac"),
        topNgramFracOf(t, topN).as("top_ngram_frac"),
        dupNgramFracOf(t, dupN).as("dup_ngram_frac"))
    }

  /** Stable document fingerprint: md5 of whitespace-collapsed,
    * lowercased text — identical in any engine with md5. */
  def fingerprint(text: Column): Column =
    md5(regexp_replace(lower(trim(text)), "\\s+", " "))

  /** Rolling polynomial hash over tokens (base-31 Horner over
    * xxhash64 token hashes, mod 1e9+7 so ANSI arithmetic never
    * overflows) — an order-sensitive fingerprint, cheap to maintain
    * incrementally at ingest. */
  def rollingHash(text: Column): Column = {
    val m = lit(1000000007L)
    aggregate(tokens(text), lit(0L),
      (acc, x) => pmod(acc * lit(31L) + pmod(xxhash64(x), m), m))
  }

  /** Per-document mean bigram log-probability under a bigram language
    * model trained on the corpus ITSELF (the self-supervised fluency /
    * quality signal of the CCNet family: text whose token transitions
    * are typical of the corpus scores high, boilerplate-free gibberish
    * scores low). Model: P(w2 | w1) = c(w1 w2) / c(w1 ·), maximum
    * likelihood over bigram instances, no smoothing — every observed
    * bigram has c ≥ 1 so the log is always finite.
    *
    * Scale design: the model IS two aggregations of the corpus's
    * exploded bigram instances — c(w1 w2) per bigram and c(w1 ·) per
    * left token — each a map-side-combinable groupBy whose result is
    * vocabulary-sized (sublinear in the corpus), then joined back to
    * the instances on their hash-partitioned keys. No driver-side
    * model materialization; at 100 TB the count frames are ordinary
    * shuffled joins (broadcast them instead when the vocabulary fits).
    *
    * Determinism discipline: each instance's log-prob is rounded to 6
    * decimals and summed as exact DECIMAL, so the per-doc mean is
    * independent of float summation order across engines and
    * partitionings (the [[graft.queries.QueryDef.dsum]] discipline
    * applied to a derived double). Docs with < 2 tokens have no
    * bigrams and yield no row. */
  def bigramLmScores(df: org.apache.spark.sql.DataFrame, idCol: String,
                     textCol: String): org.apache.spark.sql.DataFrame = {
    // Single tokenize pass; the bigram and left-token keys are
    // 128-bit fused-hash-chain digests ([[graft.functions
    // .NgramHashes]] at n=2 / n=1, two independent seeds each) —
    // no bigram STRINGS are ever built and the shuffle keys are
    // longs. The left token of bigram i is token i, so the unigram
    // hash arrays sliced to the bigram count align positionally with
    // the bigram hash arrays under one arrays_zip + explode.
    //
    // Skew-hardened count attachment (the two-level fold): instances
    // first pre-aggregate per (doc, bigram digest) — the key carries
    // the doc id, so no gram is ever hot — then the model derives
    // ENTIRELY from that frame: bigram counts by a combinable
    // groupBy (a stopword bigram's 10⁸ occurrences fold to one row
    // per input partition pre-shuffle), left-token counts by summing
    // bigram counts (the bigram digest DETERMINES its left token's
    // digest, so c1 folds from the vocabulary-sized model frame, not
    // the corpus). Per-instance log-probs attach by joining the
    // per-bigram model row back to the (doc, bigram) frame — hot
    // probe partitions split under AQE skew handling; the count-only
    // WINDOWS this replaces pinned every occurrence of one digest to
    // a single unsplittable partition. The (doc, bigram) pre-agg
    // exchange is shared by all three consumers (AQE stage reuse),
    // so the corpus is still tokenized once.
    val docGram = bigramDocGrams(df, idCol, textCol)
    // (__b1,__b2) determines (__h1,__h2) — same grain as the bigram
    val model = docGram.groupBy("__b1", "__b2", "__h1", "__h2")
      .agg(sum(col("__m")).as("__c2"))
    scoreDocGrams(docGram, idCol, model)
  }

  /** Per-(doc, bigram-digest) instance counts — the skew-safe
    * pre-aggregation (doc id in the key, so no gram is ever hot)
    * shared by the one-shot [[bigramLmScores]] and the incremental
    * count-store path. Columns: idCol, __b1/__b2 (bigram digests),
    * __h1/__h2 (left-unigram digests), __m (instance count). */
  private def bigramDocGrams(df: org.apache.spark.sql.DataFrame,
                             idCol: String, textCol: String)
      : org.apache.spark.sql.DataFrame = {
    import graft.functions.native.ngram_hashes
    df.select(col(idCol), tokens(col(textCol)).as("__tok"))
      .select(col(idCol),
        ngram_hashes(col("__tok"), 2, 42L).as("__ba"),
        ngram_hashes(col("__tok"), 2, 1337L).as("__bb"),
        ngram_hashes(col("__tok"), 1, 42L).as("__ua"),
        ngram_hashes(col("__tok"), 1, 1337L).as("__ub"))
      .select(col(idCol), explode(arrays_zip(
        col("__ba"), col("__bb"),
        slice(col("__ua"), lit(1), size(col("__ba"))).as("__ha"),
        slice(col("__ub"), lit(1), size(col("__ba"))).as("__hb"))).as("__z"))
      .select(col(idCol),
        col("__z.__ba").as("__b1"), col("__z.__bb").as("__b2"),
        col("__z.__ha").as("__h1"), col("__z.__hb").as("__h2"))
      .groupBy(col(idCol), col("__b1"), col("__b2"),
        col("__h1"), col("__h2"))
      .agg(count(lit(1)).as("__m"))
  }

  /** Score per-(doc, bigram) counts against a bigram count model
    * (`__b1,__b2,__h1,__h2,__c2`): left-token counts fold from the
    * model itself (the bigram digest determines its left token's),
    * per-bigram log-probs join back, per-doc means accumulate as
    * exact DECIMAL. Bigrams ABSENT from the model are excluded from
    * both the score and `n_bigrams` (the inner join) — when the model
    * covers the scored corpus, output is identical to
    * [[bigramLmScores]]. */
  private def scoreDocGrams(docGram: org.apache.spark.sql.DataFrame,
                            idCol: String,
                            model: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val c1 = model.groupBy("__h1", "__h2").agg(sum(col("__c2")).as("__c1"))
    val modelLp = model.join(c1, Seq("__h1", "__h2"))
      .withColumn("__lp",
        round(log(col("__c2").cast("double") / col("__c1")), 6)
          .cast("decimal(20,6)"))
      .select("__b1", "__b2", "__lp")
    docGram.join(modelLp, Seq("__b1", "__b2"))
      .groupBy(col(idCol))
      .agg(sum(col("__m")).as("n_bigrams"),
        sum(col("__lp") * col("__m")).as("__lp_sum"))
      .withColumn("lm_logprob",
        round(col("__lp_sum").cast("double") / col("n_bigrams"), 6))
      .drop("__lp_sum")
  }

  /** Fold one ingest batch into a PERSISTED bigram count store — the
    * incremental form of [[bigramLmScores]]' model for a corpus that
    * grows daily ([[graft.ext.DedupOps.incrementalMinhashDedup]]'s
    * maintenance posture applied to the count model): a daily 100 TB
    * pipeline re-scores only the new batch, it does not re-tokenize
    * the whole corpus per day.
    *
    * The store is ONE parquet table `bigram_counts(__batch, __b1,
    * __b2, __h1, __h2, __m)` of per-batch count DELTAS, append-only:
    * an update writes the batch's (vocabulary-sized) delta and reads
    * NOTHING back — O(batch) regardless of corpus size. Serving
    * ([[bigramModelFromStore]]) folds the deltas; appends are
    * at-least-once under replay, so serving first drops duplicate
    * (batch, bigram) rows — a replayed batch (same `batchId`) cannot
    * change any count (spec-asserted). When delta files accrete,
    * [[compactBigramCounts]] folds the out-of-replay-window tail —
    * the usual log-structured store discipline.
    *
    * @return rows appended (the batch's distinct-bigram count). */
  def updateBigramCounts(batch: org.apache.spark.sql.DataFrame,
                         idCol: String, textCol: String,
                         storeDir: String, batchId: Long): Long = {
    val delta = bigramDocGrams(batch, idCol, textCol)
      .groupBy("__b1", "__b2", "__h1", "__h2")
      .agg(sum(col("__m")).as("__m"))
      .withColumn("__batch", lit(batchId))
    // row accounting from the SAME job that writes (the loadIfNew
    // Observation discipline — no second tokenize pass)
    val obs = new org.apache.spark.sql.Observation()
    graft.io.CountLog.append(
      delta.observe(obs, count(lit(1)).as("n")),
      storeDir, "bigram_counts")
    obs.get("n").asInstanceOf[Long]
  }

  /** The bigram count model folded from a [[updateBigramCounts]]
    * store: replay-safe (duplicate (batch, bigram) delta rows
    * collapse before summing), vocabulary-sized output. With batches
    * partitioning a corpus, this model is EQUAL to the one-shot
    * model [[bigramLmScores]] derives — incremental ≡ one-shot by
    * construction. */
  def bigramModelFromStore(spark: org.apache.spark.sql.SparkSession,
                           storeDir: String)
      : org.apache.spark.sql.DataFrame =
    graft.io.CountLog.read(spark, storeDir, "bigram_counts")
      .dropDuplicates("__batch", "__b1", "__b2", "__h1", "__h2")
      .groupBy("__b1", "__b2", "__h1", "__h2")
      .agg(sum(col("__m")).as("__c2"))

  /** Compact a [[updateBigramCounts]] store — the shared
    * [[graft.io.CountLog]] protocol (r15, VERDICT r14 #1): fold every
    * batch older than the `keepBatches` most recent into the next
    * SNAPSHOT VERSION, committed by [[graft.io.VersionedStore]]'s
    * single-PUT marker — a reader never observes a missing or
    * half-copied table, on any filesystem (the previous
    * rename-swapped form was atomic only where rename is; on an
    * object store its swap window exposed exactly the gap the
    * VersionedStore protocol eliminates). Counts are unchanged by
    * construction — the serve-side fold is associative — so scoring
    * before and after compaction is bit-identical (spec-asserted on
    * the `objsim://` copy+delete filesystem, replay included).
    *
    * REPLAY WINDOW CONTRACT unchanged: batches inside the window
    * keep their identity, so their at-least-once replays still
    * collapse; a batch older than the window can no longer replay
    * legitimately — if one does, the watermark filter drops it.
    * Size `keepBatches` ≥ the deepest plausible replay (with
    * AvailableNow + restart-on-failure that window is 1). */
  def compactBigramCounts(spark: org.apache.spark.sql.SparkSession,
                          storeDir: String, keepBatches: Int = 2): Unit =
    graft.io.CountLog.compact(spark, storeDir, "bigram_counts",
      Seq("__b1", "__b2", "__h1", "__h2"), Seq("__m"), keepBatches)

  /** Compact a [[updateDsirCounts]] store — same shared protocol and
    * replay-window contract as [[compactBigramCounts]] (the DSIR log
    * previously had NO compaction, so its serve-time fold grew
    * without bound in batch count). */
  def compactDsirCounts(spark: org.apache.spark.sql.SparkSession,
                        storeDir: String, keepBatches: Int = 2): Unit =
    graft.io.CountLog.compact(spark, storeDir, "dsir_counts",
      Seq("__f1", "__f2"), Seq("__mt", "__m"), keepBatches)

  /** [[bigramLmScores]] served from a persisted count store: tokenize
    * and score ONLY `df` (typically the new batch) against the
    * store's accumulated model. Scoring is over in-model bigrams
    * (see [[scoreDocGrams]]); when the store's batches cover the
    * scored documents the output is bit-identical to the one-shot
    * form. */
  def bigramLmScoresFromStore(df: org.apache.spark.sql.DataFrame,
                              idCol: String, textCol: String,
                              storeDir: String)
      : org.apache.spark.sql.DataFrame =
    scoreDocGrams(bigramDocGrams(df, idCol, textCol), idCol,
      bigramModelFromStore(df.sparkSession, storeDir))

  /** DSIR-style hashed-n-gram importance weights (Xie et al. 2023,
    * "Data Selection via Importance Resampling"): per document, the
    * log importance weight
    * `Σ_instances ln( p_target(f) / p_raw(f) )` over the document's
    * bigram feature instances, where both distributions are
    * Laplace-smoothed bag-of-bigram models —
    * `p_D(f) = (c_D(f) + 1) / (N_D + V)` with `c_D` the instance
    * count of `f` in domain D, `N_D` the domain's total instances,
    * and `V` the full corpus's distinct-feature count. `targetFlag`
    * marks the target-domain rows (e.g. `col("lang") === "en"`); the
    * raw distribution is the WHOLE corpus, so every document scores
    * against the same pair of models. A downstream resampler keeps
    * the top-weight documents (or Gumbel-samples with these log
    * weights — compose with [[graft.ext.SamplingOps]]).
    *
    * Scale design: the same skew-hardened two-level fold as
    * [[bigramLmScores]] — the feature space is 128-bit fused
    * hash-chain digests ([[graft.functions.NgramHashes]], no n-gram
    * strings anywhere); instances pre-aggregate per (doc, feature)
    * (doc id in the key — no hot gram), the count model (`c_target`,
    * `c_raw` per feature) folds combinably from that frame, and the
    * three model scalars (N_t, N_raw, V) fold from the
    * vocabulary-sized model frame itself (one tiny aggregate,
    * broadcast back — V is its row count, no corpus-side distinct).
    * Per-feature log-ratios join back to the (doc, feature) frame —
    * hot probe partitions split under AQE skew handling, unlike the
    * count-window form this replaces, which pinned every occurrence
    * of a stopword feature to one unsplittable window partition.
    * Corpus-linear, tokenized once (the pre-agg exchange is shared),
    * no pairwise stage.
    *
    * Determinism: per-distinct-feature log-ratio rounded to 6
    * decimals, per-doc accumulation as exact DECIMAL (the
    * [[graft.queries.QueryDef.dsum]] discipline), so results are
    * partition- and engine-independent. Docs with < 2 tokens have no
    * bigram instances and yield no row. */
  def dsirWeights(df: org.apache.spark.sql.DataFrame, idCol: String,
                  textCol: String,
                  targetFlag: Column): org.apache.spark.sql.DataFrame = {
    val docFeat = dsirDocFeats(df, idCol, textCol, targetFlag)
    val model = docFeat.groupBy("__f1", "__f2")
      .agg(sum(when(col("__t"), col("__m")).otherwise(0L)).as("__ct"),
        sum(col("__m")).as("__cr"))
    scoreDsirFeats(docFeat, idCol, model)
  }

  /** Per-(doc, target-flag, feature-digest) instance counts — the
    * skew-safe pre-aggregation shared by the one-shot [[dsirWeights]]
    * and the incremental count-store path ([[updateDsirCounts]]). */
  private def dsirDocFeats(df: org.apache.spark.sql.DataFrame,
                           idCol: String, textCol: String,
                           targetFlag: Column)
      : org.apache.spark.sql.DataFrame = {
    import graft.functions.native.ngram_hashes
    df.select(col(idCol), targetFlag.cast("boolean").as("__t"),
        tokens(col(textCol)).as("__tok"))
      .select(col(idCol), col("__t"), explode(arrays_zip(
        ngram_hashes(col("__tok"), 2, 42L).as("__f1"),
        ngram_hashes(col("__tok"), 2, 1337L).as("__f2"))).as("__z"))
      .select(col(idCol), col("__t"),
        col("__z.__f1").as("__f1"), col("__z.__f2").as("__f2"))
      .groupBy(col(idCol), col("__t"), col("__f1"), col("__f2"))
      .agg(count(lit(1)).as("__m"))
  }

  /** Score per-(doc, feature) counts against a DSIR count model
    * (`__f1,__f2,__ct,__cr`). The three model scalars (N_t, N_raw, V)
    * fold from the model frame itself; features absent from the model
    * are excluded from both the weight and `n_feats` (inner join) —
    * when the model covers the scored corpus, output is identical to
    * [[dsirWeights]]. */
  private def scoreDsirFeats(docFeat: org.apache.spark.sql.DataFrame,
                             idCol: String,
                             model: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    // model-size scalars fold from the vocabulary-sized model frame:
    // N_t/N_raw are the count sums, V is the model's row count
    val stats = model.agg(
      sum(col("__ct")).as("__nt"),
      sum(col("__cr")).as("__nr"),
      count(lit(1)).as("__v"))
    val modelLp = model.crossJoin(broadcast(stats))
      .withColumn("__lp",
        round(
          log((col("__ct") + 1).cast("double") / (col("__nt") + col("__v")))
            - log((col("__cr") + 1).cast("double")
              / (col("__nr") + col("__v"))), 6)
          .cast("decimal(20,6)"))
      .select("__f1", "__f2", "__lp")
    docFeat.join(modelLp, Seq("__f1", "__f2"))
      .groupBy(col(idCol))
      .agg(sum(col("__m")).as("n_feats"),
        sum(col("__lp") * col("__m")).as("__lw"))
      .withColumn("dsir_logw", round(col("__lw").cast("double"), 6))
      .drop("__lw")
  }

  /** Fold one ingest batch into a persisted DSIR count store — the
    * [[updateBigramCounts]] maintenance posture applied to the two
    * smoothed DSIR count models: the append-only delta table
    * `dsir_counts(__batch, __f1, __f2, __mt, __m)` carries per-batch
    * target and raw instance counts per feature (vocabulary-sized,
    * reads nothing back — O(batch)); serving folds deltas
    * replay-safely and both model scalars plus V re-derive from the
    * folded frame, so incremental ≡ one-shot by construction when
    * batches partition a corpus. The replay window / compaction
    * discipline is [[compactBigramCounts]]'s — [[compactDsirCounts]]
    * folds the out-of-window tail through the same shared
    * [[graft.io.CountLog]] protocol.
    *
    * @return rows appended (the batch's distinct-feature count). */
  def updateDsirCounts(batch: org.apache.spark.sql.DataFrame,
                       idCol: String, textCol: String,
                       targetFlag: Column, storeDir: String,
                       batchId: Long): Long = {
    val delta = dsirDocFeats(batch, idCol, textCol, targetFlag)
      .groupBy("__f1", "__f2")
      .agg(sum(when(col("__t"), col("__m")).otherwise(0L)).as("__mt"),
        sum(col("__m")).as("__m"))
      .withColumn("__batch", lit(batchId))
    val obs = new org.apache.spark.sql.Observation()
    graft.io.CountLog.append(
      delta.observe(obs, count(lit(1)).as("n")),
      storeDir, "dsir_counts")
    obs.get("n").asInstanceOf[Long]
  }

  /** The DSIR count model folded from a [[updateDsirCounts]] store —
    * replay-safe (duplicate (batch, feature) rows collapse before
    * summing). */
  def dsirModelFromStore(spark: org.apache.spark.sql.SparkSession,
                         storeDir: String)
      : org.apache.spark.sql.DataFrame =
    graft.io.CountLog.read(spark, storeDir, "dsir_counts")
      .dropDuplicates("__batch", "__f1", "__f2")
      .groupBy("__f1", "__f2")
      .agg(sum(col("__mt")).as("__ct"), sum(col("__m")).as("__cr"))

  /** [[dsirWeights]] served from a persisted count store: tokenize
    * and score ONLY `df` (typically the new batch) against the
    * store's accumulated target/raw models. `targetFlag` here only
    * shapes the doc-feature frame's grain — the models come entirely
    * from the store. Bit-identical to the one-shot form when the
    * store's batches cover the scored documents. */
  def dsirWeightsFromStore(df: org.apache.spark.sql.DataFrame,
                           idCol: String, textCol: String,
                           targetFlag: Column, storeDir: String)
      : org.apache.spark.sql.DataFrame =
    scoreDsirFeats(dsirDocFeats(df, idCol, textCol, targetFlag), idCol,
      dsirModelFromStore(df.sparkSession, storeDir))

  /** CCNet-style per-language fluency buckets: rank each language's
    * documents by their self-trained bigram-LM score
    * ([[bigramLmScores]] — higher = more fluent under the corpus's
    * own model) and cut into `nBuckets` equal-frequency buckets
    * (bucket 1 = head/most fluent … n = tail), the stratification
    * CCNet uses to keep perplexity-balanced corpus slices. Returns
    * the per-(lang, bucket) accounting frame: document count and
    * mean LM log-prob.
    *
    * The bucket is the explicit rank formula
    * `ceil(nBuckets · rank / count)` over (rounded score desc,
    * doc-id) — NOT `ntile`, whose remainder-distribution rule differs
    * across engines; the formula is engine-portable and what the
    * DuckDB oracle mirrors. Scale design: the per-language rank is
    * the DISTRIBUTED rank of [[graft.ops.Relational.keyedRanks]] —
    * score-bucketed parallel windows plus broadcast offsets — not a
    * `PARTITION BY lang` row_number, which sorts each language's
    * whole slice in one task (on a real corpus one language is
    * 50–90 % of the data: the same single-partition trap
    * `contiguousRowIds` exists to avoid, here in per-key form). The
    * rank (hence the output) is EXACT and identical to the
    * single-window form; QueryPlanSpec asserts no single-key rank
    * window survives in the plan. */
  def ccnetBuckets(df: org.apache.spark.sql.DataFrame, idCol: String,
                   textCol: String, langCol: String,
                   nBuckets: Int): org.apache.spark.sql.DataFrame =
    ccnetBucketsFromScores(bigramLmScores(df, idCol, textCol), df,
      idCol, langCol, nBuckets)

  /** [[ccnetBuckets]] over a PRE-BUILT score frame (columns `idCol`,
    * `lm_logprob`) — the build/serve split: the bigram-LM model scan
    * is a snapshot artifact consumers share (the signature-store
    * pattern), and bucketing is a cheap read over it. */
  def ccnetBucketsFromScores(lmScores: org.apache.spark.sql.DataFrame,
                             df: org.apache.spark.sql.DataFrame,
                             idCol: String, langCol: String,
                             nBuckets: Int)
      : org.apache.spark.sql.DataFrame = {
    require(nBuckets >= 1, "nBuckets >= 1")
    val scores = lmScores
      .join(df.select(col(idCol), col(langCol).as("lang")), Seq(idCol))
    // distributed per-language rank: negated score is the ascending
    // bucket proxy for the descending leader (ties share a bucket,
    // doc-id breaks them inside the per-bucket window)
    val ranked = graft.ops.Relational.keyedRanks(scores, Seq("lang"),
      negate(col("lm_logprob")),
      Seq(col("lm_logprob").desc, col(idCol)), "__rn",
      totalName = "__n")
    ranked
      // __rn is LONG (bucket offset + row_number), so the rank·nBuckets
      // product cannot overflow Int at corpus-scale language sizes
      .withColumn("bucket",
        ceil(col("__rn") * nBuckets / col("__n")).cast("int"))
      .groupBy(col("lang"), col("bucket"))
      .agg(count(lit(1)).as("n_docs"),
        round(graft.functions.DecimalDoubleSum.column(col("lm_logprob"))
          / count(lit(1)), 6).as("avg_logprob"))
  }

  /** Word n-grams of a token array as joined strings — empty when
    * the doc has fewer than n tokens. Separator is one space, so a
    * gram's TOKEN-char length is `length(gram) - (n-1)`. */
  private def wordGrams(tok: Column, n: Int): Column =
    when(size(tok) < n, array().cast("array<string>"))
      .otherwise(transform(sequence(lit(0), size(tok) - n),
        i => array_join(slice(tok, i + lit(1), lit(n)), " ")))

  /** Gopher-style repetition gates (Rae et al. 2021, table A1 —
    * public): the per-document duplicate-line and repeated-n-gram
    * signals a web-scale curation pass filters on, plus the combined
    * keep flag. Signals:
    *
    *  - `dup_line_frac`: repeated non-blank lines / total lines
    *    (occurrences beyond the first);
    *  - `dup_line_char_frac`: characters in those repeated
    *    occurrences / total line characters;
    *  - `top_ngram_char_frac`: token-chars of the single most
    *    frequent `topN`-gram (all its occurrences) / total token
    *    chars — ties break to the lexicographically smallest gram,
    *    so the value is deterministic and engine-portable;
    *  - `dup_ngram_char_frac`: token-chars over ALL occurrences of
    *    `dupN`-grams that occur more than once / total token chars,
    *    capped at 1.0 (overlapping grams overcount by design — the
    *    published heuristic does too).
    *
    * `pass_repetition` applies the paper's thresholds FOR THE n
    * REQUESTED, looked up from the published table
    * ([[topGramThresholds]] n=2..4, [[dupGramThresholds]] n=5..10;
    * defaults (2, 5) → 0.30 / 0.20 / 0.20 / 0.15). The paper's full
    * battery is this same fold at other n — run the operator per n
    * and AND the flags; each run judges against its own n's
    * threshold. A `topN` outside the table requires an explicit
    * `topThreshold`; the dup-gram threshold always comes from the
    * table (no caller overrides it), so a `dupN` outside n=5..10 is
    * an error.
    *
    * Scale shape (r14): ONE doc-grain exchange for the whole
    * battery. The input repartitions on doc_id once (text bytes
    * shuffle exactly once); every fold below keys on doc_id plus a
    * local sub-key, and HashPartitioning(doc_id) satisfies any
    * ClusteredDistribution whose keys include doc_id — so the line
    * fold, both gram folds, their doc-grain re-folds, and the final
    * join set all run PARTITION-LOCAL, and the doc-list join reuses
    * the same exchange (AQE ReusedExchange). The r13 shape instead
    * shuffled (doc, gram-STRING) pairs per stream — for n-grams
    * that is ~n× the text bytes, paid three times (audited 7
    * exchanges; now 1 + the caller's orderBy). No corpus-wide hot
    * key exists by construction (doc id is in every shuffle key);
    * per-doc work is bounded by doc length. */
  def repetitionSignals(df: org.apache.spark.sql.DataFrame,
                        idCol: String, textCol: String,
                        topN: Int = 2, dupN: Int = 5,
                        topThreshold: Option[Double] = None)
      : org.apache.spark.sql.DataFrame = {
    require(topN >= 1 && dupN >= 1, s"topN=$topN dupN=$dupN")
    // Thresholds derive from the paper's table for the n actually
    // requested (ADVICE r13: the old form hardcoded the (2, 5)
    // thresholds into pass_repetition, so running the full battery at
    // other n silently judged against the wrong numbers). An explicit
    // topThreshold overrides; an n outside the published table
    // otherwise fails rather than guessing a threshold.
    val topThr = topThreshold.orElse(topGramThresholds.get(topN))
      .getOrElse(throw new IllegalArgumentException(
        s"no published top-$topN-gram threshold (table covers n=2..4); " +
          "pass topThreshold explicitly"))
    val dupThr = dupGramThresholds.getOrElse(dupN,
      throw new IllegalArgumentException(
        s"no published dup-$dupN-gram threshold (table covers n=5..10)"))
    val docs = df.select(col(idCol).as("doc_id"),
        col(textCol).as("__text"))
      .repartition(col("doc_id"))
    val lines = docs.select(col("doc_id"),
      explode(filter(split(col("__text"), "\n"),
        l => length(trim(l)) > 0)).as("__line"))
    val lineStats = lines.groupBy("doc_id", "__line")
      .agg(count(lit(1)).as("__c"))
      .withColumn("__len", length(col("__line")))
      .groupBy("doc_id").agg(
        sum("__c").as("n_lines"),
        count(lit(1)).as("__nd"),
        sum(col("__c") * col("__len")).as("__lc"),
        sum(when(col("__c") > 1, (col("__c") - 1) * col("__len"))
          .otherwise(0L)).as("__dlc"))
      .select(col("doc_id"), col("n_lines"),
        round((col("n_lines") - col("__nd")).cast("double") /
          col("n_lines"), 6).as("dup_line_frac"),
        round(col("__dlc").cast("double") /
          greatest(col("__lc"), lit(1L)), 6).as("dup_line_char_frac"))
    val toks = docs.select(col("doc_id"),
        TextOps.tokens(col("__text")).as("__tok"))
      .withColumn("__tchars", coalesce(aggregate(col("__tok"),
        lit(0L), (a, t) => a + length(t)), lit(0L)))
    def gramCounts(n: Int) = toks
      .select(col("doc_id"), col("__tchars"),
        explode(wordGrams(col("__tok"), n)).as("__g"))
      .groupBy("doc_id", "__tchars", "__g")
      .agg(count(lit(1)).as("__c"))
    // deterministic top gram: min(struct(-count, gram)) = max count,
    // ties to the smallest gram string
    val top = gramCounts(topN).groupBy("doc_id", "__tchars")
      .agg(min(struct((-col("__c")).as("nc"), col("__g").as("g")))
        .as("__t"))
      .select(col("doc_id"),
        round(((-col("__t.nc")) *
          (length(col("__t.g")) - lit(topN - 1))).cast("double") /
          greatest(col("__tchars"), lit(1L)), 6)
          .as("top_ngram_char_frac"))
    // The dup-gram fold runs at 128-bit DIGEST grain, not gram-string
    // grain (r14, from the zipf8 leg: the 5-gram string explode was
    // ~48M ~33-byte strings + string-keyed hash maps — the battery's
    // dominant allocation bill at 400k docs; the top fold below keeps
    // strings because its lexicographic tie-break needs them, and its
    // topN-grams are half the weight). The fold needs only (count,
    // char-length) per distinct gram, and tokens contain no spaces
    // (split on \s+), so space-joined-string equality ⇔ token-sequence
    // equality ⇔ digest equality up to the usual accepted 2⁻¹²⁸
    // ([[graft.functions.NgramHashes]] two-seed discipline). Gram
    // char lengths come from O(1) bound-slot element_at reads per
    // position — no per-position slice allocation, no re-split
    // ([[bind1]]).
    val dupG = {
      import graft.functions.native.ngram_hashes
      val gl = bind1(transform(col("__tok"),
          t => length(t).cast("long"))) { lens =>
        when(size(col("__tok")) < dupN,
            array().cast("array<bigint>"))
          .otherwise(transform(
            sequence(lit(0), size(col("__tok")) - dupN),
            i => (0 until dupN)
              .map(k => element_at(lens, (i + k + 1).cast("int")))
              .reduce(_ + _) + lit(dupN - 1).cast("long")))
      }
      toks.select(col("doc_id"), col("__tchars"),
          explode(arrays_zip(
            ngram_hashes(col("__tok"), dupN, 1L).as("h1"),
            ngram_hashes(col("__tok"), dupN, 2L).as("h2"),
            gl.as("gl"))).as("__z"))
        .groupBy(col("doc_id"), col("__tchars"),
          col("__z.h1"), col("__z.h2"))
        // gl is a function of the gram (hence of the digest): max =
        // the value, kept out of the grouping key
        .agg(count(lit(1)).as("__c"), max(col("__z.gl")).as("__len"))
    }
    val dup = dupG.groupBy("doc_id", "__tchars")
      .agg(sum(when(col("__c") > 1,
        col("__c") * (col("__len") - lit(dupN - 1)))
        .otherwise(0L)).as("__d"))
      .select(col("doc_id"),
        least(round(col("__d").cast("double") /
          greatest(col("__tchars"), lit(1L)), 6), lit(1.0))
          .as("dup_ngram_char_frac"))
    docs.select(col("doc_id"))
      .join(lineStats, Seq("doc_id"), "left")
      .join(top, Seq("doc_id"), "left")
      .join(dup, Seq("doc_id"), "left")
      .na.fill(0L, Seq("n_lines"))
      .na.fill(0.0, Seq("dup_line_frac", "dup_line_char_frac",
        "top_ngram_char_frac", "dup_ngram_char_frac"))
      .withColumn("pass_repetition",
        col("dup_line_frac") <= 0.30 &&
        col("dup_line_char_frac") <= 0.20 &&
        col("top_ngram_char_frac") <= lit(topThr) &&
        col("dup_ngram_char_frac") <= lit(dupThr))
  }

  /** Corpus-level boilerplate-LINE removal — the line-grain transform
    * CCNet dedups paragraphs with and RefinedWeb's line-wise filter
    * approximates (Wenzek et al. 2019 §4.1 drop duplicated
    * paragraphs corpus-wide; Penedo et al. 2023 §3.3 strip repeated
    * lines): a non-blank line occurring in at least `minDocs`
    * DISTINCT documents is boilerplate (nav bars, cookie banners,
    * footers) and is stripped from EVERY document. Unlike
    * [[graft.ext.DedupOps.stripDupSpans]] (Lee et al. — one
    * canonical copy of repeated CONTENT survives), no copy survives
    * here: text that recurs across `minDocs` unrelated documents is
    * template noise, not content. Within-doc repetition alone never
    * triggers the strip — that is [[repetitionSignals]]' gate, a
    * per-document signal, not a corpus transform. Blank lines are
    * layout: never counted toward hotness, never stripped.
    *
    * Returns one row per input doc: `n_lines` (total physical
    * lines), `n_dropped`, and `clean_text` (surviving lines joined
    * by `\n` in original order; `""` when everything was stripped).
    *
    * Scale shape: lines explode narrow off the scan; the
    * doc-frequency fold runs at 128-bit line-DIGEST grain (two-seed
    * xxhash64 — fixed-width shuffle keys, no line string in a
    * corpus-grain key; the [[graft.functions.NgramHashes]]/DSIR
    * digest discipline, collision 2⁻¹²⁸ accepted as everywhere else
    * in this repo), two-level (digest, doc) → (digest) so a
    * corpus-hot banner line collapses map-side instead of pinning a
    * reducer. The hot set is bounded by distinct (line, doc) pairs /
    * minDocs — threshold-divided, and at any realistic threshold
    * AQE broadcasts it back onto the line stream (no hint: the
    * bound is data-dependent, the planner sees the real size). The
    * rebuild is ONE doc-keyed fold (`min(struct)`-style ordered
    * array_sort over (pos, line) structs). */
  def stripBoilerplateLines(df: org.apache.spark.sql.DataFrame,
                            idCol: String, textCol: String,
                            minDocs: Int = 3)
      : org.apache.spark.sql.DataFrame = {
    require(minDocs >= 2, s"minDocs=$minDocs")
    // NULL text coalesces to "" (one empty line) — explode of a NULL
    // array would silently drop the doc from the output, and a
    // transform that loses rows is a correctness bug at any scale
    // NOT widened: the line fold is xxhash64-cheap per row and the
    // bench median regressed 1.07 -> 1.20 s under a widen
    val lines = df.select(col(idCol),
        posexplode(split(coalesce(col(textCol), lit("")), "\n"))
          .as(Seq("__pos", "__line")))
      .withColumn("__h1", xxhash64(col("__line"), lit(1L)))
      .withColumn("__h2", xxhash64(col("__line"), lit(2L)))
    // blankness = nothing but space/tab/CR/FF — an EXPLICIT char
    // class, not trim() (which strips only 0x20: on a CRLF corpus
    // every separator line is "\r" after the \n split, and a
    // space-only blankness test would make it hot-eligible and strip
    // it from every doc — exactly the layout damage the blank-line
    // exemption exists to prevent). The class is explicit rather
    // than \s because Java and RE2 disagree on vertical tab.
    val hot = lines.filter(
        length(regexp_replace(col("__line"), "[ \t\r\f]", "")) > 0)
      .select(col("__h1"), col("__h2"), col(idCol)).distinct()
      .groupBy("__h1", "__h2").agg(count(lit(1)).as("__df"))
      .filter(col("__df") >= minDocs)
    // blank lines never enter `hot` (filtered before the fold), so a
    // left join marks exactly the strippable occurrences
    val flagged = lines.join(hot, Seq("__h1", "__h2"), "left")
    flagged.groupBy(col(idCol)).agg(
      count(lit(1)).as("n_lines"),
      sum(when(col("__df").isNotNull, 1L).otherwise(0L))
        .as("n_dropped"),
      array_join(transform(array_sort(collect_list(
          when(col("__df").isNull,
            struct(col("__pos"), col("__line"))))),
        s => s.getField("__line")), "\n").as("clean_text"))
  }

  /** Gopher repetition thresholds (Rae et al. 2021, table A1 —
    * public): top n-gram character fraction by n, and duplicate
    * n-gram character fraction by n. The line-grain thresholds
    * (dup_line_frac ≤ 0.30, dup_line_char_frac ≤ 0.20) are
    * n-independent and stay inline in [[repetitionSignals]]. */
  private[graft] val topGramThresholds: Map[Int, Double] =
    Map(2 -> 0.20, 3 -> 0.18, 4 -> 0.16)
  private[graft] val dupGramThresholds: Map[Int, Double] =
    Map(5 -> 0.15, 6 -> 0.14, 7 -> 0.13, 8 -> 0.12, 9 -> 0.11,
      10 -> 0.10)
}
