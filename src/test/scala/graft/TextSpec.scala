package graft

import org.apache.spark.sql.functions._
import graft.ext.TextOps

class TextSpec extends SparkSpec {
  import spark.implicits._

  private def one[T](c: org.apache.spark.sql.Column): T =
    spark.range(1).select(c.as("v")).head().getAs[T](0)

  test("tokens handles blank and multi-space text") {
    val toks = spark.range(1)
      .select(TextOps.tokens(lit("  a  b   c  ")).as("t"))
      .head().getSeq[String](0)
    assert(toks == Seq("a", "b", "c"))
    assert(one[Int](TextOps.tokenCount(lit("   "))) == 0)
    assert(one[Int](TextOps.tokenCount(lit(""))) == 0)
  }

  test("normalizeUnicode: NFC composes, NFKC maps compatibility " +
    "forms, both agree with java.text.Normalizer") {
    // decomposed e + combining acute -> composed e-acute under NFC
    assert(one[String](TextOps.normalizeUnicode(lit("cafe\u0301")))
      === "caf\u00e9")
    // NFC leaves compatibility forms; NFKC folds them to ASCII
    val compat = "\uFF21\uFF22\uFF23\uFF10 \uFB01n"
    assert(one[String](TextOps.normalizeUnicode(lit(compat))) === compat)
    assert(one[String](TextOps.normalizeUnicode(lit(compat), "NFKC"))
      === "ABC0 fin")
    // agreement with the JDK reference on a mixed string
    val mixed = "e\u0301\uFF41\uFB01 plain"
    for (form <- Seq("NFC", "NFD", "NFKC", "NFKD"))
      assert(one[String](TextOps.normalizeUnicode(lit(mixed), form)) ===
        java.text.Normalizer.normalize(mixed,
          java.text.Normalizer.Form.valueOf(form)), form)
    // pure ASCII is untouched
    assert(one[String](TextOps.normalizeUnicode(lit("plain text")))
      === "plain text")
  }

  test("zero-width strip and mojibake heuristics count and clean the " +
    "invisible/mis-decoded characters") {
    val dirty = "a\u200Bb\u200Cc\u200Dd\u2060e\uFEFFf"
    assert(one[String](TextOps.stripZeroWidth(lit(dirty))) === "abcdef")
    assert(one[Int](TextOps.zeroWidthCount(lit(dirty))) === 5)
    assert(one[Int](TextOps.zeroWidthCount(lit("clean"))) === 0)
    // the classic UTF-8-as-Latin-1 e-acute plus a replacement char
    assert(one[Int](TextOps.mojibakeHits(
      lit("caf\u00C3\u00A9 x\uFFFD"))) === 2)
    assert(one[Boolean](TextOps.isMojibake(
      lit("caf\u00C3\u00A9"))) === true)
    assert(one[Boolean](TextOps.isMojibake(lit("caf\u00e9"))) === false)
    // letter-follows guard: legitimate accented names carry the
    // tell-tale FOLLOWED BY A LETTER and must NOT be flagged —
    // the ADVICE-pinned false-positive class ("\u00C2ngelo",
    // multilingual block with word-initial \u00C3/\u00C2)
    assert(one[Boolean](TextOps.isMojibake(
      lit("\u00C2ngelo moved to S\u00E3o Paulo"))) === false)
    assert(one[Boolean](TextOps.isMojibake(
      lit("\u00C3ngstr\u00F6m units"))) === false)
    // tell-tale at end-of-text is the mis-decode shape, not a name
    assert(one[Boolean](TextOps.isMojibake(lit("caf\u00C3"))) === true)
    // U+FFFD always flags: the lossy decode already happened
    assert(one[Boolean](TextOps.isMojibake(lit("x\uFFFDy"))) === true)
    // and the flag routes, never deletes: hits count stays available
    assert(one[Int](TextOps.mojibakeHits(
      lit("\u00C2ngelo"))) === 1)
  }

  test("normalization feeds dedup: composed and decomposed spellings " +
    "collapse to one survivor over the normalized column") {
    import graft.ext.DedupOps
    val docs = Seq(
      (1L, "caf\u00e9 menu"),        // composed e-acute
      (2L, "cafe\u0301 menu"),       // decomposed e + U+0301
      (3L, "caf\u00e9\u200B menu"), // composed + zero-width sneak
      (4L, "other text entirely")
    ).toDF("doc_id", "text")
    // raw text: all four hash apart
    assert(DedupOps.exactDedupByHash(docs, "doc_id", "text")
      .count() === 4)
    // normalized + zero-width-stripped: 1, 2, 3 collapse to min-id 1
    val normed = docs.withColumn("text_norm",
      TextOps.stripZeroWidth(TextOps.normalizeUnicode(col("text"))))
    val kept = DedupOps.exactDedupByHash(normed, "doc_id", "text_norm")
      .select("doc_id").as[Long].collect().toSet
    assert(kept === Set(1L, 4L))
    // fingerprint agrees over the normalized column
    val fps = normed.orderBy("doc_id")
      .select(TextOps.fingerprint(col("text_norm")).as("fp"))
      .collect().map(_.get(0))
    assert(fps(0) == fps(1) && fps(0) == fps(2) && fps(0) != fps(3))
  }

  test("langId picks the marker-heavy language") {
    assert(one[String](TextOps.langId(
      lit("the cat and the dog is in the house"))) == "en")
    assert(one[String](TextOps.langId(
      lit("der hund und die katze ist nicht hier"))) == "de")
    assert(one[String](TextOps.langId(
      lit("le chat et le chien est pour les amis"))) == "fr")
    assert(one[String](TextOps.langId(lit("xyzzy qwerty"))) == "und")
  }

  test("qualityScore rewards clean prose, penalizes noise") {
    val clean = one[Double](TextOps.qualityScore(lit(
      "the quick brown fox jumps over the lazy dog and runs to the river")))
    val noisy = one[Double](TextOps.qualityScore(lit(
      "x,,,.!!??;;;:..,y!!!")))
    assert(clean > 0.8)
    assert(noisy < 0.4)
    assert(clean <= 1.0 && noisy >= 0.0)
  }

  test("fingerprint is whitespace/case-insensitive, content-sensitive") {
    val a = one[String](TextOps.fingerprint(lit("Hello   World")))
    val b = one[String](TextOps.fingerprint(lit("hello world")))
    val c = one[String](TextOps.fingerprint(lit("hello worlds")))
    assert(a == b)
    assert(a != c)
  }

  test("chunkDocs: sizes, overlap, and empty-doc row") {
    val docs = Seq(
      (1L, (1 to 50).map(i => s"t$i").mkString(" ")), // 50 tokens
      (2L, "a b c"),                                  // under one chunk
      (3L, "")                                        // empty
    ).toDF("doc_id", "text")
    val out = TextOps.chunkDocs(docs, "doc_id", "text",
      chunkSize = 32, overlap = 8)
      .orderBy("doc_id", "chunk_idx")
      .as[(Long, Long, String, Int)].collect()
    // doc 1: starts at 1, 25 (start 49 is suppressed — its 2 tokens
    // are already covered by chunk 1) -> 2 chunks of 32, 26 tokens
    val d1 = out.filter(_._1 == 1L)
    assert(d1.map(_._2).toSeq == Seq(0L, 1L))
    assert(d1.map(_._4).toSeq == Seq(32, 26))
    // overlap: chunk 1 starts at token 25, so tokens 25..32 are shared
    assert(d1(0)._3.split(" ").drop(24).take(8).toSeq ==
      d1(1)._3.split(" ").take(8).toSeq)
    // doc 2: one short chunk
    assert(out.filter(_._1 == 2L).toSeq ==
      Seq((2L, 0L, "a b c", 3)))
    // doc 3: survives as one empty chunk
    assert(out.filter(_._1 == 3L).toSeq == Seq((3L, 0L, "", 0)))
  }

  test("wordNgrams: sliding windows, short-doc empty array") {
    val g = spark.range(1)
      .select(TextOps.wordNgrams(lit("a b c d"), 3).as("g"))
      .head().getSeq[String](0)
    assert(g == Seq("a b c", "b c d"))
    assert(spark.range(1)
      .select(TextOps.wordNgrams(lit("a b"), 3).as("g"))
      .head().getSeq[String](0).isEmpty)
  }

  test("redactPii scrubs emails, phones, IPs; counts match") {
    val txt = "mail bob.smith+x@sub.example.org or eve@ex.io, " +
      "call 555-123-4567, host 192.168.0.1 end"
    val red = one[String](TextOps.redactPii(lit(txt)))
    assert(red == "mail <EMAIL> or <EMAIL>, call <PHONE>, " +
      "host <IP> end")
    assert(one[Int](TextOps.piiCount(lit(txt), "email")) == 2)
    assert(one[Int](TextOps.piiCount(lit(txt), "phone")) == 1)
    assert(one[Int](TextOps.piiCount(lit(txt), "ip")) == 1)
    // non-PII digits survive: dates, versions, plain numbers
    val clean = "version 1.2 of 2024 shipped 10000 units"
    assert(one[String](TextOps.redactPii(lit(clean))) == clean)
  }

  test("repetition metrics: unique text scores 0, loops score high") {
    // the three fields of repetitionFracs at its (topN 2, dupN 3) default
    def frac(text: String, field: String): Double =
      one[Double](TextOps.repetitionFracs(lit(text)).getField(field))
    val unique = "alpha beta gamma delta epsilon zeta"
    assert(frac(unique, "dup_token_frac") == 0.0)
    assert(frac(unique, "dup_ngram_frac") == 0.0)
    // "spam ham " * n: every bigram is one of two values
    val loop = Seq.fill(10)("spam ham").mkString(" ")
    assert(frac(loop, "dup_token_frac") == 0.9)
    assert(frac(loop, "top_ngram_frac") > 0.5)
    assert(frac(loop, "dup_ngram_frac") > 0.8)
    // empty text: all zero, no division error
    assert(frac("", "dup_token_frac") == 0.0)
    assert(frac("", "top_ngram_frac") == 0.0)
  }

  test("repetitionSignals: hand-computed line and char-mass gram " +
    "fractions (the Gopher table's line-grain half)") {
    import spark.implicits._
    val docs = Seq(
      // 4 lines, "dup dup" twice: dup_line_frac 1/4; line chars
      // 7+7+3+5=22, repeated occurrence chars 7 -> 0.318182
      (1L, "dup dup\ndup dup\nabc\nx y z"),
      // 20 distinct 2-3 char tokens in two lines: no repetition,
      // top 2-gram count 1 -> char frac small enough to pass
      (2L, (0 until 10).map(i => s"a$i").mkString(" ") + "\n" +
        (10 until 20).map(i => s"a$i").mkString(" ")),
      // blank/whitespace lines are excluded from line stats
      (3L, "solo\n   \n\nsolo"),
      (4L, "")).toDF("doc_id", "text")
    val out = TextOps.repetitionSignals(docs, "doc_id", "text")
      .orderBy("doc_id")
      .select("doc_id", "n_lines", "dup_line_frac",
        "dup_line_char_frac", "top_ngram_char_frac",
        "dup_ngram_char_frac", "pass_repetition")
      .as[(Long, Long, Double, Double, Double, Double, Boolean)]
      .collect().toList
    val d1 = out(0)
    assert(d1._2 == 4 && d1._3 == 0.25 && d1._4 == 0.318182, d1)
    // top 2-gram of doc 1: the token stream is dup,dup,dup,dup,...
    // so "dup dup" occurs 3 times (sliding); token chars = 18;
    // top frac = 3*6/18 = 1.0 — and the doc fails the gate
    assert(d1._5 == 1.0 && !d1._7, d1)
    val d2 = out(1)
    assert(d2._2 == 2 && d2._3 == 0.0 && d2._4 == 0.0 && d2._7, d2)
    val d3 = out(2)
    // two identical non-blank lines
    assert(d3._2 == 2 && d3._3 == 0.5 && d3._4 == 0.5, d3)
    val d4 = out(3)
    // empty doc: no lines, all signals 0, gate passes — the doc is
    // not silently dropped from the output
    assert(d4 == ((4L, 0L, 0.0, 0.0, 0.0, 0.0, true)), d4)
  }

  test("repetitionSignals line-grain boundaries: trailing newlines " +
    "add no line, all-dup docs saturate the fraction, " +
    "whitespace-only docs stay zero (the zipfml fixture edges)") {
    import spark.implicits._
    val docs = Seq(
      // trailing newline: split yields a final "" — filtered, NOT a
      // line; the three real lines are all the same → all-dup doc
      (1L, "a b\na b\na b\n"),
      // single line + trailing newline: one line, no duplication
      (2L, "only line here\n"),
      // space-only doc: every line blank (trim strips the spaces)
      // → no lines at all
      (3L, " \n  \n \n"),
      // CRLF-ish content is NOT special-cased: '\r' stays in the
      // line, so "x\r" != "x" — document the exact contract
      (4L, "x\r\nx")).toDF("doc_id", "text")
    val out = TextOps.repetitionSignals(docs, "doc_id", "text")
      .orderBy("doc_id")
      .select("doc_id", "n_lines", "dup_line_frac",
        "dup_line_char_frac")
      .as[(Long, Long, Double, Double)].collect().toSeq
    // doc 1: 3 lines "a b", 2 repeats → frac 2/3, char mass 6/9
    assert(out(0) == ((1L, 3L, 0.666667, 0.666667)), out(0))
    assert(out(1) == ((2L, 1L, 0.0, 0.0)), out(1))
    assert(out(2) == ((3L, 0L, 0.0, 0.0)), out(2))
    // doc 4: lines "x\r" and "x" — distinct under the exact-match
    // contract (the equality key is the raw line; no CR folding)
    val d4 = out(3)
    assert(d4._2 == 2L && d4._3 == 0.0, d4)
  }

  test("repetitionSignals derives the paper's thresholds from " +
    "(topN, dupN) — a top-3-gram run judges at 0.18, not the " +
    "default pair's 0.20 (ADVICE r13)") {
    import spark.implicits._
    // A doc whose top-3-gram char fraction sits BETWEEN the 3-gram
    // threshold (0.18) and the default pair's 0.20 pins the lookup:
    // repeated 3-gram "abcdefg hijklm nopqrs" (19 token chars) twice
    // = 38 chars, total token chars exactly 200 (54 distinct 3-char
    // filler tokens = 162) → frac = 38/200 = 0.19. All filler tokens
    // are distinct, so no other gram repeats (dup-5-gram frac 0) and
    // the verdict is decided by the top-gram threshold alone.
    val fill = (0 until 54).map(i => s"q${"%02d".format(i)}")
    val gram = "abcdefg hijklm nopqrs"
    val text = (gram + " " + fill.take(27).mkString(" ") + " " +
      gram + " " + fill.drop(27).mkString(" "))
    val docs = Seq((1L, text)).toDF("doc_id", "text")
    val at3 = TextOps.repetitionSignals(docs, "doc_id", "text",
        topN = 3)
      .select("top_ngram_char_frac", "pass_repetition")
      .as[(Double, Boolean)].head()
    assert(at3._1 == 0.19, at3)
    assert(!at3._2, "0.19 must FAIL the 3-gram threshold 0.18")
    // the same fraction under an explicit override passes
    val loose = TextOps.repetitionSignals(docs, "doc_id", "text",
        topN = 3, topThreshold = Some(0.20))
      .select("pass_repetition").as[Boolean].head()
    assert(loose, "0.19 passes an explicit 0.20 override")
    // n outside the published table without an override is an error
    intercept[IllegalArgumentException] {
      TextOps.repetitionSignals(docs, "doc_id", "text", topN = 7)
    }
    intercept[IllegalArgumentException] {
      TextOps.repetitionSignals(docs, "doc_id", "text", dupN = 3)
    }
  }

  test("stripBoilerplateLines: a line in ≥ minDocs DISTINCT docs is " +
    "stripped everywhere; within-doc repetition, blank lines, and " +
    "trailing newlines survive") {
    val hot = "menu home about contact"
    val docs = Seq(
      (1L, s"$hot\nalpha beta\n\ngamma"),     // hot + interior blank
      (2L, s"intro\n$hot\nend"),
      (3L, hot),                              // nothing but the banner
      // within-doc dup (1 distinct doc < 3) + trailing newline
      (4L, "dup dup line\ndup dup line\ntail\n")
    ).toDF("doc_id", "text")
    val out = TextOps
      .stripBoilerplateLines(docs, "doc_id", "text", minDocs = 3)
      .orderBy("doc_id")
      .select("doc_id", "n_lines", "n_dropped", "clean_text")
      .as[(Long, Long, Long, String)].collect().toSeq
    assert(out(0) == ((1L, 4L, 1L, "alpha beta\n\ngamma")))
    assert(out(1) == ((2L, 3L, 1L, "intro\nend")))
    // all-boilerplate doc: empty reconstruction, not a dropped row
    assert(out(2) == ((3L, 1L, 1L, "")))
    // nothing hot: reconstruction is byte-identical to the input,
    // trailing empty line included
    assert(out(3) == ((4L, 4L, 0L, "dup dup line\ndup dup line\ntail\n")))
    // at minDocs = 2 the within-doc dup STILL survives (distinct-doc
    // frequency is 1) — only the 3-doc banner goes
    val at2 = TextOps
      .stripBoilerplateLines(docs, "doc_id", "text", minDocs = 2)
      .orderBy("doc_id")
      .select("n_dropped").as[Long].collect().toSeq
    assert(at2 == Seq(1L, 1L, 1L, 0L))
    // a NULL text must not vanish from the output — it is one empty
    // line, kept
    val withNull = Seq((9L, null: String)).toDF("doc_id", "text")
      .unionByName(docs)
    val nullRow = TextOps
      .stripBoilerplateLines(withNull, "doc_id", "text", minDocs = 3)
      .filter(col("doc_id") === 9L)
      .select("n_lines", "n_dropped", "clean_text")
      .as[(Long, Long, String)].collect().toSeq
    assert(nullRow == Seq((1L, 0L, "")))
    // CRLF corpus: after the \n split every separator line is "\r" —
    // blank by the explicit char-set test, so NEVER hot-eligible even
    // when every doc carries it (the layout-damage case a plain
    // trim()-based blankness test would cause)
    val crlf = Seq(
      (21L, "one two\r\n\r\nthree four\r"),
      (22L, "five six\r\n\r\nseven\r"),
      (23L, "eight\r\n\r\nnine ten\r")
    ).toDF("doc_id", "text")
    val crOut = TextOps
      .stripBoilerplateLines(crlf, "doc_id", "text", minDocs = 3)
      .orderBy("doc_id")
      .select("n_dropped", "clean_text")
      .as[(Long, String)].collect().toSeq
    assert(crOut.map(_._1) == Seq(0L, 0L, 0L),
      "CR-only separator lines are blank, never boilerplate")
    assert(crOut.head._2 == "one two\r\n\r\nthree four\r",
      "reconstruction is byte-identical when nothing is hot")
  }
}
