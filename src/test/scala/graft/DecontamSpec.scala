package graft

import org.apache.spark.sql.functions._
import graft.ext.DecontamOps

/** Benchmark decontamination: n-gram overlap flagging/removal and
  * its broadcast-semi-join plan shape. */
class DecontamSpec extends SparkSpec {
  import spark.implicits._

  private val evalSet = Seq(
    (100L, "the quick brown fox jumps over the lazy dog"),
    (101L, "to be or not to be that is the question"))
    .toDF("doc_id", "text")

  private val corpus = Seq(
    // shares the 4-gram "quick brown fox jumps"
    (1L, "a very quick brown fox jumps high today"),
    // shares tokens but no 4-gram
    (2L, "the dog jumps over a brown log quietly"),
    // verbatim eval sentence embedded
    (3L, "prefix to be or not to be that is the question suffix"),
    // nothing shared
    (4L, "completely unrelated words about spark engines"),
    // too short for any 4-gram
    (5L, "quick brown fox")).toDF("doc_id", "text")

  test("contaminatedIds flags exactly the n-gram-overlapping docs") {
    val bad = DecontamOps.contaminatedIds(corpus, evalSet,
      "doc_id", "text", 4).as[Long].collect().sorted.toSeq
    assert(bad == Seq(1L, 3L))
  }

  test("leakReport counts contaminating docs and distinct leaked " +
    "n-grams per eval doc; clean eval docs get a zero row") {
    val out = DecontamOps.leakReport(corpus, evalSet,
        "doc_id", "text", 4)
      .orderBy("eval_id")
      .as[(Long, Long, Long)].collect().toSeq
    // eval 100 leaks only "quick brown fox jumps" (via corpus doc 1);
    // eval 101's full sentence is embedded in doc 3 → all 7 of its
    // 4-grams leak from that single doc
    assert(out === Seq((100L, 1L, 1L), (101L, 1L, 7L)))
    // add an eval doc that shares nothing → zero row present
    val evalPlus = evalSet.unionByName(
      Seq((102L, "zz yy xx ww vv uu")).toDF("doc_id", "text"))
    val withClean = DecontamOps.leakReport(corpus, evalPlus,
        "doc_id", "text", 4)
      .orderBy("eval_id").as[(Long, Long, Long)].collect().toSeq
    assert(withClean === Seq((100L, 1L, 1L), (101L, 1L, 7L),
      (102L, 0L, 0L)))
  }

  test("decontaminate removes flagged docs; flagContaminated keeps " +
    "all rows with the boolean") {
    val kept = DecontamOps.decontaminate(corpus, evalSet,
      "doc_id", "text", 4).select("doc_id")
      .as[Long].collect().sorted.toSeq
    assert(kept == Seq(2L, 4L, 5L))
    val flags = DecontamOps.flagContaminated(corpus, evalSet,
      "doc_id", "text", 4)
      .select("doc_id", "contaminated")
      .as[(Long, Boolean)].collect().toMap
    assert(flags == Map(1L -> true, 2L -> false, 3L -> true,
      4L -> false, 5L -> false))
  }

  test("hashed mode flags the identical documents (crafted corpus " +
    "and the bench documents table)") {
    // crafted corpus: exact expected ids
    val bad = DecontamOps.contaminatedIds(corpus, evalSet,
      "doc_id", "text", 4, hashed = true)
      .as[Long].collect().sorted.toSeq
    assert(bad == Seq(1L, 3L))
    // bench corpus: hashed and exact modes must agree document for
    // document (the 2^-64 collision rate is unobservable here)
    val docs = spark.read
      .parquet("/root/testdata/sf0.001/documents.parquet")
    val eval = docs.filter(col("doc_id") % 7 === 0)
    def flags(h: Boolean) = DecontamOps.flagContaminated(
        docs, eval, "doc_id", "text", 8, hashed = h)
      .select("doc_id", "contaminated")
      .as[(Long, Boolean)].collect().toMap
    assert(flags(true) == flags(false))
  }

  test("hashed mode broadcasts longs, not strings") {
    val plan = DecontamOps.contaminatedIds(corpus, evalSet,
      "doc_id", "text", 4, hashed = true)
      .queryExecution.executedPlan.toString
    assert(plan.contains("xxhash64"), plan)
    assert(plan.contains("BroadcastHashJoin"), plan)
  }

  test("eval n-gram set joins as a broadcast (no corpus shuffle)") {
    val plan = DecontamOps.contaminatedIds(corpus, evalSet,
      "doc_id", "text", 4).queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin") ||
      plan.contains("BroadcastNestedLoopJoin"),
      s"expected broadcast semi join in:\n$plan")
  }

  test("fuzzyContaminationReport: candidate pairs get the eval-token " +
    "coverage ratio, the n-gram gate bounds recall, and the verbatim " +
    "embed flags at 1.0") {
    val out = DecontamOps.fuzzyContaminationReport(corpus, evalSet,
        "doc_id", "text", n = 4, tau = 0.6)
      .orderBy("corpus_id", "eval_id")
      .select("corpus_id", "eval_id", "eval_overlap",
        "contaminated_fuzzy")
      .as[(Long, Long, Double, Boolean)].collect().toSeq
    // candidates: doc 1 × eval 100 (shares "quick brown fox jumps"),
    // doc 3 × eval 101 (verbatim embed). Doc 2 shares 6 of eval 100's
    // tokens but NO 4-gram — the gate's documented recall boundary:
    // no row. Docs 4/5 clean/too short.
    assert(out.map(r => (r._1, r._2)) == Seq((1L, 100L), (3L, 101L)))
    // doc 1 covers {quick, brown, fox, jumps} of eval 100's 8
    // distinct tokens ("the" repeats) → 4/8
    val r1 = out.head
    assert(r1._3 == 0.5 && !r1._4, r1)
    // doc 3 embeds eval 101 verbatim → covers all its tokens
    val r3 = out(1)
    assert(r3._3 == 1.0 && r3._4, r3)
  }

  test("fuzzy report builds token sets only for candidate corpus " +
    "docs (broadcast semi-filter, not a whole-corpus tokenize)") {
    val plan = DecontamOps.fuzzyContaminationReport(corpus, evalSet,
      "doc_id", "text", n = 4, tau = 0.6)
      .queryExecution.executedPlan.toString
    // the corpus-side token-set build must sit behind a LeftSemi
    // broadcast join on the candidate ids
    assert(plan.contains("LeftSemi"), plan)
  }

  // A paraphrased eval item and its embedding twin: the corpus doc
  // shares NO 4-gram with the eval item (the n-gram gate's stated
  // recall boundary) but its embedding is nearly parallel.
  private val evalVec = Seq(
    (200L, "the quick brown fox jumps over the lazy dog",
      Array(1.0f, 0.0f, 0.2f)))
    .toDF("doc_id", "text", "vec")
  private val corpusVec = Seq(
    // paraphrase: same meaning, no shared 4-gram, cosine ≈ 0.998
    (10L, "a speedy auburn fox leaps above one idle hound",
      Array(0.98f, 0.05f, 0.21f)),
    // unrelated text AND orthogonal embedding
    (11L, "completely unrelated words about spark engines",
      Array(0.0f, 1.0f, 0.0f)),
    // null embedding: screened by neither layer's embedding side
    (12L, "quick brown fox jumps over the lazy dog today",
      null.asInstanceOf[Array[Float]]))
    .toDF("doc_id", "text", "vec")

  test("semantic screen catches the paraphrase the n-gram gate " +
    "provably misses") {
    // the gate misses doc 10: no shared 4-gram → no fuzzy candidate
    val fuzzy = DecontamOps.fuzzyContaminationReport(
        corpusVec.filter(col("doc_id") === 10), evalVec,
        "doc_id", "text", n = 4, tau = 0.0)
      .count()
    assert(fuzzy == 0L)
    // the embedding screen flags it
    val sem = DecontamOps.semanticContaminationReport(corpusVec,
        evalVec, "doc_id", "vec", tau = 0.9)
      .as[(Long, Long, Double)].collect().toSeq
    assert(sem.map(_._1) == Seq(10L), sem)
    assert(sem.head._3 > 0.99, sem)
    // removing the reported ids keeps the rest; the null-embedding
    // doc is not flagged
    val kept = corpusVec.join(DecontamOps.semanticContaminationReport(
        corpusVec, evalVec, "doc_id", "vec", tau = 0.9)
        .select(col("corpus_id").as("doc_id")), Seq("doc_id"),
        "left_anti")
      .select("doc_id").as[Long].collect().sorted.toSeq
    assert(kept == Seq(11L, 12L))
  }

  test("decontaminateFull drops the union of the n-gram gate and " +
    "the embedding screen") {
    // doc 12 trips the n-gram gate (verbatim 4-grams, null vector);
    // doc 10 trips only the semantic screen; doc 11 survives both
    val gate = DecontamOps.contaminatedIds(corpusVec, evalVec,
        "doc_id", "text", n = 4)
      .as[Long].collect().toSet
    val screen = DecontamOps.semanticContaminationReport(corpusVec,
        evalVec, "doc_id", "vec", tau = 0.9)
      .select("corpus_id").as[Long].collect().toSet
    assert(gate == Set(12L) && screen == Set(10L))
    val kept = corpusVec.select("doc_id").as[Long].collect().toSet --
      (gate ++ screen)
    assert(kept == Set(11L))
  }

  test("semantic screen is one corpus scan — no join operator, no " +
    "exchange (the eval table rides the kernel expression)") {
    val plan = DecontamOps.semanticContaminationReport(corpusVec,
      evalVec, "doc_id", "vec", tau = 0.9)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Join"), plan)
    assert(!plan.contains("Exchange"), plan)
    assert(plan.contains("cosine_matches_above_tau"), plan)
  }

  test("semantic kernel ≡ the crossJoin(round(cosine)) reference " +
    "form — hits, values, ragged lengths, zero norms") {
    // deterministic pseudo-random vectors incl. a ragged (shorter)
    // eval, a zero-norm eval, a zero-norm corpus row, and values
    // engineered to land near the tau boundary
    def vec(seed: Long, n: Int): Array[Float] =
      Array.tabulate(n)(i => (((seed * 2654435761L + i * 40503L)
        % 1000L) - 500L).toFloat / 500.0f)
    val evals = (0L until 40L).map { j =>
      val v = if (j == 7L) Array.fill(3)(0.0f)          // zero norm
        else if (j == 11L) vec(j, 2)                     // ragged
        else vec(j, 8)
      (j + 1000L, v)
    }.toDF("doc_id", "vec")
    val corp = (0L until 300L).map { i =>
      val v = if (i == 13L) Array.fill(8)(0.0f)          // zero norm
        else if (i == 17L) null.asInstanceOf[Array[Float]]
        else vec(i + 77L, 8)
      (i, v)
    }.toDF("doc_id", "vec")
    val tau = 0.3
    val kernel = DecontamOps.semanticContaminationReport(
        corp, evals, "doc_id", "vec", tau)
      .as[(Long, Long, Double)].collect().toSet
    // the pre-r16 join formulation, verbatim
    val reference = corp.filter(col("vec").isNotNull)
      .select(col("doc_id").as("corpus_id"),
        col("vec").cast("array<double>").as("__cv"))
      .crossJoin(broadcast(evals.filter(col("vec").isNotNull)
        .select(col("doc_id").as("eval_id"),
          col("vec").cast("array<double>").as("__ev"))))
      .withColumn("cosine_sim",
        round(graft.ext.VectorOps.cosine(col("__cv"), col("__ev")), 6))
      .filter(col("cosine_sim") >= tau)
      .select("corpus_id", "eval_id", "cosine_sim")
      .as[(Long, Long, Double)].collect().toSet
    assert(reference.nonEmpty, "fixture produced no reference hits")
    assert(kernel == reference,
      s"kernel-only: ${kernel -- reference}; " +
        s"reference-only: ${reference -- kernel}")
  }

  test("semantic screen preserves an int eval-id type and refuses " +
    "a non-integral one") {
    val evalsInt = Seq((5, Array(1.0f, 0.0f)))
      .toDF("doc_id", "vec")
    val corpInt = Seq((1, Array(0.9f, 0.1f)))
      .toDF("doc_id", "vec")
    val out = DecontamOps.semanticContaminationReport(
      corpInt, evalsInt, "doc_id", "vec", tau = 0.5)
    assert(out.schema("eval_id").dataType.simpleString == "int")
    assert(out.count() == 1L)
    val evalsStr = Seq(("a", Array(1.0f))).toDF("doc_id", "vec")
    val e = intercept[IllegalArgumentException] {
      DecontamOps.semanticContaminationReport(
        corpInt.withColumn("doc_id", col("doc_id").cast("string")),
        evalsStr, "doc_id", "vec", tau = 0.5)
    }
    assert(e.getMessage.contains("integral"))
  }
}
