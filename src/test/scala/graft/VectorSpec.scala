package graft

import org.apache.spark.sql.functions._
import graft.ext.VectorOps

class VectorSpec extends SparkSpec {
  import spark.implicits._

  test("cosine: identity, orthogonality, opposition") {
    val df = Seq(
      (Seq(1f, 0f), Seq(1f, 0f), 1.0),
      (Seq(1f, 0f), Seq(0f, 1f), 0.0),
      (Seq(1f, 0f), Seq(-1f, 0f), -1.0),
      (Seq(3f, 4f), Seq(3f, 4f), 1.0)
    ).toDF("a", "b", "expected")
    val got = df.select(VectorOps.cosine($"a", $"b").as("c"), $"expected")
      .as[(Double, Double)].collect()
    got.foreach { case (c, e) => assert(math.abs(c - e) < 1e-12) }
  }

  test("bruteForceTopK returns correct neighbors in order") {
    val vecs = Seq(
      (0L, Seq(1f, 0f, 0f)),
      (1L, Seq(0.9f, 0.1f, 0f)),   // closest to 0
      (2L, Seq(0.5f, 0.5f, 0f)),   // second
      (3L, Seq(0f, 0f, 1f))        // orthogonal
    ).toDF("vec_id", "embedding")
    val out = VectorOps.bruteForceTopK(vecs,
        vecs.filter($"vec_id" === 0), "vec_id", "embedding", 2)
      .select("neighbor_id").as[Long].collect().toSeq
    assert(out == Seq(1L, 2L))
  }

  test("lshTopK recall vs brute force on real embeddings") {
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.001")
    val queries = emb.filter($"vec_id" < 5)
    val exact = VectorOps.bruteForceTopK(emb, queries, "vec_id",
        "embedding", 10)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val approx = VectorOps.lshTopK(emb, queries, "vec_id",
        "embedding", 10, bits = 4, tables = 8)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    // 8 tables of 4-bit buckets over ~50 vectors: reasonable recall
    // expected; assert a sane floor (this is approximate by design)
    val recall = (exact & approx).size.toDouble / exact.size
    assert(recall > 0.3, s"LSH recall $recall suspiciously low")
    // and rerun must be bit-identical (deterministic hashing)
    val again = VectorOps.lshTopK(emb, queries, "vec_id",
        "embedding", 10, bits = 4, tables = 8)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    assert(approx == again)
  }

  test("blocked exact near-dup pairs: complete within blocks, capped") {
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.001")
    val blocked = VectorOps.cosineNearDupPairsBlocked(emb, "vec_id",
        "embedding", Seq("label"), threshold = 0.0)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    // ground truth: brute-force all pairs within each label
    val rows = emb.select($"vec_id", $"label", $"embedding")
      .as[(Long, Int, Seq[Float])].collect()
    def cos(a: Seq[Float], b: Seq[Float]): Double = {
      val (d, na, nb) = a.zip(b).foldLeft((0.0, 0.0, 0.0)) {
        case ((d, na, nb), (x, y)) =>
          (d + x.toDouble * y, na + x.toDouble * x, nb + y.toDouble * y)
      }
      d / (math.sqrt(na) * math.sqrt(nb))
    }
    val expected = (for {
      a <- rows; b <- rows
      if a._1 < b._1 && a._2 == b._2 && cos(a._3, b._3) >= 0.0
    } yield (a._1, b._1)).toSet
    assert(blocked == expected)
    // cap: with maxBlockSize below any label's size, no pairs emitted
    assert(VectorOps.cosineNearDupPairsBlocked(emb, "vec_id",
      "embedding", Seq("label"), 0.0, maxBlockSize = 1).count() == 0)
  }

  test("IVF exhaustive (nProbe = nCentroids) equals brute force exactly") {
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.001")
    val queries = emb.filter($"vec_id" < 5)
    val exact = VectorOps.bruteForceTopK(emb, queries, "vec_id",
        "embedding", 10)
      .select("query_id", "neighbor_id").as[(Long, Long)]
      .collect().toSeq.sorted
    val ivf = VectorOps.ivfTopK(emb, queries, "vec_id", "embedding",
        10, nCentroids = 4, nProbe = 4)
      .select("query_id", "neighbor_id").as[(Long, Long)]
      .collect().toSeq.sorted
    assert(ivf == exact)
  }

  test("IVF sub-exhaustive probe keeps sane recall and is deterministic") {
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.001")
    val queries = emb.filter($"vec_id" < 5)
    val exact = VectorOps.bruteForceTopK(emb, queries, "vec_id",
        "embedding", 10)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    def run() = VectorOps.ivfTopK(emb, queries, "vec_id", "embedding",
        10, nCentroids = 4, nProbe = 2)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val ivf = run()
    val recall = (exact & ivf).size.toDouble / exact.size
    assert(recall > 0.3, s"IVF nProbe=2/4 recall $recall")
    // hash-seeded centroids: rerun must be bit-identical
    assert(run() == ivf)
  }

  test("IVF centroid training is distributed and collect-free") {
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.001")
    val cents = VectorOps.ivfCentroids(emb, "vec_id", "embedding", 4)
    assert(cents.count() == 4)
    // every corpus vector lands in exactly one list
    val idx = VectorOps.assignToCentroids(emb, "vec_id", "embedding", cents)
    assert(idx.count() == emb.count())
    assert(idx.select("vec_id").distinct().count() == emb.count())
  }

  test("centroid assignment is a narrow map: no shuffle of corpus rows") {
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.001")
    val cents = VectorOps.ivfCentroids(emb, "vec_id", "embedding", 4)
    val plan = VectorOps.assignToCentroids(emb, "vec_id", "embedding",
      cents).queryExecution.executedPlan.toString
    // the only allowed data movement is the broadcast of the one-row
    // centroid array — corpus rows must not hit a shuffle exchange
    val shuffles = plan.linesIterator
      .filter(l => l.contains("Exchange") &&
        !l.contains("BroadcastExchange")).toList
    // the k-row centroid aggregation may shuffle its k rows; corpus-side
    // scan → assignment must be exchange-free: assert the corpus scan
    // and the project sit in the same stage (no exchange between the
    // parquet scan of embeddings and the aggregate lambda projection)
    val scanIdx = plan.linesIterator.indexWhere(_.contains("embeddings"))
    val joinIdx = plan.linesIterator.indexWhere(
      _.contains("BroadcastNestedLoopJoin"))
    assert(joinIdx >= 0, plan)
    assert(shuffles.forall(l => !l.contains("embeddings")), plan)
  }

  test("VectorAvg aggregator == posexplode mean, handles nulls and " +
    "empty groups") {
    import graft.functions.VectorAvg
    val df = Seq(
      (0, Some(Seq(1f, 2f, 3f))),
      (0, Some(Seq(3f, 4f, 5f))),
      (0, None),                      // ignored
      (1, Some(Seq(10f, 20f, 30f))))
      .toDF("label", "embedding")
    val got = df.groupBy("label")
      .agg(VectorAvg.column($"embedding").as("c"))
      .as[(Int, Seq[Double])].collect().toMap
    assert(got(0) == Seq(2.0, 3.0, 4.0))
    assert(got(1) == Seq(10.0, 20.0, 30.0))
    // all-null group yields an empty vector
    val empty = Seq((9, Option.empty[Seq[Float]])).toDF("label", "embedding")
      .groupBy("label").agg(VectorAvg.column($"embedding").as("c"))
      .as[(Int, Seq[Double])].head()
    assert(empty._2.isEmpty)
    // empty vectors are ignored like nulls, and the answer must not
    // depend on partition layout (regression: a merge branch once
    // dropped the empty-buffer side's count)
    (1 to 4).foreach { parts =>
      val mixed = Seq((0, Seq.empty[Float]), (0, Seq.empty[Float]),
        (0, Seq(6f, 6f))).toDF("label", "embedding").repartition(parts)
      val m = mixed.groupBy("label")
        .agg(VectorAvg.column($"embedding").as("c"))
        .as[(Int, Seq[Double])].head()
      assert(m._2 == Seq(6.0, 6.0), s"parts=$parts")
    }
  }

  test("sq8TopK with an exhaustive shortlist equals brute force " +
    "exactly (re-rank leg is exact cosine)") {
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.001")
    val n = emb.count().toInt
    val queries = emb.filter($"vec_id" < 5)
    val exact = VectorOps.bruteForceTopK(emb, queries, "vec_id",
        "embedding", 10)
      .select($"query_id", $"neighbor_id",
        round($"cosine_sim", 6).as("cs"))
      .as[(Long, Long, Double)].collect().toSet
    // shortlist = whole corpus → quantization cannot prune anything
    val sq8 = VectorOps.sq8TopKWithRanges(emb, queries, "vec_id",
        "embedding", k = 10, shortlist = n,
        VectorOps.sq8Ranges(emb, "embedding"))
      .select($"query_id", $"neighbor_id", $"cosine_sim")
      .as[(Long, Long, Double)].collect().toSet
    assert(sq8 === exact)
  }

  test("sq8TopK pruned shortlist keeps sane recall and the approx " +
    "score tracks the exact one within quantization error") {
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.001")
    val queries = emb.filter($"vec_id" < 5)
    val exact = VectorOps.bruteForceTopK(emb, queries, "vec_id",
        "embedding", 10)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val rows = VectorOps.sq8TopKWithRanges(emb, queries, "vec_id",
        "embedding", k = 10, shortlist = 15,
        VectorOps.sq8Ranges(emb, "embedding"))
      .select($"query_id", $"neighbor_id", $"sq8_sim", $"cosine_sim")
      .as[(Long, Long, Double, Double)].collect()
    val approx = rows.map(r => (r._1, r._2)).toSet
    val recall = (exact & approx).size.toDouble / exact.size
    assert(recall > 0.6, s"SQ8 recall $recall suspiciously low for " +
      "a 1.5x shortlist")
    // 8-bit per-dim quantization on this corpus: approx cosine within
    // a few hundredths of exact
    assert(rows.forall(r => math.abs(r._3 - r._4) < 0.05))
  }
}
