package graft

import org.apache.spark.sql.functions._
import graft.ops.Relational._

class RelationalSpec extends SparkSpec {
  import spark.implicits._

  test("selectExisting keeps only present columns (R1+R15)") {
    val df = Seq((1, "a")).toDF("id", "name")
    val out = selectExisting(df, Seq("id", "missing", "name"))
    assert(out.columns.toSeq == Seq("id", "name"))
  }

  test("renameAll ignores absent source columns (R2)") {
    val df = Seq((1, "a")).toDF("id", "name")
    val out = renameAll(df, Map("name" -> "nama", "ghost" -> "x"))
    assert(out.columns.toSeq == Seq("id", "nama"))
  }

  test("dedupeByKey keeps exactly one row per key (R3)") {
    val df = Seq((1, "a"), (1, "b"), (2, "c")).toDF("id", "v")
    assert(dedupeByKey(df, "id").count() == 2)
  }

  test("dedupeByKeyOrdered keeps first row under order (R3-det)") {
    val df = Seq((1, "b"), (1, "a"), (2, "c")).toDF("id", "v")
    val out = dedupeByKeyOrdered(df, Seq("id"), Seq(col("v"))).orderBy("id")
    assert(out.as[(Int, String)].collect().toSeq == Seq((1, "a"), (2, "c")))
  }

  test("antiJoinNewKeys keeps only unseen keys, null-safe (R5)") {
    val fresh = Seq((1, "a"), (2, "b"), (3, "c")).toDF("id", "v")
    val existing = Seq((2, "old")).toDF("id", "w")
    val out = antiJoinNewKeys(fresh, existing, "id")
    assert(out.select("id").as[Int].collect().toSet == Set(1, 3))
  }

  test("antiJoinNewKeys against empty target passes everything (R5)") {
    val fresh = Seq((1, "a")).toDF("id", "v")
    val existing = Seq.empty[(Int, String)].toDF("id", "w")
    assert(antiJoinNewKeys(fresh, existing, "id").count() == 1)
  }

  test("antiJoinNewKeysBloom is row-identical to the plain anti-join " +
    "and the bloom probe actually prunes the join input (R5-bloom)") {
    val fresh = (1L to 2000L).map(i => (i, s"v$i")).toDF("id", "v")
    val existing = (1L to 2000L by 4).map(i => (i, "old")).toDF("id", "w")
    val plain = antiJoinNewKeys(fresh, existing, "id")
      .select("id").as[Long].collect().toSet
    val bloomed = antiJoinNewKeysBloom(fresh, existing, "id",
        expectedKeys = 1000L, fpp = 0.05)
      .select("id").as[Long].collect().toSet
    assert(bloomed == plain)
    // pruning: rows the bloom rejects never reach the join — the
    // candidate side is |hits| + fpp·|batch|, strictly below |batch|
    val bf = existing.stat.bloomFilter("id", 1000L, 0.05)
    val candidates = fresh.as[(Long, String)].collect()
      .count { case (id, _) => bf.mightContainLong(id) }
    assert(candidates < 2000, s"bloom rejected nothing ($candidates)")
    assert(candidates >= 500, "bloom dropped true store keys")
  }

  test("antiJoinNewKeysBloom keeps null-key rows, like the plain " +
    "anti-join (null never equals a store key)") {
    val fresh = Seq((Some(1L), "a"), (None, "nullkey"), (Some(2L), "b"))
      .toDF("id", "v")
    val existing = Seq((1L, "old")).toDF("id", "w")
    val plain = antiJoinNewKeys(fresh, existing, "id")
      .select("v").as[String].collect().toSet
    val bloomed = antiJoinNewKeysBloom(fresh, existing, "id", 100L)
      .select("v").as[String].collect().toSet
    assert(plain == Set("nullkey", "b"))
    assert(bloomed == plain)
  }

  test("leftEnrich attaches payload, keeps unmatched lefts (R6)") {
    val tweets = Seq(("t1", "p1"), ("t2", "p9")).toDF("id_tweet", "pid")
    val places = Seq(("p1", "Beach")).toDF("place_id", "name")
    val out = leftEnrich(tweets, places, "pid", "place_id", Seq("name"))
    val m = out.select("id_tweet", "name").as[(String, String)]
      .collect().toMap
    assert(m("t1") == "Beach" && m.get("t2").contains(null.asInstanceOf[String]) || m("t2") == null)
    assert(out.count() == 2)
  }

  test("unionAll aligns by name and null-fills (R8)") {
    val a = Seq((1, "x")).toDF("id", "a")
    val b = Seq((2, "y")).toDF("id", "b")
    val out = unionAll(Seq(a, b))
    assert(out.columns.toSet == Set("id", "a", "b"))
    assert(out.count() == 2)
    assert(out.filter(col("a").isNull).count() == 1)
  }

  test("unionDedupe dedupes across both sides (R9)") {
    val a = Seq(("p1", "A")).toDF("id_proyek", "nama")
    val b = Seq(("p1", "A2"), ("p2", "B")).toDF("id_proyek", "nama")
    assert(unionDedupe(a, b, "id_proyek").count() == 2)
  }

  test("dropNullsIn drops rows violating NOT NULL (R10)") {
    val df = Seq(("a", Some(1)), ("b", None), (null, Some(3)))
      .toDF("k", "v")
    assert(dropNullsIn(df, Seq("k", "v")).count() == 1)
  }

  test("topNPerKey caps per key deterministically (R14)") {
    val df = Seq(("k1", 3), ("k1", 1), ("k1", 2), ("k2", 9))
      .toDF("k", "v")
    val out = topNPerKey(df, Seq("k"), Seq(col("v")), 2)
    assert(out.count() == 3)
    assert(out.filter($"k" === "k1").select("v").as[Int]
      .collect().toSet == Set(1, 2))
  }

  test("pairWorkSalts grows with block-WORK concentration: uniform " +
    "block census derives 1, a dominant block derives a split, and " +
    "the result never exceeds the core count") {
    val par = spark.sparkContext.defaultParallelism
    // uniform: 64 blocks of 100 rows — ≥ cores of equal work → 1
    val uniform = (1 to 64).map(i => (s"b$i", 100L)).toDF("k", "__bsz")
    assert(graft.ops.Relational.pairWorkSalts(uniform, "__bsz") == 1)
    // concentrated: one 10k block + 63 tiny ones — the hot block is
    // ~all the B² work, so it must split to ~cores
    val hot = (("hot", 10000L) +: (1 to 63).map(i => (s"b$i", 10L)))
      .toDF("k", "__bsz")
    val saltsHot = graft.ops.Relational.pairWorkSalts(hot, "__bsz")
    assert(saltsHot > 1 && saltsHot <= par, s"saltsHot=$saltsHot")
    // moderately concentrated (the measured sf4 shape: 10 equal hot
    // blocks) sits between 1 and the fully-concentrated answer
    val tenHot = ((1 to 10).map(i => (s"hot$i", 10000L)) ++
      (1 to 60).map(i => (s"b$i", 10L))).toDF("k", "__bsz")
    val saltsTen = graft.ops.Relational.pairWorkSalts(tenHot, "__bsz")
    assert(saltsTen >= 1 && saltsTen <= saltsHot,
      s"saltsTen=$saltsTen vs saltsHot=$saltsHot")
    // empty census (every block over the cap) → 1, no crash
    val empty = Seq.empty[(String, Long)].toDF("k", "__bsz")
    assert(graft.ops.Relational.pairWorkSalts(empty, "__bsz") == 1)
  }

  test("contiguousRowIds cuts cover the full key range and balance " +
    "buckets on ingest-ordered input (per-partition reservoir)") {
    // key correlated with partition order: partition 0 holds the
    // lowest keys, partition 7 the highest — the layout where the old
    // limit-based sample drew only low-end cuts
    val df = spark.range(0, 20000, 1, 8).toDF("k")
    val cuts = graft.ops.Relational.sampleCuts(df, col("k"), 16)
      .map(_.asInstanceOf[Long]).sorted
    assert(cuts.nonEmpty)
    // cuts span the whole range, not just the earliest partitions
    assert(cuts.max > 15000L, s"top cut ${cuts.max} — low-biased cuts")
    assert(cuts.min < 5000L, s"bottom cut ${cuts.min}")
    // implied bucket sizes (uniform keys: size == cut gap) balanced:
    // no bucket more than 3x the ideal 20000/(cuts+1)
    val bounds = (0L +: cuts) :+ 20000L
    val gaps = bounds.sliding(2).map(p => p(1) - p(0)).toSeq
    val ideal = 20000.0 / (cuts.size + 1)
    assert(gaps.max <= 3 * ideal,
      s"max bucket ${gaps.max} vs ideal $ideal — unbalanced cuts")
    // deterministic: same input layout -> identical cuts
    assert(cuts == graft.ops.Relational.sampleCuts(df, col("k"), 16)
      .map(_.asInstanceOf[Long]).sorted)
  }

  test("contiguousRowIds assigns 0..n-1 in order, independent of the " +
    "input's partition layout") {
    val rows = scala.util.Random.shuffle((0 until 1000).toList)
      .map(i => (i.toLong, s"v$i"))
    val expected = (0 until 1000)
      .map(i => (i.toLong, i.toLong)).toSet // (key, id): id == key here
    Seq(1, 7, 32).foreach { parts =>
      val df = rows.toDF("k", "v").repartition(parts)
      val got = contiguousRowIds(df, Seq(col("k")))
        .select($"k", $"row_id").as[(Long, Long)].collect().toSet
      assert(got == expected, s"layout $parts")
    }
  }
}
