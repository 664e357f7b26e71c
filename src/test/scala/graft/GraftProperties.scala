package graft

import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop, Properties, Test}
import org.scalacheck.Prop.forAll
import graft.ops.Relational

/** Differential property tests (SURVEY §5.4): each relational
  * combinator is checked against an in-memory Scala model on generated
  * tables. sbt's test runner executes ScalaCheck Properties natively.
  */
object GraftProperties extends Properties("graft") {

  override def overrideParameters(p: Test.Parameters): Test.Parameters =
    p.withMinSuccessfulTests(15)

  private lazy val spark = SparkSpec.session
  import spark.implicits._

  private val rowGen: Gen[(Int, String)] = for {
    k <- Gen.choose(0, 12)
    v <- Gen.alphaLowerStr.map(_.take(6))
  } yield (k, v)

  private val tableGen: Gen[List[(Int, String)]] =
    Gen.listOfN(25, rowGen).map(_.take(25))

  property("antiJoinNewKeys == model set difference on keys") =
    forAll(tableGen, tableGen) { (fresh, existing) =>
      val df = fresh.toDF("id", "v")
      val ex = existing.toDF("id", "w")
      val got = Relational.antiJoinNewKeys(df, ex, "id")
        .select("id", "v").as[(Int, String)].collect().sorted.toList
      val existingKeys = existing.map(_._1).toSet
      val want = fresh.filterNot(r => existingKeys(r._1)).sorted
      got == want
    }

  property("anti-join + append is idempotent") =
    forAll(tableGen, tableGen) { (a, b) =>
      val store = a.toDF("id", "v").dropDuplicates("id")
      val incoming = b.toDF("id", "v").dropDuplicates("id")
      val loaded = store.unionByName(
        Relational.antiJoinNewKeys(incoming, store, "id"))
      // loading the same batch again adds nothing
      Relational.antiJoinNewKeys(incoming, loaded, "id").count() == 0L
    }

  property("unionDedupe is commutative in its key set") =
    forAll(tableGen, tableGen) { (a, b) =>
      val da = a.toDF("id", "v")
      val db = b.toDF("id", "v")
      val ab = Relational.unionDedupe(da, db, "id")
        .select("id").as[Int].collect().sorted.toSeq
      val ba = Relational.unionDedupe(db, da, "id")
        .select("id").as[Int].collect().sorted.toSeq
      val want = (a.map(_._1) ++ b.map(_._1)).distinct.sorted
      ab == want && ba == want
    }

  property("dropNullsIn leaves no nulls in constrained columns") =
    forAll(Gen.listOfN(20, Gen.option(Gen.alphaLowerStr.map(_.take(4))))) {
      vals =>
        val df = vals.zipWithIndex.map { case (v, i) => (i, v.orNull) }
          .toDF("id", "v")
        val out = Relational.dropNullsIn(df, Seq("v"))
        out.filter(col("v").isNull).count() == 0L &&
          out.count() == vals.count(_.isDefined).toLong
    }

  property("dedupeByKeyOrdered keeps exactly the model's min row") =
    forAll(tableGen) { rows =>
      val df = rows.toDF("id", "v")
      val got = Relational.dedupeByKeyOrdered(df, Seq("id"),
          Seq(col("v"), col("id")))
        .as[(Int, String)].collect().sorted.toList
      val want = rows.groupBy(_._1).map { case (_, g) => g.min }
        .toList.sorted
      got == want
    }

  property("dedupeByKeyMinStruct keeps exactly the model's min row " +
    "(the digest-dedup aggregate form ≡ the window form)") =
    forAll(tableGen) { rows =>
      val df = rows.toDF("id", "v")
      val got = Relational.dedupeByKeyMinStruct(df, Seq("id"),
          Seq(col("v"), col("id")))
        .as[(Int, String)].collect().sorted.toList
      val want = rows.groupBy(_._1).map { case (_, g) => g.min }
        .toList.sorted
      got == want
    }

  property("topNPerKey returns min(n, group size) rows per key") =
    forAll(tableGen, Gen.choose(1, 4)) { (rows, n) =>
      val df = rows.toDF("id", "v")
      val got = Relational.topNPerKey(df, Seq("id"),
          Seq(col("v"), monotonically_increasing_id()), n)
        .groupBy("id").count().as[(Int, Long)].collect().toMap
      val want = rows.groupBy(_._1).view
        .mapValues(g => math.min(n, g.size).toLong).toMap
      got == want
    }

  property("unionAll aligns by name and preserves total row count") =
    forAll(tableGen, tableGen) { (a, b) =>
      val da = a.toDF("id", "x")
      val db = b.toDF("id", "y")
      val out = Relational.unionAll(Seq(da, db))
      out.count() == (a.size + b.size).toLong &&
        out.columns.toSet == Set("id", "x", "y")
    }

  property("BMP codec round-trips any solid color and dimensions") =
    forAll(Gen.choose(1, 40), Gen.choose(1, 20),
      Gen.choose(0, 255), Gen.choose(0, 255), Gen.choose(0, 255)) {
      (w, h, r, g, b) =>
        val d = graft.ext.MediaCodecs.decodeBmp(
          graft.ext.MediaCodecs.encodeBmp24(w, h, r, g, b))
        d.format == "bmp" && d.width.contains(w) && d.height.contains(h) &&
          d.mean_r.contains(r.toDouble) && d.mean_g.contains(g.toDouble) &&
          d.mean_b.contains(b.toDouble)
    }

  property("WAV codec round-trips any PCM-16 sample sequence") =
    forAll(Gen.choose(1, 48000),
      Gen.nonEmptyListOf(Gen.choose(Short.MinValue, Short.MaxValue))) {
      (rate, samples0) =>
        val samples = samples0.take(500).toArray
        val d = graft.ext.MediaCodecs.decodeWav(
          graft.ext.MediaCodecs.encodeWavPcm16(rate, samples))
        val mean = samples.map(_.toLong).sum.toDouble / samples.length
        d.format == "wav" && d.sample_rate.contains(rate) &&
          d.n_samples.contains(samples.length.toLong) &&
          d.duration_ms.contains(samples.length.toLong * 1000 / rate) &&
          d.mean_sample.contains(mean)
    }

  property("chunkDocs covers every token; overlap tokens are shared") =
    forAll(Gen.choose(0, 80), Gen.choose(2, 10), Gen.choose(0, 1)) {
      (nTok, chunk, ovFlag) =>
        val overlap = if (ovFlag == 1) chunk / 2 else 0
        val text = (1 to nTok).map(i => s"t$i").mkString(" ")
        val out = graft.ext.TextOps.chunkDocs(
            Seq((1L, text)).toDF("doc_id", "text"),
            "doc_id", "text", chunk, overlap)
          .orderBy("chunk_idx")
          .select("chunk_text").as[String].collect()
        val rebuilt = out.flatMap(_.split(" ").filter(_.nonEmpty)).toSet
        val expected = (1 to nTok).map(i => s"t$i").toSet
        // every token lands in at least one chunk, none are invented
        rebuilt == expected
    }

  property("MediaCodecs.decode never throws on arbitrary bytes") =
    forAll(Gen.oneOf(
      Gen.listOf(Gen.choose(Byte.MinValue, Byte.MaxValue)),
      // adversarial: valid magic bytes followed by garbage
      Gen.listOf(Gen.choose(Byte.MinValue, Byte.MaxValue))
        .map(t => "BM".getBytes.toList ++ t),
      Gen.listOf(Gen.choose(Byte.MinValue, Byte.MaxValue))
        .map(t => "RIFF".getBytes.toList ++ t))) { bytes =>
      val d = graft.ext.MediaCodecs.decode(bytes.toArray)
      d.format == "unknown" || d.format == "bmp" || d.format == "wav"
    }

  property("saltedJoin == plain join for inner and left_outer") =
    forAll(tableGen, tableGen, Gen.oneOf("inner", "left_outer")) {
      (facts, dims, joinType) =>
        val f = facts.toDF("id", "v")
        val dim = dims.toDF("id", "w")
        val plain = f.join(dim, Seq("id"), joinType)
          .as[(Int, String, Option[String])].collect().sorted.toList
        val salted = Relational.saltedJoin(f, dim, Seq("id"), 4, joinType)
          .as[(Int, String, Option[String])].collect().sorted.toList
        plain == salted
    }

  property("mergeUpsert is idempotent and upsert-correct") =
    forAll(tableGen, tableGen) { (init, updates) =>
      val dir = java.nio.file.Files
        .createTempDirectory("graft-prop-upsert").toString
      val store = graft.io.VersionedStore
      // unique keys per frame (store contract)
      val i = init.groupBy(_._1).map(_._2.head).toSeq
      val u = updates.groupBy(_._1).map(_._2.head).toSeq
      store.commit(spark, i.toDF("id", "v"), dir, "t")
      store.mergeUpsert(spark, u.toDF("id", "v"), dir, "t", "id")
      val once = store.readTable(spark, dir, "t")
        .as[(Int, String)].collect().toMap
      store.mergeUpsert(spark, u.toDF("id", "v"), dir, "t", "id")
      val twice = store.readTable(spark, dir, "t")
        .as[(Int, String)].collect().toMap
      val want = i.toMap ++ u.toMap
      once == want && twice == want
    }

  private val eventGen: Gen[List[(String, Long, String)]] = for {
    n <- Gen.choose(1, 40)
    rows <- Gen.listOfN(n, for {
      k <- Gen.oneOf("a", "b", "hot")
      ts <- Gen.choose(0L, 200L)
      v <- Gen.alphaLowerStr.map(_.take(4))
    } yield (k, ts, v))
  } yield rows

  property("asofJoinBucketed == asofJoin for any events and bucket width") =
    forAll(eventGen, eventGen, Gen.oneOf(7L, 50L, 1000L)) {
      (lrows, rrows0, width) =>
        // unique right (key, ts) so the matched payload is unambiguous
        val rrows = rrows0.groupBy(r => (r._1, r._2))
          .map(_._2.head).toList
        val left = lrows.toDF("key", "ts", "lval")
        val right = rrows.toDF("key", "ts", "rval")
        val plain = graft.ext.EventOps
          .asofJoin(left, right, "key", "ts", Seq("rval"))
          .as[(String, Long, String, String)].collect().sorted.toList
        val bucketed = graft.ext.EventOps
          .asofJoinBucketed(left, right, "key", "ts", Seq("rval"),
            ts => floor(ts / width.toDouble))
          .as[(String, Long, String, String)].collect().sorted.toList
        plain == bucketed
    }

  property("rankTiers partitions each key into near-equal, " +
    "order-monotone tiers covering 0..tiers-1") =
    forAll(tableGen, Gen.oneOf(2, 3, 5)) { (rows, tiers) =>
      val df = rows.zipWithIndex
        .map { case ((k, v), i) => (k, v, i.toLong) }
        .toDF("id", "v", "ord")
      val got = Relational.rankTiers(df, Seq("id"),
          Seq(col("ord")), tiers)
        .select("id", "ord", "tier").as[(Int, Long, Long)]
        .collect().toList
      got.groupBy(_._1).forall { case (_, grp) =>
        val n = grp.size
        val byTier = grp.groupBy(_._3).view.mapValues(_.size).toMap
        // sizes differ by at most 1 (the ceil/floor split of n/tiers)
        val sizesOk = byTier.values.forall(s =>
          s == n / tiers || s == n / tiers + 1)
        // tier ids live in [0, tiers) and tiers are monotone in ord
        val rangeOk = byTier.keySet.forall(t => t >= 0 && t < tiers)
        val sorted = grp.sortBy(_._2).map(_._3)
        val monotoneOk = sorted.zip(sorted.drop(1)).forall {
          case (a, b) => a <= b }
        sizesOk && rangeOk && monotoneOk
      }
    }

  private val docGen: Gen[List[(Long, String)]] = for {
    n <- Gen.choose(2, 12)
    rows <- Gen.listOfN(n, for {
      toks <- Gen.listOf(Gen.oneOf("a", "b", "c", "d", "e", "f"))
    } yield toks.mkString(" "))
  } yield rows.zipWithIndex.map { case (t, i) => (i.toLong, t) }

  property("audioSegmentFeatures covers every PCM sample exactly " +
    "once with model-exact per-window RMS") =
    forAll(
      Gen.nonEmptyListOf(Gen.choose(Short.MinValue.toInt,
        Short.MaxValue.toInt).map(_.toShort)).map(_.take(200)),
      Gen.oneOf(1, 4, 16)) { (samples, w) =>
      val bytes = graft.ext.MediaCodecs.encodeWavPcm16(8000,
        samples.toArray)
      val out = graft.ext.MultimodalOps.audioSegmentFeatures(
          Seq((1L, bytes)).toDF("asset_id", "payload"), w)
        .as[(Long, Long, Long, Double)].collect().sortBy(_._2).toList
      val model = samples.grouped(w).zipWithIndex.map {
        case (win, wi) =>
          val rms = BigDecimal(math.sqrt(
            win.map(v => v.toDouble * v.toDouble).sum / win.length))
            .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
          (1L, wi.toLong, win.length.toLong, rms)
      }.toList
      out.map(_._3).sum == samples.length && out == model
    }

  // random word-bag corpora: doc = subset of a 20-word vocab, with a
  // bias toward overlap so thresholds actually fire
  private val vocab: Vector[String] =
    (0 until 20).map(i => s"w$i").toVector
  private val bagGen: Gen[String] = for {
    n <- Gen.choose(3, 12)
    ws <- Gen.pick(n, vocab)
  } yield ws.mkString(" ")
  private val corpusGen: Gen[List[(Long, String)]] =
    Gen.listOfN(12, bagGen).map(_.zipWithIndex.map {
      case (t, i) => (i.toLong, t) })

  property("prefixFilterJaccardPairs == exhaustive exact jaccard " +
    "(AllPairs completeness + verification precision, any threshold)") =
    forAll(corpusGen, Gen.oneOf(0.3, 0.5, 0.8)) { (docs, t) =>
      val df = docs.toDF("doc_id", "text")
      val ts = df.select($"doc_id",
        array_distinct(graft.ext.TextOps.tokens($"text")).as("ts"))
      val want = ts.as("a").join(ts.as("b"),
          col("a.doc_id") < col("b.doc_id"))
        .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"),
          round(size(array_intersect($"a.ts", $"b.ts")).cast("double") /
            (size($"a.ts") + size($"b.ts") -
              size(array_intersect($"a.ts", $"b.ts"))), 6).as("j"))
        .filter($"j" >= t)
        .select("id_a", "id_b").as[(Long, Long)].collect().toSet
      val got = graft.ext.DedupOps.prefixFilterJaccardPairs(
          df, "doc_id", "text", threshold = t)
        .select("id_a", "id_b").as[(Long, Long)].collect().toSet
      got == want
    }

  // 80-word vocabulary — past the 62-token mask bound, so these
  // corpora run the PREFIX-FILTER core (the 20-word generator above
  // now lands on the dense bitmask core). Docs draw from overlapping
  // 15-word windows so thresholds still fire.
  private val bigVocab: Vector[String] =
    (0 until 80).map(i => s"v$i").toVector
  private val bigBagGen: Gen[String] = for {
    start <- Gen.choose(0, 65)
    n <- Gen.choose(3, 10)
    ws <- Gen.pick(n, bigVocab.slice(start, start + 15))
  } yield ws.mkString(" ")
  private val bigCorpusGen: Gen[List[(Long, String)]] =
    Gen.listOfN(12, bigBagGen).map(_.zipWithIndex.map {
      case (t, i) => (i.toLong, t) })

  property("prefixFilterJaccardPairs == exhaustive exact jaccard " +
    "on a >62-token vocabulary (prefix-filter core)") =
    forAll(bigCorpusGen, Gen.oneOf(0.3, 0.5, 0.8)) { (docs, t) =>
      val df = docs.toDF("doc_id", "text")
      val ts = df.select($"doc_id",
        array_distinct(graft.ext.TextOps.tokens($"text")).as("ts"))
      val want = ts.as("a").join(ts.as("b"),
          col("a.doc_id") < col("b.doc_id"))
        .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"),
          round(size(array_intersect($"a.ts", $"b.ts")).cast("double") /
            (size($"a.ts") + size($"b.ts") -
              size(array_intersect($"a.ts", $"b.ts"))), 6).as("j"))
        .filter($"j" >= t)
        .select("id_a", "id_b").as[(Long, Long)].collect().toSet
      val got = graft.ext.DedupOps.prefixFilterJaccardPairs(
          df, "doc_id", "text", threshold = t)
        .select("id_a", "id_b").as[(Long, Long)].collect().toSet
      got == want
    }

  /** Both blocked measures on one block against the model's token
    * sets: [[graft.ext.DedupOps.containmentPairs]] at `thr` (kept when
    * either direction reaches it) and
    * [[graft.ext.DedupOps.ngramJaccardPairs]] (every pair). */
  private def blockedMatchModel(rows: List[(Long, String)],
                                thr: Double): Boolean = {
    val nonEmpty = rows.filter(_._2.trim.nonEmpty)
    val df = nonEmpty.map { case (id, t) => (id, t, "x", "y") }
      .toDF("doc_id", "text", "lang", "source")
    val gotC = graft.ext.DedupOps.containmentPairs(df, "doc_id",
        "text", Seq("lang", "source"), thr)
      .select("id_a", "id_b", "containment_a", "containment_b")
      .as[(Long, Long, Double, Double)].collect()
      .map(r => (r._1, r._2) -> (r._3, r._4)).toMap
    val gotJ = graft.ext.DedupOps.ngramJaccardPairs(df, "doc_id",
        "text", Seq("lang", "source"))
      .select("id_a", "id_b", "jaccard")
      .as[(Long, Long, Double)].collect()
      .map(r => (r._1, r._2) -> r._3).toMap
    val sets = nonEmpty.map { case (id, t) =>
      id -> t.trim.toLowerCase.split("\\s+").toSet }.toMap
    def rnd(x: Double) = BigDecimal(x)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val overlaps = for {
      (a, sa) <- sets; (b, sb) <- sets if a < b
    } yield ((a, b), (sa intersect sb).size.toDouble, sa.size, sb.size)
    val wantC = (for {
      (ab, i, na, nb) <- overlaps
      ca = rnd(i / na); cb = rnd(i / nb)
      if ca >= thr || cb >= thr
    } yield ab -> (ca, cb)).toMap
    val wantJ = overlaps.map { case (ab, i, na, nb) =>
      ab -> rnd(i / (na + nb - i)) }.toMap
    gotC == wantC && gotJ == wantJ
  }

  // the 6-token docGen corpus runs the blocked pairs on 63-bit masks,
  // the 80-token bigCorpusGen corpus on sorted token arrays
  property("containmentPairs matches the model's set containment " +
    "in both directions") =
    forAll(docGen, bigCorpusGen, Gen.oneOf(0.3, 0.6, 0.9)) {
      (small, big, thr) =>
        blockedMatchModel(small, thr) && blockedMatchModel(big, thr)
    }

  private val spanDocGen: Gen[List[String]] = Gen.listOfN(8,
    Gen.choose(0, 12).flatMap(len =>
      Gen.listOfN(len, Gen.oneOf("a", "b", "c", "d")).map(_.mkString(" "))))

  property("stripDupSpans == positional keep-first model for any " +
    "corpus and n (duplicated spans stripped except the (doc, start)-" +
    "minimal occurrence, removal winning on overlap)") =
    forAll(spanDocGen, Gen.oneOf(2, 3)) { (texts, n) =>
      val docs = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      // in-memory model of the documented semantics
      val toks = docs.map { case (id, t) =>
        id -> (if (t.trim.isEmpty) Array.empty[String]
               else t.trim.toLowerCase.split("\\s+")) }
      val occ = for {
        (id, tk) <- toks
        i <- 0 to tk.length - n
      } yield (tk.slice(i, i + n).mkString(" "), id, i)
      val rm: Set[(Long, Int)] = occ.groupBy(_._1).values
        .filter(_.size > 1)
        .flatMap { os =>
          os.sortBy(o => (o._2, o._3)).tail
            .flatMap { case (_, id, i) => (i until i + n).map((id, _)) }
        }.toSet
      val want = toks.map { case (id, tk) =>
        val kept = tk.zipWithIndex
          .collect { case (t, p) if !rm((id, p)) => t }
        id -> ((tk.length.toLong, (tk.length - kept.length).toLong,
          kept.mkString(" ")))
      }.toMap
      val got = graft.ext.DedupOps.stripDupSpans(
          docs.toDF("doc_id", "text"), "doc_id", "text", n)
        .select("doc_id", "n_tokens", "n_removed", "cleaned_text")
        .as[(Long, Long, Long, String)].collect()
        .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
      got == want
    }

  property("funnelStages per-user reach times are a monotone chain " +
    "(t1 <= t2 <= t3, and a later step implies every earlier one)") =
    forAll(eventGen) { rows =>
      val stepNames = Map("a" -> "s1", "b" -> "s2", "hot" -> "s3")
      val df = rows.map { case (k, ts, v) =>
        (1L + math.abs(v.hashCode % 3), stepNames(k), ts) }
        .toDF("user_id", "event_type", "ts")
      graft.ext.EventOps.funnelStages(df, "user_id", "event_type",
          "ts", Seq("s1", "s2", "s3"))
        .select("t1", "t2", "t3")
        .as[(Option[Long], Option[Long], Option[Long])]
        .collect().forall { case (t1, t2, t3) =>
          val implied = (t3.isEmpty || t2.nonEmpty) &&
            (t2.isEmpty || t1.nonEmpty)
          val ordered = (for { a <- t1; b <- t2 } yield a <= b)
            .getOrElse(true) &&
            (for { b <- t2; c <- t3 } yield b <= c).getOrElse(true)
          implied && ordered
        }
    }

  property("keyedOrderStatistic == the sorted-seq rank element for " +
    "any rank function, duplicates included") =
    forAll(tableGen, Gen.choose(1, 10)) { (rows, num) =>
      // values with heavy duplication (alphaLowerStr lengths 0..6);
      // rank r(n) = ceil(n*num/10) spans min..max order statistics
      val df = rows.toDF("id", "v")
        .select(col("id"), length(col("v")).as("n"))
      val got = Relational.keyedOrderStatistic(df, Seq("id"),
          col("n"), c => ceil(c * num / 10.0).cast("long"), "stat")
        .as[(Int, Int)].collect().sorted.toList
      val want = rows.groupBy(_._1).map { case (k, rs) =>
        val sorted = rs.map(_._2.length).sorted
        val r = math.ceil(sorted.length * num / 10.0).toInt
        (k, sorted(math.max(r, 1) - 1))
      }.toList.sorted
      got == want
    }
}
