package graft.tools

import org.apache.spark.sql.functions._

/** Builder-side measurement behind SCALING.md's "corpus-linear, not
  * quadratic" claims for the ONE-SHOT production dedup/ANN paths
  * (the incremental-index twin is [[IndexScaleStress]]): run each
  * pipeline over salted corpus multiples (1×, 2×, 4×, 8× of the given
  * SF's documents/embeddings — 8× sf0.1 ≈ an sf1-scale corpus) and
  * print wall seconds, shuffle bytes, and result counts per multiple.
  *
  * The claim under test: banded/bucketed candidate generation keeps
  * total cost ~linear in corpus size (cost(8×) ≈ 8 × cost(1×)), while
  * a quadratic all-pairs design would show cost(8×) ≈ 64 × cost(1×).
  * Salting mirrors IndexScaleStress: each clone carries 25 unique
  * per-(clone, doc) tokens, so clones are NOT near-dups of each other
  * and the true-pair count stays ~linear too (worst case for the
  * candidate stages — maximal distinct signatures).
  *
  * Usage: sbt "runMain graft.tools.CorpusScaleStress <sfDir> [multiples...]"
  * (the SCALING.md legs ran on local[32]: `SPARK_GRAFT_CPUS=32`)
  */
object CorpusScaleStress {

  def main(args: Array[String]): Unit = {
    val sfDir = args.head
    val hotgram = args.contains("hotgram")
    val topngrams = args.contains("topngrams")
    val multiples = {
      val ms = args.drop(1)
        .filter(a => a != "hotgram" && a != "topngrams")
        .map(_.toInt).toSeq
      if (ms.nonEmpty) ms else Seq(1, 2, 4, 8)
    }
    val spark = graft.Session.local()
    val meter = Meter.attach(spark)

    val docs = graft.Tables.documents(spark, sfDir)
      .select("doc_id", "text")
    val emb = graft.Tables.embeddings(spark, sfDir)
      .select("vec_id", "embedding")

    def timed[A](f: => A): (A, Double) = {
      val t0 = System.nanoTime(); val a = f
      (a, (System.nanoTime() - t0) / 1e9)
    }

    /** m salted clones of documents (clone 0 = the original corpus). */
    def docsX(m: Int) = (0 until m).map { c =>
      if (c == 0) docs
      else docs.select(
        (col("doc_id") + lit(c.toLong * 10000000L)).as("doc_id"),
        concat(col("text"), lit(" "),
          concat_ws(" ", transform(sequence(lit(1), lit(25)),
            j => concat(lit(s"u${c}x"), col("doc_id"), lit("y"), j))))
          .as("text"))
    }.reduce(_ unionByName _)

    def embX(m: Int) = (0 until m).map { c =>
      emb.select((col("vec_id") + lit(c.toLong * 10000000L)).as("vec_id"),
        col("embedding"))
    }.reduce(_ unionByName _)

    // ---- top-ngrams leg (args contains "topngrams"): a 90 %-one-
    // language corpus through the two top-trigrams-per-language
    // forms — the digest-count/winner-recovery TextOps.topNgrams vs
    // the naive string-explode + count + per-language window. The
    // naive form both shuffles ~20-byte gram strings at instance
    // grain AND sorts the hot language's whole vocabulary in one
    // window task; the digest form shuffles two longs and ranks
    // 1/32 vocabulary slices in parallel.
    if (topngrams) {
      def langX(m: Int) = docsX(m).withColumn("lang",
        when(pmod(col("doc_id"), lit(10)) < 9, lit("en"))
          .otherwise(lit("de")))
      multiples.foreach { m =>
        val d = langX(m).repartition(32).persist(
          org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        val n = d.count()
        def leg(label: String)(body: => Long): String = {
          meter.reset()
          val (rows, t) = timed(body)
          val (mx, md) = meter.taskMaxMedMs
          f"$label: $t%6.1f s task max/med ${mx / 1000.0}%5.1f/" +
            f"${md / 1000.0}%4.1f s " +
            f"${meter.shuffleMB}%6.0f MB " +
            f"($rows rows)"
        }
        val digest = leg("ngrams-digest") {
          graft.ext.TextOps.topNgrams(d, Seq("lang"), col("text"),
            3, 5).count()
        }
        val naive = leg("ngrams-naive ") {
          graft.ops.Relational.topNPerKey(
            d.select(col("lang"), explode(
                graft.ext.TextOps.wordNgrams(col("text"), 3))
              .as("gram"))
              .groupBy("lang", "gram")
              .agg(count(lit(1)).as("n_occurrences")),
            Seq("lang"),
            Seq(col("n_occurrences").desc, col("gram")), 5).count()
        }
        println(f"topngrams x$m%-2d n=$n%7d | $digest")
        println(f"topngrams x$m%-2d n=$n%7d | $naive")
        d.unpersist()
      }
      spark.stop()
      return
    }

    // ---- hot-gram leg (args contains "hotgram"): the degenerate
    // majority-one-passage corpus through the span/LM family,
    // hardened groupBy-fold form vs the r9 count/rank-WINDOW form
    // (inlined here as the before-twin), recording straggler task
    // max/median. Every doc is prefixed with the SAME 6-token
    // passage repeated 200× — ~1195 of each doc's gram instances
    // collapse onto ~7 hot digests corpus-wide (x4 ≈ 24M instances,
    // ~3.4M PER DIGEST), the shape that pins a digest window to a
    // handful of unsplittable sort partitions while the hardened
    // fold pre-collapses occurrences map-side (one row per (doc,
    // digest) crosses the wire) and joins the model back.
    if (hotgram) {
      val boiler = Seq.fill(200)(
        (0 until 6).map(i => s"bp$i").mkString(" ")).mkString(" ")
      def hotX(m: Int) = docsX(m).select(col("doc_id"),
        concat(lit(boiler), lit(" "), col("text")).as("text"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("__g1", "__g2")
      val wr = org.apache.spark.sql.expressions.Window
        .partitionBy("__g1", "__g2").orderBy(col("doc_id"), col("__i"))
      multiples.foreach { m =>
        // spread like a real many-split corpus: the single-file sf
        // parquet otherwise pins the whole map side into one task,
        // measuring the INPUT layout instead of the operators (the
        // signature-store build does the same)
        val d = hotX(m).repartition(32).persist(
          org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        val n = d.count()
        def leg(label: String)(body: => Long): String = {
          meter.reset()
          val (rows, t) = timed(body)
          val (mx, md) = meter.taskMaxMedMs
          val top = meter.topStages(2).mkString(" | ")
          f"$label: $t%6.1f s task max/med ${mx / 1000.0}%5.1f/" +
            f"${md / 1000.0}%4.1f s " +
            f"${meter.shuffleMB}%6.0f MB " +
            f"($rows rows)\n    $top"
        }
        // shared start frame builder (tokenize + fused gram hashing)
        def starts = d.select(col("doc_id"),
            graft.ext.TextOps.tokens(col("text")).as("__tok"))
          .select(col("doc_id"), posexplode(arrays_zip(
            graft.functions.native.ngram_hashes(col("__tok"), 5, 42L)
              .as("__g1"),
            graft.functions.native.ngram_hashes(col("__tok"), 5, 1337L)
              .as("__g2"))).as(Seq("__i", "__g")))
          .select(col("doc_id"), col("__i"),
            col("__g.__g1").as("__g1"), col("__g.__g2").as("__g2"))
        // the removal-position DERIVATION is where the r9 skew lived;
        // both twins end at the same per-doc removal counts so the
        // legs differ ONLY in how occurrence counts + canonical rank
        // attach. rm-hardened mirrors stripDupSpans' two-level fold;
        // rm-window is the r9 form: count + row_number windows over
        // the gram digest — every occurrence of a boiler gram in ONE
        // partition, which that partition's task then SORTS.
        val rmHardened = leg("rm-hardened ") {
          val docGram = starts
            .groupBy(col("doc_id"), col("__g1"), col("__g2"))
            .agg(sort_array(collect_list(col("__i"))).as("__is"))
          val dupCanon = docGram.groupBy("__g1", "__g2")
            .agg(sum(size(col("__is"))).as("__occ"),
              min(struct(col("doc_id").as("__cid"),
                element_at(col("__is"), 1).as("__ci"))).as("__canon"))
            .filter(col("__occ") > 1)
            .select("__g1", "__g2", "__canon")
          docGram.join(dupCanon, Seq("__g1", "__g2"))
            .withColumn("__is",
              when(col("doc_id") === col("__canon.__cid"),
                array_remove(col("__is"), col("__canon.__ci")))
                .otherwise(col("__is")))
            .select(col("doc_id"), col("__is"))
            .repartition(col("doc_id"))
            .select(col("doc_id"), explode(col("__is")).as("__i"))
            .select(col("doc_id"),
              explode(sequence(col("__i"), col("__i") + 4)).as("__p"))
            .groupBy("doc_id")
            .agg(count_distinct(col("__p")).as("n_rm"))
            .count()
        }
        val rmWindow = leg("rm-window   ") {
          starts
            .withColumn("__occ", count(lit(1)).over(w))
            .withColumn("__rn", row_number().over(wr))
            .filter(col("__occ") > 1 && col("__rn") > 1)
            .select(col("doc_id"),
              explode(sequence(col("__i"), col("__i") + 4)).as("__p"))
            .groupBy("doc_id")
            .agg(count_distinct(col("__p")).as("n_rm"))
            .count()
        }
        val fullStrip = leg("strip-fullop") {
          graft.ext.DedupOps.stripDupSpans(d, "doc_id", "text", 5)
            .filter(col("n_removed") > 0).count()
        }
        val hardenedLm = leg("lm-hardened ") {
          graft.ext.TextOps.bigramLmScores(d, "doc_id", "text").count()
        }
        println(f"hotgram x$m%-2d n=$n%7d | $rmHardened")
        println(f"hotgram x$m%-2d n=$n%7d | $rmWindow")
        println(f"hotgram x$m%-2d n=$n%7d | $fullStrip")
        println(f"hotgram x$m%-2d n=$n%7d | $hardenedLm")
        d.unpersist()
      }
      spark.stop()
      return
    }

    multiples.foreach { m =>
      val d = docsX(m).persist(
        org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val n = d.count()

      meter.reset()
      val (nExact, tExact) = timed {
        graft.ext.DedupOps.exactDedupByHash(d, "doc_id", "text").count()
      }
      val exactMb = meter.shuffleMB

      meter.reset()
      // auto-sized banding: rows-per-band grows with log n to hold
      // false candidates per doc flat (chooseMinhashParams scaladoc)
      val (mhHashes, mhBands, mhRows) =
        graft.ext.DedupOps.chooseMinhashParams(n, threshold = 0.8)
      val (nMh, tMh) = timed {
        graft.ext.DedupOps.minhashNearDupPairs(
          d, "doc_id", "text", shingleSize = 1, numHashes = mhHashes,
          bands = mhBands, threshold = 0.8).count()
      }
      val mhMb = meter.shuffleMB

      meter.reset()
      val (nSh, tSh) = timed {
        graft.ext.DedupOps.simhashNearDupPairs(
          d, "doc_id", "text", maxDistance = 3).count()
      }
      val shMb = meter.shuffleMB

      println(f"docs x$m%-2d n=$n%7d | exact: $tExact%6.1f s " +
        f"$exactMb%6.0f MB ($nExact kept) | minhash[r=$mhRows%d " +
        f"b=$mhBands%d]: $tMh%6.1f s " +
        f"$mhMb%6.0f MB ($nMh pairs) | simhash: $tSh%6.1f s " +
        f"$shMb%6.0f MB ($nSh pairs)")
      d.unpersist()
    }

    multiples.foreach { m =>
      val e = embX(m).persist(
        org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val n = e.count()
      val queries = emb.filter(col("vec_id") < 5)
      meter.reset()
      // auto-sized inverted file: √n lists (chooseNumCentroids)
      val nc = graft.ext.VectorOps.chooseNumCentroids(n)
      val (nIvf, tIvf) = timed {
        graft.ext.VectorOps.ivfTopK(e, queries, "vec_id", "embedding",
          k = 10, nCentroids = nc, nProbe = 2).count()
      }
      println(f"emb  x$m%-2d n=$n%7d | ivf(topk=10, probes=2/" +
        f"$nc%d): $tIvf%6.1f s " +
        f"${meter.shuffleMB}%6.0f MB " +
        f"($nIvf rows)")
      e.unpersist()
    }
    spark.stop()
  }
}
