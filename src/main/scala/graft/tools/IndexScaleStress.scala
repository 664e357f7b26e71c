package graft.tools

import org.apache.spark.sql.functions._

/** Builder-side measurement behind SCALING.md's O(batch) claims for
  * the two persisted incremental indexes: feed `batches` sequential
  * ingest batches (each a salted clone of the corpus, so every doc /
  * vector is genuinely new and the index GROWS linearly) through
  * [[graft.ext.DedupOps.incrementalMinhashDedup]] and
  * [[graft.ext.VectorIndexOps]], and print per-batch wall seconds,
  * shuffle read+write bytes, accepted counts, and on-disk index size.
  * Flat per-batch cost while the index grows N× is the measured form
  * of "maintenance is O(batch), not O(corpus)".
  *
  * Usage: sbt "runMain graft.tools.IndexScaleStress <sfDir> [batches]"
  * (the SCALING.md legs ran on local[32]: `SPARK_GRAFT_CPUS=32`)
  */
object IndexScaleStress {

  private def dirMB(p: String): Double = {
    def walk(f: java.io.File): Long =
      if (f.isFile) f.length()
      else Option(f.listFiles()).map(_.map(walk).sum).getOrElse(0L)
    walk(new java.io.File(p)) / 1e6
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args.head
    val batches = args.lift(1).map(_.toInt).getOrElse(6)
    val spark = graft.Session.local()
    val meter = Meter.attach(spark)

    val root = java.nio.file.Files
      .createTempDirectory("graft-scale-stress").toString
    val dedupIdx = s"$root/dedup_idx"
    val vecIdx = s"$root/vec_idx"

    val docs = graft.Tables.documents(spark, sfDir)
      .select("doc_id", "text").cache()
    val nDocs = docs.count()
    val emb = graft.Tables.embeddings(spark, sfDir)
      .select("vec_id", "embedding").cache()
    val nVec = emb.count()
    println(s"corpus per batch: $nDocs docs, $nVec vectors")

    def timed[A](f: => A): (A, Double) = {
      val t0 = System.nanoTime(); val a = f
      (a, (System.nanoTime() - t0) / 1e9)
    }

    // ---- incremental minhash dedup index ----
    (1 to batches).foreach { b =>
      // salt with 25 per-(batch, doc) unique tokens: jaccard vs any
      // other batch's clone of the same doc is well under the 0.8
      // threshold, so every doc is NEW and the index grows by ~nDocs
      // bands+sigs per batch — the worst case for cross-batch joins
      val batch = docs.select(
        (col("doc_id") + lit(b.toLong * 10000000L)).as("doc_id"),
        concat(col("text"), lit(" "),
          concat_ws(" ", transform(sequence(lit(1), lit(25)),
            j => concat(lit(s"u${b}x"), col("doc_id"), lit("y"), j))))
          .as("text"))
      meter.reset()
      val (n, secs) = timed {
        graft.ext.DedupOps.incrementalMinhashDedup(
          batch, "doc_id", "text", dedupIdx, threshold = 0.8).count()
      }
      println(f"dedup batch $b: wall=$secs%.1f s accepted=$n " +
        f"shuffleR=${meter.shuffleReadMB}%.0f MB " +
        f"shuffleW=${meter.shuffleWriteMB}%.0f MB " +
        f"index=${dirMB(dedupIdx)}%.1f MB")
    }

    // ---- incremental IVF vector index ----
    val queries = emb.filter(col("vec_id") < 5)
    (1 to batches).foreach { b =>
      val batch = emb.select(
        (col("vec_id") + lit(b.toLong * 10000000L)).as("vec_id"),
        col("embedding"))
      meter.reset()
      val (np, aSecs) = timed {
        graft.ext.VectorIndexOps.updateIndex(spark, batch, "vec_id",
          "embedding", vecIdx, nCentroids = 8)
      }
      val aR = meter.shuffleReadMB; val aW = meter.shuffleWriteMB
      meter.reset()
      val (ns, sSecs) = timed {
        graft.ext.VectorIndexOps.searchIndex(spark, queries, "vec_id",
          "embedding", vecIdx, 10, nProbe = 2).count()
      }
      println(f"ivf batch $b: append=$aSecs%.1f s ($np postings, " +
        f"shuffleR=$aR%.0f MB shuffleW=$aW%.0f MB) " +
        f"search(nProbe=2)=$sSecs%.1f s ($ns rows, " +
        f"shuffleR=${meter.shuffleReadMB}%.0f MB) " +
        f"index=${dirMB(vecIdx)}%.1f MB")
    }
    spark.stop()
  }
}
