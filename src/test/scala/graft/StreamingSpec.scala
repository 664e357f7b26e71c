package graft

import java.nio.file.Files
import java.sql.Timestamp
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.Trigger
import graft.streaming.StreamingOps

case class Ev(ts: Timestamp, user_id: Long, event_type: String,
              value: Double)
case class Rec(id_review: String, timestamp_review: Timestamp,
               place_id: String, author_url: String, review_text: String,
               rating: Double)

class StreamingSpec extends SparkSpec {
  import spark.implicits._

  private def t(m: Int): Timestamp =
    Timestamp.valueOf(f"2024-03-01 10:$m%02d:00")

  test("stagingCsvStream reads newly landed CSVs exactly once through " +
    "the incremental load") {
    val root = Files.createTempDirectory("graft-stream-staging")
    val (staging, store, ckpt) = (root.resolve("in"),
      root.resolve("store"), root.resolve("ckpt"))
    Files.createDirectories(staging)
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id_review",
        org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("review_text",
        org.apache.spark.sql.types.StringType)))
    def land(name: String, rows: String): Unit =
      Files.writeString(staging.resolve(name),
        "id_review,review_text\n" + rows)
    def drain(): Unit = {
      val q = StreamingOps.incrementalLoadStream(
        StreamingOps.stagingCsvStream(spark, staging.toString, schema),
        "id_review", store.toString, "reviews")
        .option("checkpointLocation", ckpt.toString).start()
      q.awaitTermination()
    }
    land("b1.csv", "r1,alpha\nr2,beta\n")
    drain()
    // second file lands, overlapping r2: only r3 is new; b1 is NOT
    // re-read (file-source checkpoint) and r2 is not double-loaded
    // (anti-join idempotency)
    land("b2.csv", "r2,beta\nr3,gamma\n")
    drain()
    val out = graft.io.Staging.readTable(spark, store.toString, "reviews")
    assert(out.count() == 3)
    assert(out.select("id_review").as[String].collect().sorted.toSeq ==
      Seq("r1", "r2", "r3"))
  }

  test("curatedCorpusStream dedups micro-batches against the growing index") {
    implicit val ctx = spark.sqlContext
    val root = Files.createTempDirectory("graft-corpus-stream")
    val (index, corpus) = (root.resolve("idx").toString,
      root.resolve("corpus").toString)
    val docs = MemoryStream[(Long, String)]
    val base = "the quick brown fox jumps over the lazy dog and then " +
      "runs far away into the deep dark forest tonight"
    def drain(): Unit = {
      val q = StreamingOps.curatedCorpusStream(
        docs.toDF().toDF("doc_id", "text"), "doc_id", "text",
        index, corpus, threshold = 0.7)
        .option("checkpointLocation",
          root.resolve("ckpt").toString).start()
      q.awaitTermination()
    }
    docs.addData((1L, base))
    drain()
    // second micro-batch: a near-dup of batch 1 plus a fresh doc
    docs.addData((2L, base),
      (3L, "fresh unrelated text describing mountains rivers valleys " +
        "and the long winding hiking trails between them all summer"))
    drain()
    val kept = graft.io.Staging.readTable(spark, corpus, "corpus")
      .select("doc_id").as[Long].collect().sorted.toSeq
    assert(kept == Seq(1L, 3L))
  }

  test("curatedCorpusStream absorbs a DUPLICATED EPOCH: killed after " +
    "the store append, before the checkpoint commit, then restarted") {
    implicit val ctx = spark.sqlContext
    val root = Files.createTempDirectory("graft-corpus-kill")
    val (index, corpus) = (root.resolve("idx").toString,
      root.resolve("corpus").toString)
    val ckpt = root.resolve("ckpt").toString
    val docs = MemoryStream[(Long, String)]
    val base = "the quick brown fox jumps over the lazy dog and then " +
      "runs far away into the deep dark forest tonight"
    def drain(): Unit = {
      val q = StreamingOps.curatedCorpusStream(
        docs.toDF().toDF("doc_id", "text"), "doc_id", "text",
        index, corpus, threshold = 0.7)
        .option("checkpointLocation", ckpt).start()
      q.awaitTermination()
    }
    docs.addData((1L, base))
    drain()
    // epoch 2 arrives: a near-dup of doc 1 plus a fresh doc. The sink
    // runs the PRODUCTION mutation (index append + corpus append) and
    // then the process dies BEFORE the epoch commit is written — the
    // exact at-least-once window foreachBatch exposes.
    docs.addData((2L, base),
      (3L, "fresh unrelated text describing mountains rivers valleys " +
        "and the long winding hiking trails between them all summer"))
    @volatile var killed = false
    val crash = docs.toDF().toDF("doc_id", "text").writeStream
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        StreamingOps.curateBatch(b, "doc_id", "text", index, corpus, 0.7)
        killed = true
        throw new RuntimeException("killed after append, before commit")
      }
      .option("checkpointLocation", ckpt).start()
    intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      crash.awaitTermination()
    }
    assert(killed)
    // the mutation DID land before the kill (at-least-once delivered)
    assert(graft.io.Staging.readTable(spark, corpus, "corpus")
      .select("doc_id").as[Long].collect().sorted.toSeq == Seq(1L, 3L))
    // restart from the same checkpoint with the production sink: the
    // uncommitted epoch replays and must be absorbed — no duplicate
    // corpus rows, no resurrected near-dup
    drain()
    assert(graft.io.Staging.readTable(spark, corpus, "corpus")
      .select("doc_id").as[Long].collect().sorted.toSeq == Seq(1L, 3L))
    // and the pipeline still accepts genuinely new docs afterwards
    docs.addData((4L, "yet another completely different document " +
      "about compilers optimizers and the joy of query planning"))
    drain()
    assert(graft.io.Staging.readTable(spark, corpus, "corpus")
      .select("doc_id").as[Long].collect().sorted.toSeq ==
      Seq(1L, 3L, 4L))
  }

  test("curatedCorpusStream END-TO-END on a real file source with " +
    "on-disk checkpoints, including the duplicated-epoch kill drill") {
    val root = Files.createTempDirectory("graft-corpus-files")
    val (landing, index, corpus) = (root.resolve("landing"),
      root.resolve("idx").toString, root.resolve("corpus").toString)
    Files.createDirectories(landing)
    val ckpt = root.resolve("ckpt").toString
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("doc_id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("text",
        org.apache.spark.sql.types.StringType)))
    def land(name: String, rows: Seq[(Long, String)]): Unit =
      Files.writeString(landing.resolve(name), rows.map { case (id, t) =>
        s"""{"doc_id":$id,"text":"$t"}""" }.mkString("", "\n", "\n"))
    def src = spark.readStream.schema(schema)
      .json(s"$landing/*.json").toDF("doc_id", "text")
    def drain(): Unit = {
      val q = StreamingOps.curatedCorpusStream(src, "doc_id", "text",
          index, corpus, threshold = 0.7)
        .option("checkpointLocation", ckpt).start()
      q.awaitTermination()
    }
    val base = "the quick brown fox jumps over the lazy dog and then " +
      "runs far away into the deep dark forest tonight"
    land("b1.json", Seq((1L, base)))
    drain()
    // the next FILE lands: a near-dup of doc 1 plus a fresh doc; the
    // sink mutates the store and dies before the epoch commit
    land("b2.json", Seq((2L, base),
      (3L, "fresh unrelated text describing mountains rivers valleys " +
        "and the long winding hiking trails between them all summer")))
    @volatile var killed = false
    val crash = src.writeStream
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        StreamingOps.curateBatch(b, "doc_id", "text", index, corpus, 0.7)
        killed = true
        throw new RuntimeException("killed after append, before commit")
      }
      .option("checkpointLocation", ckpt).start()
    intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      crash.awaitTermination()
    }
    assert(killed)
    // restart from the same on-disk checkpoint: the file source
    // replays b2.json (it was never committed) and the sink absorbs
    // the duplicated epoch — no double rows, no resurrected near-dup
    drain()
    assert(graft.io.Staging.readTable(spark, corpus, "corpus")
      .select("doc_id").as[Long].collect().sorted.toSeq == Seq(1L, 3L))
    // a later file is new work, not a replay
    land("b3.json", Seq((4L, "yet another completely different " +
      "document about compilers optimizers and query planning joy")))
    drain()
    assert(graft.io.Staging.readTable(spark, corpus, "corpus")
      .select("doc_id").as[Long].collect().sorted.toSeq ==
      Seq(1L, 3L, 4L))
  }

  test("funnelStream on a file source equals batch funnelStages with " +
    "an on-disk checkpoint across progressive file lands") {
    import graft.streaming.UserEvent
    val root = Files.createTempDirectory("graft-funnel-files")
    val landing = root.resolve("landing")
    Files.createDirectories(landing)
    val evs = Seq(
      UserEvent(t(0), 1, "view", 0.0), UserEvent(t(1), 1, "click", 0.0),
      UserEvent(t(5), 1, "purchase", 0.0),
      UserEvent(t(0), 2, "click", 0.0), UserEvent(t(2), 2, "view", 0.0))
    val (b1, b2) = evs.sortBy(_.ts.getTime).splitAt(3)
    def land(name: String, rows: Seq[UserEvent]): Unit =
      rows.toDS().write.parquet(landing.resolve(name).toString)
    land("p1", b1)
    val stream = spark.readStream
      .schema(implicitly[org.apache.spark.sql.Encoder[UserEvent]].schema)
      .parquet(s"$landing/*")
      .as[UserEvent]
    val q = graft.streaming.StreamingOps.funnelStream(stream,
        ("view", "click", "purchase"))
      .writeStream.format("memory").queryName("funnel_files_out")
      .option("checkpointLocation", root.resolve("ckpt").toString)
      .outputMode("update").start()
    q.processAllAvailable()
    land("p2", b2)
    q.processAllAvailable()
    q.stop()
    val streamed = spark.table("funnel_files_out")
      .groupBy("user_id")
      .agg(org.apache.spark.sql.functions.max("t1").as("t1"),
        org.apache.spark.sql.functions.max("t2").as("t2"),
        org.apache.spark.sql.functions.max("t3").as("t3"))
      .collect()
      .map(r => r.getLong(0) -> (r.isNullAt(1), r.isNullAt(2),
        r.isNullAt(3))).toMap
    val batch = graft.ext.EventOps.funnelStages(
        evs.toDF(), "user_id", "event_type", "ts",
        Seq("view", "click", "purchase"))
      .collect()
      .map(r => r.getLong(0) -> (r.isNullAt(1), r.isNullAt(2),
        r.isNullAt(3))).toMap
    assert(streamed == batch)
    assert(streamed(1L) == (false, false, false)) // converted fully
    assert(streamed(2L) == (false, true, true))   // stalled at view
  }

  test("martPublishStream commits one mart version per epoch and " +
    "absorbs a DUPLICATED EPOCH: killed after the publish, before " +
    "the checkpoint commit, then restarted") {
    implicit val ctx = spark.sqlContext
    val root = Files.createTempDirectory("graft-mart-stream")
    val store = root.resolve("store").toString
    val ckpt = root.resolve("ckpt").toString
    val rows = MemoryStream[(Long, String)]
    // each epoch publishes a 2-table mart derived from the batch: the
    // raw rows plus a per-key count — both must flip together
    def build(b: org.apache.spark.sql.DataFrame)
        : Seq[(String, org.apache.spark.sql.DataFrame)] = {
      val frozen = b.localCheckpoint(true)
      Seq("rows" -> frozen,
        "counts" -> frozen.groupBy("v")
          .agg(org.apache.spark.sql.functions.count(
            org.apache.spark.sql.functions.lit(1)).as("n")))
    }
    def drain(): Unit = {
      val q = StreamingOps.martPublishStream(
        rows.toDF().toDF("id", "v"), store, "lin1", build)
        .option("checkpointLocation", ckpt).start()
      q.awaitTermination()
    }
    rows.addData((1L, "a"))
    drain()
    val s1 = graft.io.MartStore.snapshot(spark, store).get
    assert(s1.version == 1L)
    assert(s1.readTable(spark, "rows").count() == 1)
    // epoch 2 arrives; the sink publishes and dies BEFORE the epoch
    // commit — the at-least-once window
    rows.addData((2L, "a"), (3L, "b"))
    @volatile var killed = false
    val crash = rows.toDF().toDF("id", "v").writeStream
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, e: Long) =>
        StreamingOps.publishMartBatch(b, store, s"lin1-$e", build, 2)
        killed = true
        throw new RuntimeException("killed after publish, before commit")
      }
      .option("checkpointLocation", ckpt).start()
    intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      crash.awaitTermination()
    }
    assert(killed)
    val s2 = graft.io.MartStore.snapshot(spark, store).get
    assert(s2.version == 2L) // the publish DID land (at-least-once)
    // restart: the uncommitted epoch replays with the SAME epoch id —
    // the batchId dedups, no third mart version appears
    drain()
    val s3 = graft.io.MartStore.snapshot(spark, store).get
    assert(s3.version == 2L && s3.tables == s2.tables)
    // both tables flipped together on the replayed snapshot
    assert(s3.readTable(spark, "rows").count() == 2)
    assert(s3.readTable(spark, "counts").count() == 2)
    // and a genuinely new epoch still commits
    rows.addData((4L, "c"))
    drain()
    assert(graft.io.MartStore.snapshot(spark, store).get.version == 3L)
  }

  test("leakReportStream's folded hits equal the one-shot leak " +
    "report across micro-batches, and a replayed batch changes " +
    "nothing") {
    implicit val ctx = spark.sqlContext
    val root = Files.createTempDirectory("graft-leak-stream")
    val evalSet = Seq(
      (100L, "the quick brown fox jumps over the lazy dog"),
      (101L, "to be or not to be that is the question"),
      (102L, "entirely untouched benchmark prompt"))
      .toDF("doc_id", "text")
    val rows = Seq(
      (1L, "a very quick brown fox jumps high today"),
      (2L, "the dog jumps over a brown log quietly"),
      (3L, "prefix to be or not to be that is the question suffix"),
      (4L, "quick brown fox jumps over everything else"))
    val docs = MemoryStream[(Long, String)]
    def drain(): Unit = {
      val q = StreamingOps.leakReportStream(
        docs.toDF().toDF("doc_id", "text"), evalSet,
        "doc_id", "text", 4, root.toString)
        .option("checkpointLocation",
          root.resolve("ckpt").toString).start()
      q.awaitTermination()
    }
    docs.addData(rows.take(2): _*); drain()
    docs.addData(rows.drop(2): _*); drain()
    def served: Seq[(Long, Long, Long)] = graft.ext.DecontamOps
      .reportFromHits(
        graft.io.Staging.readTable(spark, root.toString, "leak_hits"),
        evalSet, "doc_id")
      .orderBy("eval_id")
      .as[(Long, Long, Long)].collect().toSeq
    val oneShot = graft.ext.DecontamOps.leakReport(
        rows.toDF("doc_id", "text"), evalSet, "doc_id", "text", 4)
      .orderBy("eval_id")
      .as[(Long, Long, Long)].collect().toSeq
    assert(served === oneShot)
    // the clean eval doc certifies with a zero row
    assert(served.exists(r => r._1 == 102L && r._2 == 0L && r._3 == 0L))
    // at-least-once replay: re-appending batch 2's hits directly
    // (the failure-retry shape) leaves the folded report unchanged
    graft.io.Staging.appendParquet(
      graft.ext.DecontamOps.leakHits(
        rows.drop(2).toDF("doc_id", "text"), evalSet,
        "doc_id", "text", 4),
      root.toString, "leak_hits")
    assert(served === oneShot)
  }

  test("exactDedupStream accepts first arrivals across micro-batches " +
    "and absorbs BOTH crash windows: replay after acceptance, and " +
    "killed-after-index-append-before-acceptance") {
    implicit val ctx = spark.sqlContext
    val root = Files.createTempDirectory("graft-exactstream")
    val idx = root.resolve("idx").toString
    val out = root.resolve("out").toString
    val rows = Seq(
      (10L, "alpha beta gamma"),
      (11L, "delta epsilon"),
      (2L, "alpha beta gamma"),   // later arrival, smaller id → drop
      (3L, "zeta eta"))
    val docs = MemoryStream[(Long, String)]
    def drain(): Unit = {
      val q = StreamingOps.exactDedupStream(
        docs.toDF().toDF("doc_id", "text"), "doc_id", "text", idx, out)
        .option("checkpointLocation",
          root.resolve("ckpt").toString).start()
      q.awaitTermination()
    }
    docs.addData(rows.take(2): _*); drain()
    docs.addData(rows.drop(2): _*); drain()
    def accepted = graft.io.Staging.readTable(spark, out, "accepted")
      .select("doc_id").as[Long].collect().sorted.toSeq
    assert(accepted === Seq(3L, 10L, 11L))
    // duplicated-epoch replay AFTER acceptance: the id anti-join
    // absorbs it — nothing re-appends
    StreamingOps.exactDedupBatch(rows.drop(2).toDF("doc_id", "text"),
      "doc_id", "text", idx, out)
    assert(accepted === Seq(3L, 10L, 11L))
    // killed-after-index-append drill: a new batch's digests reach
    // the index, but the acceptance write dies (simulated by calling
    // the op directly); the replayed epoch must still ACCEPT the doc
    // — its indexed digest is its own (self-exclusion), not a loss
    val late = Seq((20L, "theta iota")).toDF("doc_id", "text")
    graft.ext.DedupOps.incrementalExactDedup(late, "doc_id", "text",
      idx).count()
    StreamingOps.exactDedupBatch(late, "doc_id", "text", idx, out)
    assert(accepted === Seq(3L, 10L, 11L, 20L))
  }

  test("bigramCountStream maintains the count store epoch-keyed: " +
    "streamed scores equal the one-shot model, replayed epoch " +
    "changes nothing") {
    implicit val ctx = spark.sqlContext
    val root = Files.createTempDirectory("graft-bgstream")
    val rows = Seq(
      (1L, "a b c a b"), (2L, "a c b"), (3L, "b c a b c"),
      (4L, "a b"))
    val docs = MemoryStream[(Long, String)]
    def drain(): Unit = {
      val q = StreamingOps.bigramCountStream(
        docs.toDF().toDF("doc_id", "text"), "doc_id", "text",
        root.toString)
        .option("checkpointLocation",
          root.resolve("ckpt").toString).start()
      q.awaitTermination()
    }
    docs.addData(rows.take(2): _*); drain()
    docs.addData(rows.drop(2): _*); drain()
    def served = graft.ext.TextOps
      .bigramLmScoresFromStore(rows.toDF("doc_id", "text"),
        "doc_id", "text", root.toString)
      .orderBy("doc_id").select("doc_id", "n_bigrams", "lm_logprob")
      .as[(Long, Long, Double)].collect().toSeq
    val oneShot = graft.ext.TextOps
      .bigramLmScores(rows.toDF("doc_id", "text"), "doc_id", "text")
      .orderBy("doc_id").select("doc_id", "n_bigrams", "lm_logprob")
      .as[(Long, Long, Double)].collect().toSeq
    assert(served === oneShot)
    // the duplicated-epoch drill: a replayed epoch re-appends its
    // delta under the SAME epoch id — the serve-side fold collapses
    graft.ext.TextOps.updateBigramCounts(
      rows.drop(2).toDF("doc_id", "text"), "doc_id", "text",
      root.toString, batchId = 1)
    assert(served === oneShot)
  }

  test("count-stream lineage guard: a fresh checkpoint starting at " +
    "epoch 0 on a store at batch 1 fails the query; a replay of the " +
    "latest epoch passes") {
    implicit val ctx = spark.sqlContext
    val root = Files.createTempDirectory("graft-lineage")
    val store = root.resolve("store").toString
    val ckpt = root.resolve("ckpt").toString
    val rows = Seq((1L, "a b c a b"), (2L, "a c b"), (3L, "b c a b c"))
    val docs = MemoryStream[(Long, String)]
    def start(src: MemoryStream[(Long, String)], ck: String) =
      StreamingOps.bigramCountStream(src.toDF().toDF("doc_id", "text"),
        "doc_id", "text", store).option("checkpointLocation", ck).start()
    docs.addData(rows.take(1): _*); start(docs, ckpt).awaitTermination()
    // epoch 1: the store append lands, then the process dies before
    // the epoch commit — the store is at batch 1, the checkpoint at 0
    docs.addData(rows.drop(1): _*)
    val crash = docs.toDF().toDF("doc_id", "text").writeStream
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, epoch: Long) =>
        graft.ext.TextOps.updateBigramCounts(b, "doc_id", "text", store,
          batchId = epoch)
        throw new RuntimeException("killed after append, before commit")
      }
      .option("checkpointLocation", ckpt).start()
    intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      crash.awaitTermination()
    }
    def storeMax = graft.io.CountLog.maxBatchId(spark, store,
      "bigram_counts")
    assert(storeMax == Some(1L))
    def served = graft.ext.TextOps
      .bigramLmScoresFromStore(rows.toDF("doc_id", "text"),
        "doc_id", "text", store)
      .orderBy("doc_id").select("doc_id", "n_bigrams", "lm_logprob")
      .as[(Long, Long, Double)].collect().toSeq
    val oneShot = graft.ext.TextOps
      .bigramLmScores(rows.toDF("doc_id", "text"), "doc_id", "text")
      .orderBy("doc_id").select("doc_id", "n_bigrams", "lm_logprob")
      .as[(Long, Long, Double)].collect().toSeq
    // a fresh checkpoint on the same store restarts at epoch 0
    val reset = MemoryStream[(Long, String)]
    reset.addData((9L, "c a b"))
    val err = intercept[
        org.apache.spark.sql.streaming.StreamingQueryException] {
      start(reset, root.resolve("ckpt2").toString).awaitTermination()
    }
    assert(err.getMessage.contains(
      "bigramCountStream epoch 0 < store max batch 1"), err.getMessage)
    assert(storeMax == Some(1L))
    assert(served === oneShot, "the refused batch touched the store")
    // the original checkpoint replays its uncommitted epoch 1 — equal
    // to the store max, so the guard lets it through
    start(docs, ckpt).awaitTermination()
    assert(storeMax == Some(1L))
    assert(served === oneShot)
  }

  test("classifierCountStream maintains the classifier count store " +
    "epoch-keyed: streamed model scores equal the one-shot fit, " +
    "replayed epoch changes nothing") {
    import org.apache.spark.sql.functions.col
    implicit val ctx = spark.sqlContext
    val root = Files.createTempDirectory("graft-clfstream")
    val rows = Seq(
      (1L, "the quick brown fox jumps high", true),
      (2L, "a calm clear morning walk today", true),
      (3L, "gentle rain falls on green hills", true),
      (4L, "buy cheap pills now click here", false),
      (5L, "win money fast casino bonus spin", false))
    val docs = MemoryStream[(Long, String, Boolean)]
    def drain(): Unit = {
      val q = StreamingOps.classifierCountStream(
        docs.toDF().toDF("doc_id", "text", "curated"),
        "doc_id", "text", col("curated"), root.toString)
        .option("checkpointLocation",
          root.resolve("ckpt").toString).start()
      q.awaitTermination()
    }
    docs.addData(rows.take(3): _*); drain()
    docs.addData(rows.drop(3): _*); drain()
    val score = Seq(
      (10L, "the quick brown fox"), (11L, "buy cheap pills now"),
      (12L, "zyxq wvut srqp")).toDF("doc_id", "text")
    def served = graft.ext.ClassifierOps.scoreQuality(
        score, "doc_id", "text",
        graft.ext.ClassifierOps.classifierFromStore(
          spark, root.toString))
      .orderBy("doc_id")
      .select("doc_id", "n_feats", "quality_score", "quality_pass")
      .as[(Long, Long, Double, Boolean)].collect().toSeq
    val oneShot = graft.ext.ClassifierOps.scoreQuality(
        score, "doc_id", "text",
        graft.ext.ClassifierOps.trainQualityClassifier(
          rows.toDF("doc_id", "text", "curated"),
          "doc_id", "text", col("curated")))
      .orderBy("doc_id")
      .select("doc_id", "n_feats", "quality_score", "quality_pass")
      .as[(Long, Long, Double, Boolean)].collect().toSeq
    assert(served === oneShot)
    // duplicated-epoch drill: replaying epoch 1's batch under its
    // own id collapses at serve — no count doubles, no score moves
    graft.ext.ClassifierOps.updateClassifierCounts(
      rows.drop(3).toDF("doc_id", "text", "curated"),
      "doc_id", "text", col("curated"), root.toString, batchId = 1)
    assert(served === oneShot)
  }

  test("langIdCountStream maintains the lang-ID count store " +
    "epoch-keyed: streamed model classifies equal to the one-shot " +
    "fit, replayed epoch changes nothing") {
    implicit val ctx = spark.sqlContext
    val root = Files.createTempDirectory("graft-langstream")
    val rows = Seq(
      (1L, "der schnelle braune fuchs springt hoch", "de"),
      (2L, "die müden väter hören schöne vögel", "de"),
      (3L, "le renard brun rapide saute par dessus", "fr"),
      (4L, "les élèves écoutent très attentivement", "fr"),
      (5L, "the quick brown fox jumps over the dog", "en"))
    val docs = MemoryStream[(Long, String, String)]
    def drain(): Unit = {
      val q = StreamingOps.langIdCountStream(
        docs.toDF().toDF("doc_id", "text", "lang"),
        "doc_id", "text", "lang", root.toString)
        .option("checkpointLocation",
          root.resolve("ckpt").toString).start()
      q.awaitTermination()
    }
    docs.addData(rows.take(3): _*); drain()
    docs.addData(rows.drop(3): _*); drain()
    val score = Seq(
      (10L, "größte bücher schöner"), (11L, "élève château déjà"),
      (12L, "quick morning chess")).toDF("doc_id", "text")
    def served = graft.ext.ClassifierOps.classifyLang(
        score, "doc_id", "text",
        graft.ext.ClassifierOps.langIdFromStore(spark, root.toString))
      .orderBy("doc_id")
      .select("doc_id", "lang_pred", "lang_score")
      .as[(Long, String, Double)].collect().toSeq
    val oneShot = graft.ext.ClassifierOps.classifyLang(
        score, "doc_id", "text",
        graft.ext.ClassifierOps.trainLangId(
          rows.toDF("doc_id", "text", "lang"),
          "doc_id", "text", "lang"))
      .orderBy("doc_id")
      .select("doc_id", "lang_pred", "lang_score")
      .as[(Long, String, Double)].collect().toSeq
    assert(served === oneShot)
    // duplicated-epoch drill: replaying epoch 1's batch under its
    // own id collapses at serve — no count doubles, no pred moves
    graft.ext.ClassifierOps.updateLangIdCounts(
      rows.drop(3).toDF("doc_id", "text", "lang"),
      "doc_id", "text", "lang", root.toString, batchId = 1)
    assert(served === oneShot)
  }

  test("valueHistogramStream maintains the drift histogram " +
    "epoch-keyed: the store-served PSI equals the inline report, " +
    "replayed epoch changes nothing") {
    import org.apache.spark.sql.functions.col
    implicit val ctx = spark.sqlContext
    val root = Files.createTempDirectory("graft-histstream")
    val cuts = Seq(2.0, 5.0)
    val baseRows = Seq(1L, 2L, 3L, 4L, 6L, 7L)
    val curRows = Seq(1L, 3L, 4L, 6L, 7L)
    // frozen base store written by the batch maintenance op; the
    // stream feeds only the CURRENT side — the production split
    graft.ext.DriftOps.updateValueHistogram(baseRows.toDF("v"),
      col("v"), cuts, root.resolve("base").toString, 0L)
    val vals = MemoryStream[Long]
    def drain(): Unit = {
      val q = StreamingOps.valueHistogramStream(
        vals.toDF().toDF("v"), col("v"), cuts,
        root.resolve("cur").toString)
        .option("checkpointLocation",
          root.resolve("ckpt").toString).start()
      q.awaitTermination()
    }
    vals.addData(curRows.take(3): _*); drain()
    vals.addData(curRows.drop(3): _*); drain()
    def served = graft.ext.DriftOps.psiReportFromStores(spark,
        root.resolve("base").toString, root.resolve("cur").toString,
        cuts)
      .orderBy("bucket")
      .select("bucket", "n_base", "n_cur", "p_base", "p_cur",
        "psi_contrib", "psi_total")
      .as[(Int, Long, Long, Double, Double, Double, Double)]
      .collect().toSeq
    val inline = graft.ext.DriftOps.psiReport(baseRows.toDF("v"),
        curRows.toDF("v"), col("v"), cuts)
      .orderBy("bucket")
      .select("bucket", "n_base", "n_cur", "p_base", "p_cur",
        "psi_contrib", "psi_total")
      .as[(Int, Long, Long, Double, Double, Double, Double)]
      .collect().toSeq
    assert(served === inline)
    // duplicated-epoch drill: epoch 1's delta re-appended verbatim
    graft.ext.DriftOps.updateValueHistogram(
      curRows.drop(3).toDF("v"), col("v"), cuts,
      root.resolve("cur").toString, batchId = 1L)
    assert(served === inline)
  }

  test("train/test split and deterministic sampling apply to streams " +
    "unchanged (stateless narrow maps)") {
    implicit val ctx = spark.sqlContext
    val docs = MemoryStream[(Long, String)]
    // the batch operators compose directly onto readStream frames —
    // no state store, no watermark: the split is a pure function of
    // each row, which is exactly why it is replay/retry-safe
    val split = graft.ext.SamplingOps.trainTestSplit(
      docs.toDF().toDF("doc_id", "text"), "text", 30)
    val q = split.writeStream.format("memory")
      .queryName("split_stream").outputMode("append").start()
    val rows = (1 to 100).map(i => (i.toLong, s"stream doc $i body"))
    docs.addData(rows: _*)
    q.processAllAvailable()
    q.stop()
    val got = spark.table("split_stream")
      .select("doc_id", "split").as[(Long, String)].collect().toMap
    // identical assignments to the batch operator over the same rows
    val batchGot = graft.ext.SamplingOps.trainTestSplit(
        rows.toDF("doc_id", "text"), "text", 30)
      .select("doc_id", "split").as[(Long, String)].collect().toMap
    assert(got == batchGot)
    assert(got.values.toSet == Set("train", "test"))
  }

  test("runningUserProfile maintains custom keyed state across batches") {
    implicit val ctx = spark.sqlContext
    val ms = MemoryStream[graft.streaming.UserEvent]
    val q = graft.streaming.StreamingOps.runningUserProfile(ms.toDS())
      .writeStream.format("memory").queryName("profile_out")
      .outputMode("update").start()
    ms.addData(
      graft.streaming.UserEvent(t(0), 1, "click", 2.0),
      graft.streaming.UserEvent(t(1), 1, "view", 3.0))
    q.processAllAvailable()
    ms.addData(graft.streaming.UserEvent(t(2), 1, "click", 5.0))
    q.processAllAvailable()
    q.stop()
    val last = spark.table("profile_out")
      .filter($"user_id" === 1).orderBy($"n_events".desc).head()
    assert(last.getAs[Long]("n_events") == 3L)
    assert(last.getAs[Double]("total_value") == 10.0)
  }

  test("funnelStream equals batch funnelStages under event-time-" +
    "ordered delivery across micro-batches") {
    implicit val ctx = spark.sqlContext
    import graft.streaming.UserEvent
    val evs = Seq(
      // u1 converts fully, split across the two batches
      UserEvent(t(0), 1, "view", 0.0), UserEvent(t(1), 1, "click", 0.0),
      UserEvent(t(5), 1, "purchase", 0.0),
      // u2: click precedes its only view → stalls at view
      UserEvent(t(0), 2, "click", 0.0), UserEvent(t(2), 2, "view", 0.0),
      // u3: same-timestamp view+click tie converts, no purchase —
      // listed CLICK-FIRST to pin the within-timestamp step-rank
      // secondary sort (arrival order must not decide a tie)
      UserEvent(t(3), 3, "click", 0.0), UserEvent(t(3), 3, "view", 0.0))
    val (batch1, batch2) = evs.sortBy(_.ts.getTime).splitAt(4)

    val ms = MemoryStream[UserEvent]
    val q = graft.streaming.StreamingOps.funnelStream(ms.toDS(),
        ("view", "click", "purchase"))
      .writeStream.format("memory").queryName("funnel_out")
      .outputMode("update").start()
    ms.addData(batch1: _*); q.processAllAvailable()
    ms.addData(batch2: _*); q.processAllAvailable()
    q.stop()
    // final state per user: reach times are monotone (set once, never
    // changed), so max over the per-batch update rows = last state
    val streamed = spark.table("funnel_out")
      .groupBy("user_id")
      .agg(org.apache.spark.sql.functions.max("t1").as("t1"),
        org.apache.spark.sql.functions.max("t2").as("t2"),
        org.apache.spark.sql.functions.max("t3").as("t3"))
      .collect()
      .map(r => r.getLong(0) -> (
        if (r.isNullAt(1)) None else Some(r.getLong(1)),
        if (r.isNullAt(2)) None else Some(r.getLong(2)),
        if (r.isNullAt(3)) None else Some(r.getLong(3)))).toMap

    val batch = graft.ext.EventOps.funnelStages(
        evs.toDF(), "user_id", "event_type", "ts",
        Seq("view", "click", "purchase"))
      .collect()
      .map(r => r.getLong(0) -> (
        if (r.isNullAt(1)) None else Some(r.getTimestamp(1).getTime),
        if (r.isNullAt(2)) None else Some(r.getTimestamp(2).getTime),
        if (r.isNullAt(3)) None else Some(r.getTimestamp(3).getTime)))
      .toMap
    assert(streamed == batch)            // same times, step for step
    assert(batch(1L)._3.nonEmpty)        // u1 converted fully
    assert(batch(2L)._2.isEmpty)         // u2 stalled at view
    assert(batch(3L)._2.nonEmpty && batch(3L)._3.isEmpty)
  }

  test("rollingMadGateStream: cold-start epoch lands unscored and " +
    "seeds the store, later epochs gate against the FROZEN earlier-" +
    "epoch model, and a duplicated epoch (killed after the " +
    "mutations, before the commit) is absorbed") {
    implicit val ctx = spark.sqlContext
    import graft.ext.DriftOps
    import graft.streaming.StreamingOps
    import org.apache.spark.sql.functions.col
    val root = Files.createTempDirectory("graft-rollstream")
    val (store, out, ckpt) = (root.resolve("store").toString,
      root.resolve("out").toString, root.resolve("ckpt").toString)
    val vals = MemoryStream[(String, Long)]
    def drain(): Unit = {
      val q = StreamingOps.rollingMadGateStream(
        vals.toDF().toDF("k", "v"), Seq("k"), col("v"), 3.0,
        store, out, maxStaleness = 10L)
        .option("checkpointLocation", ckpt).start()
      q.awaitTermination()
    }
    val e0 = Seq(("A", 1L), ("A", 2L), ("A", 3L))
    val e1 = Seq(("A", 4L), ("A", 100L))
    val e2 = Seq(("A", 5L), ("B", 7L))
    def gatedRows = graft.io.Staging.readTable(spark, out, "gated")
    vals.addData(e0: _*); drain()
    // cold start: no earlier model — rows land UNSCORED (routed, not
    // dropped) and the store is seeded
    assert(gatedRows.filter(col("__batch") === 0)
      .filter(col("is_outlier").isNull).count() === 3)
    // epoch 1 gates against epoch 0's model (med 2, mad 1)
    vals.addData(e1: _*); drain()
    assert(gatedRows.filter(col("__batch") === 1 &&
        col("is_outlier") === true)
      .select("v").as[Long].collect().toSeq === Seq(100L))
    // epoch 2 arrives: the sink runs the FULL mutation (gated
    // partition write + histogram delta append) and dies BEFORE the
    // epoch commit — the at-least-once window
    vals.addData(e2: _*)
    @volatile var killed = false
    val crash = vals.toDF().toDF("k", "v").writeStream
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, e: Long) =>
        StreamingOps.rollingGateBatch(b, Seq("k"), col("v"), 3.0,
          store, out, 10L, e)
        killed = true
        throw new RuntimeException(
          "killed after mutations, before commit")
      }
      .option("checkpointLocation", ckpt).start()
    intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      crash.awaitTermination()
    }
    assert(killed)
    assert(gatedRows.filter(col("__batch") === 2).count() === 2)
    // restart: the replayed epoch REWRITES its own partition (no
    // duplicate rows) and stays frozen — the strict __batch < epoch
    // fold keeps its own already-appended delta out of its model
    drain()
    val p2 = gatedRows.filter(col("__batch") === 2)
    assert(p2.count() === 2)
    // ≡ the batch gate against the epochs-0∪1 snapshot model —
    // med 3 / mad 1, so A's 5 passes; B is unseen → NULL-scored
    val truth = DriftOps.applyRobustStats(e2.toDF("k", "v"),
      DriftOps.robustStatsDiscrete((e0 ++ e1).toDF("k", "v"),
        Seq("k"), col("v")),
      Seq("k"), col("v"), 3.0)
    def snap(df: org.apache.spark.sql.DataFrame) =
      df.select("k", "v", "__med", "__mad", "is_outlier")
        .collect().map(_.toSeq).toSet
    assert(snap(p2) === snap(truth))
    // and the stream keeps going afterwards
    vals.addData(("A", 6L)); drain()
    assert(gatedRows.filter(col("__batch") === 3).count() === 1)
  }

  test("stateful twins (runningUserProfile, funnelStream) survive a " +
    "kill AFTER the state commit, BEFORE the epoch commit, and " +
    "restart — config-switched onto BOTH state store providers") {
    import graft.streaming.{StreamingOps, UserEvent, UserProfile,
      FunnelProgress}
    implicit val ctx = spark.sqlContext
    // conf.getOption surfaces the registered DEFAULT for unset SQL
    // confs, so "restored" means "back to this", not "empty"
    val confBefore = spark.conf.getOption(
      "spark.sql.streaming.stateStore.providerClass")
    for ((provName, prov) <- Seq(
        "hdfs" -> StreamingOps.HDFSBackedStateStoreProvider,
        "rocksdb" -> StreamingOps.RocksDBStateStoreProvider)) {
      StreamingOps.withStateStoreProvider(spark, prov) {
        val root = Files.createTempDirectory(s"graft-state-$provName")

        // ---- runningUserProfile: count/sum state must roll back ----
        val ms = MemoryStream[UserEvent]
        val ckpt = root.resolve("profile-ckpt").toString
        val acc =
          new scala.collection.concurrent.TrieMap[Long, (Long, Double)]()
        def drain(): Unit = {
          val q = StreamingOps.runningUserProfile(ms.toDS())
            .writeStream.outputMode("update")
            .trigger(Trigger.AvailableNow())
            .foreachBatch {
              (b: org.apache.spark.sql.Dataset[UserProfile], _: Long) =>
                b.collect().foreach(p =>
                  acc.put(p.user_id, (p.n_events, p.total_value)))
                ()
            }
            .option("checkpointLocation", ckpt).start()
          q.awaitTermination()
        }
        ms.addData(UserEvent(t(0), 1, "click", 2.0),
          UserEvent(t(1), 2, "view", 3.0))
        drain()
        // epoch 2 arrives: the state store version COMMITS task-side
        // (b.collect() runs the micro-batch plan), then the sink dies
        // before the epoch commit — the replayed epoch must re-run
        // against the ROLLED-BACK state version, not the committed
        // one, or user 1's count double-counts
        ms.addData(UserEvent(t(2), 1, "click", 5.0))
        @volatile var killed = false
        val crash = StreamingOps.runningUserProfile(ms.toDS())
          .writeStream.outputMode("update")
          .trigger(Trigger.AvailableNow())
          .foreachBatch {
            (b: org.apache.spark.sql.Dataset[UserProfile], _: Long) =>
              b.collect()
              killed = true
              throw new RuntimeException(
                "killed after state commit, before epoch commit")
          }
          .option("checkpointLocation", ckpt).start()
        intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
          crash.awaitTermination()
        }
        assert(killed, provName)
        drain() // replayed epoch, then a genuinely new one
        ms.addData(UserEvent(t(3), 1, "view", 1.0))
        drain()
        assert(acc(1L) == ((3L, 8.0)),
          s"$provName: replayed epoch must not double-count")
        assert(acc(2L) == ((1L, 3.0)), provName)

        // ---- funnelStream: reach-time state must roll back ----
        val fs = MemoryStream[UserEvent]
        val fckpt = root.resolve("funnel-ckpt").toString
        val facc = new scala.collection.concurrent.TrieMap[Long,
          (Option[Long], Option[Long], Option[Long])]()
        def fdrain(): Unit = {
          val q = StreamingOps.funnelStream(fs.toDS(),
              ("view", "click", "purchase"))
            .writeStream.outputMode("update")
            .trigger(Trigger.AvailableNow())
            .foreachBatch {
              (b: org.apache.spark.sql.Dataset[FunnelProgress], _: Long) =>
                b.collect().foreach(p =>
                  facc.put(p.user_id, (p.t1, p.t2, p.t3)))
                ()
            }
            .option("checkpointLocation", fckpt).start()
          q.awaitTermination()
        }
        fs.addData(UserEvent(t(0), 1, "view", 0.0))
        fdrain()
        fs.addData(UserEvent(t(1), 1, "click", 0.0))
        val fcrash = StreamingOps.funnelStream(fs.toDS(),
            ("view", "click", "purchase"))
          .writeStream.outputMode("update")
          .trigger(Trigger.AvailableNow())
          .foreachBatch {
            (b: org.apache.spark.sql.Dataset[FunnelProgress], _: Long) =>
              b.collect()
              throw new RuntimeException(
                "killed after state commit, before epoch commit")
          }
          .option("checkpointLocation", fckpt).start()
        intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
          fcrash.awaitTermination()
        }
        fdrain() // replay absorbs
        fs.addData(UserEvent(t(5), 1, "purchase", 0.0))
        fdrain()
        // equal to the batch ground truth over ALL events — a
        // double-applied click would NOT change t2 (set-once), so
        // assert the full reach-time triple, not just presence
        assert(facc(1L) ==
          ((Some(t(0).getTime), Some(t(1).getTime), Some(t(5).getTime))),
          provName)

        // the provider switch genuinely engaged: the checkpoint's
        // state dir carries provider-formatted files (RocksDB ships
        // zipped snapshots/changelogs; the default provider writes
        // .delta files)
        def stateFiles(dir: String): Seq[String] = {
          val d = java.nio.file.Paths.get(dir, "state")
          if (!Files.exists(d)) Seq.empty
          else {
            val s = Files.walk(d)
            try {
              import scala.jdk.CollectionConverters._
              s.iterator().asScala.filter(Files.isRegularFile(_))
                .map(_.getFileName.toString).toList
            } finally s.close()
          }
        }
        val files = stateFiles(ckpt) ++ stateFiles(fckpt)
        assert(files.nonEmpty, provName)
        if (provName == "rocksdb")
          assert(files.exists(f => f.endsWith(".zip") ||
            f.endsWith(".changelog")),
            s"rocksdb state files expected, got: ${files.take(10)}")
        else
          assert(files.exists(_.endsWith(".delta")),
            s"hdfs-backed .delta state files expected, got: " +
              files.take(10).toString)
      }
    }
    // the scoped switch restored the session default
    assert(spark.conf.getOption(
      "spark.sql.streaming.stateStore.providerClass") == confBefore)
  }

  test("stateful twins run on RocksDB BY DEFAULT — an unswitched " +
    "stream writes RocksDB-format state files (VERDICT r12 #6: the " +
    "provider was drill-only before; now it is the session default)") {
    import graft.streaming.{StreamingOps, UserEvent, UserProfile}
    implicit val ctx = spark.sqlContext
    assert(spark.conf.get(
      "spark.sql.streaming.stateStore.providerClass") ==
      StreamingOps.RocksDBStateStoreProvider,
      "session default provider is not RocksDB")
    val ms = MemoryStream[UserEvent]
    val ckpt = Files.createTempDirectory("graft-default-prov")
      .resolve("ckpt").toString
    ms.addData(UserEvent(t(0), 1, "click", 2.0),
      UserEvent(t(1), 2, "view", 3.0))
    // NO withStateStoreProvider switch — whatever the session default
    // is, is what this query's lineage pins
    val q = StreamingOps.runningUserProfile(ms.toDS())
      .writeStream.outputMode("update")
      .trigger(Trigger.AvailableNow())
      .foreachBatch {
        (b: org.apache.spark.sql.Dataset[UserProfile], _: Long) =>
          b.collect(); ()
      }
      .option("checkpointLocation", ckpt).start()
    q.awaitTermination()
    val stateDir = java.nio.file.Paths.get(ckpt, "state")
    val s = Files.walk(stateDir)
    val files = try {
      import scala.jdk.CollectionConverters._
      s.iterator().asScala.filter(Files.isRegularFile(_))
        .map(_.getFileName.toString).toList
    } finally s.close()
    assert(files.exists(f => f.endsWith(".zip") ||
      f.endsWith(".changelog")),
      s"RocksDB state files expected under the DEFAULT provider, " +
        s"got: ${files.take(10)}")
    assert(!files.exists(_.endsWith(".delta")),
      "HDFS-backed .delta files found — the default did not engage")
  }

  test("RocksDB changelog checkpointing: kill-mid-epoch drill holds " +
    "and .changelog files land in the checkpoint") {
    import graft.streaming.{StreamingOps, UserEvent, UserProfile}
    implicit val ctx = spark.sqlContext
    // the 100 TB posture: per-batch uploads are O(batch delta)
    // changelogs, not O(state) snapshots (StreamingOps scaladoc) —
    // the rollback contract must be IDENTICAL, so the same
    // state-committed/epoch-uncommitted kill is replayed here
    StreamingOps.withSqlConfs(spark,
      "spark.sql.streaming.stateStore.providerClass" ->
        StreamingOps.RocksDBStateStoreProvider,
      StreamingOps.RocksDBChangelogConfKey -> "true") {
      val root = Files.createTempDirectory("graft-state-changelog")
      val ms = MemoryStream[UserEvent]
      val ckpt = root.resolve("profile-ckpt").toString
      val acc =
        new scala.collection.concurrent.TrieMap[Long, (Long, Double)]()
      def drain(): Unit = {
        val q = StreamingOps.runningUserProfile(ms.toDS())
          .writeStream.outputMode("update")
          .trigger(Trigger.AvailableNow())
          .foreachBatch {
            (b: org.apache.spark.sql.Dataset[UserProfile], _: Long) =>
              b.collect().foreach(p =>
                acc.put(p.user_id, (p.n_events, p.total_value)))
              ()
          }
          .option("checkpointLocation", ckpt).start()
        q.awaitTermination()
      }
      ms.addData(UserEvent(t(0), 1, "click", 2.0),
        UserEvent(t(1), 2, "view", 3.0))
      drain()
      ms.addData(UserEvent(t(2), 1, "click", 5.0))
      val crash = StreamingOps.runningUserProfile(ms.toDS())
        .writeStream.outputMode("update")
        .trigger(Trigger.AvailableNow())
        .foreachBatch {
          (b: org.apache.spark.sql.Dataset[UserProfile], _: Long) =>
            b.collect()
            throw new RuntimeException(
              "killed after state commit, before epoch commit")
        }
        .option("checkpointLocation", ckpt).start()
      intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
        crash.awaitTermination()
      }
      drain() // replayed epoch must not double-count against rolled-back state
      ms.addData(UserEvent(t(3), 1, "view", 1.0))
      drain()
      assert(acc(1L) == ((3L, 8.0)),
        "changelog-mode replayed epoch must not double-count")
      assert(acc(2L) == ((1L, 3.0)))
      // the flag genuinely engaged: per-batch .changelog uploads in
      // the checkpoint state dir (snapshot-mode RocksDB writes only
      // .zip files per batch)
      val stateDir = java.nio.file.Paths.get(ckpt, "state")
      val s = Files.walk(stateDir)
      val files =
        try {
          import scala.jdk.CollectionConverters._
          s.iterator().asScala.filter(Files.isRegularFile(_))
            .map(_.getFileName.toString).toList
        } finally s.close()
      assert(files.exists(_.endsWith(".changelog")),
        s"expected .changelog uploads, got: ${files.take(10)}")
    }
  }

  test("incrementalLoadStream is the streaming form of load-if-new") {
    implicit val ctx = spark.sqlContext
    val store = Files.createTempDirectory("graft-stream-store").toString
    val ms = MemoryStream[Rec]
    def rec(id: String) =
      Rec(id, t(0), "p1", s"http://$id", s"review $id", 4.0)
    val writer = StreamingOps.incrementalLoadStream(ms.toDF(),
      "id_review", store, "reviews")
    ms.addData(rec("r1"), rec("r2"))
    val q1 = writer.start(); q1.awaitTermination()
    // second micro-run overlaps r2 → only r3 is new
    ms.addData(rec("r2"), rec("r3"))
    val q2 = StreamingOps.incrementalLoadStream(ms.toDF(),
      "id_review", store, "reviews").start()
    q2.awaitTermination()
    val ids = spark.read.parquet(s"$store/reviews")
      .select("id_review").as[String].collect().sorted.toSeq
    assert(ids == Seq("r1", "r2", "r3"))
  }
}
