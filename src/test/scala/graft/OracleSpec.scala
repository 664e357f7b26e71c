package graft

import java.nio.file.Files

import scala.sys.process._

/** The DuckDB oracle inside `sbt test`: registry queries dumped with
  * [[Verify.dump]] on the suite's session, then compared by
  * `tools/check.py` — the same schema, row-count and value check the
  * correctness gate runs at sf0.01, here on the sf0.001 tables. */
class OracleSpec extends SparkSpec {

  private val d = "/root/testdata/sf0.001"

  /** Dumps `names` over sf0.001 with [[Verify.dump]] and asserts
    * `tools/check.py` passes every one of them. */
  private def assertOracle(names: Seq[String]): Unit = {
    val out = Files.createTempDirectory("graft-oracle").toString
    Verify.dump(spark, d, out, names.toSet)
    val log = new StringBuilder
    val rc = (Seq("python3", "tools/check.py", out, d) ++ names)
      .!(ProcessLogger(l => log.append(l).append('\n'),
        l => log.append(l).append('\n')))
    assert(rc == 0, s"tools/check.py failed:\n$log")
    // a query that throws is left out of the dump and check.py only
    // compares what is there, so every name must count as a pass
    assert(log.toString.contains(s"PASS ${names.size} / FAIL 0"), log)
  }

  test("store family matches the DuckDB oracle: delete_keys, " +
    "versioned_store, versioned_store_partitioned, incremental_rollup, " +
    "mart_publish_atomic") {
    assertOracle(Seq("delete_keys", "versioned_store",
      "versioned_store_partitioned", "incremental_rollup",
      "mart_publish_atomic"))
  }

  test("HLL rollup store matches the DuckDB oracle: " +
    "incremental_distinct_hll") {
    assertOracle(Seq("incremental_distinct_hll"))
  }

  test("exact set-pair and span family matches the DuckDB oracle: " +
    "both measures on the dense and prefix cores, the blocked tiers, " +
    "the span ops") {
    assertOracle(Seq("jaccard_pairs_prefix", "jaccard_pairs_bigvocab",
      "containment_pairs_prefix", "containment_pairs_bigvocab",
      "containment_dedup", "ngram_jaccard_topk", "dup_span_coverage",
      "dup_span_strip"))
  }

  test("operators whose never-set options became constants match the " +
    "DuckDB oracle: BM25, simhash, embedding and image dedup, ANN, " +
    "repetition, MAD gates, CMS, media decode, lang-ID, BPE, events") {
    assertOracle(Seq("bm25_rank", "bm25_indexed", "dedup_simhash",
      "dedup_simhash_verified", "dedup_embedding", "dedup_image_phash",
      "ann_ivf_topk", "ann_lsh_verified", "dup_line_signals",
      "mad_outlier_gate", "mad_gate_rolling", "mad_gate_frozen",
      "heavy_hitters_cms", "incremental_topk_cms", "multimodal_decode",
      "audio_segments", "lang_id_learned", "bpe_token_count",
      "events_tumbling"))
  }

  test("reading the events table sets no session conf: the legacy " +
    "parquet nanosAsLong key stays unset and ts reads as a µs timestamp") {
    val key = "spark.sql.legacy.parquet.nanosAsLong"
    spark.conf.unset(key)
    val events = Tables.events(spark, d)
    assert(events.schema("ts").dataType ==
      org.apache.spark.sql.types.TimestampNTZType)
    assert(events.count() > 0)
    assert(!spark.conf.getAll.contains(key),
      s"reading events set $key=${spark.conf.getAll.get(key)}")
  }
}
