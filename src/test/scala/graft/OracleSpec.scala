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

  test("exact set-pair and span family matches the DuckDB oracle: " +
    "both measures on the dense and prefix cores, the blocked tiers, " +
    "the span ops") {
    assertOracle(Seq("jaccard_pairs_prefix", "jaccard_pairs_bigvocab",
      "containment_pairs_prefix", "containment_pairs_bigvocab",
      "containment_dedup", "ngram_jaccard_topk", "dup_span_coverage",
      "dup_span_strip"))
  }
}
