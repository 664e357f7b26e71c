package graft

import graft.ops.Relational.widenNarrowScan
import graft.queries.FixtureStore

/** Plan-shape assertions for registry queries: the properties that
  * decide 100×-scale behavior (scan pushdown, broadcast of small
  * sides, map-side partial aggregation, top-k as
  * TakeOrderedAndProject) are asserted against the executed plans,
  * not just eyeballed in .explain output — plus what a build or a
  * run may leave behind (jobs at build time, per-run pins). */
class QueryPlanSpec extends SparkSpec {

  private val d = "/root/testdata/sf0.001"

  private def plan(name: String): String =
    SparkEntry.queries(name)(spark, d).queryExecution.executedPlan.toString

  test("widenNarrowScan runs no job at build: it widens a narrow " +
    "scan and returns an aggregate untouched") {
    val scan = Tables.documents(spark, d)
    val cores = spark.sparkContext.defaultParallelism
    assert(scan.queryExecution.toRdd.getNumPartitions < cores)
    val (widened, scanJobs) = jobsDuring(widenNarrowScan(scan))
    assert(scanJobs == 0, s"widening a scan ran $scanJobs job(s)")
    widened.queryExecution.logical match {
      case r: org.apache.spark.sql.catalyst.plans.logical.Repartition =>
        assert(r.numPartitions == cores)
      case p => fail(s"the narrow scan was not widened: $p")
    }
    // the aggregate's sparkPlan has no Exchange yet (EnsureRequirements
    // runs later) — only its required child distribution
    val agg = scan.groupBy("lang").count()
    val (kept, aggJobs) = jobsDuring(widenNarrowScan(agg))
    assert(aggJobs == 0, s"widening an aggregate ran $aggJobs job(s)")
    assert(kept eq agg)
  }

  /** Materialized local checkpoints held by the context: the pins
    * [[FixtureStore.clearRddCaches]] exempts. */
  private def localPins: Int =
    spark.sparkContext.getPersistentRDDs.values
      .count(r => r.isCheckpointed && r.getCheckpointFile.isEmpty)

  test("curation_e2e pins nothing per run: a second run leaves no " +
    "more local checkpoints than the first") {
    val q = SparkEntry.queries("curation_e2e")
    // both result frames stay referenced: the ContextCleaner reclaims
    // an unreferenced checkpoint on GC, which would hide a per-run pin
    def runAndClear(): (org.apache.spark.sql.DataFrame, Int) = {
      val df = q(spark, d)
      Bench.forceFull(df)
      FixtureStore.clearRddCaches(spark)
      (df, localPins)
    }
    val (df1, first) = runAndClear()
    val (df2, second) = runAndClear()
    assert(second <= first,
      s"each run leaves one more pinned frame: $first -> $second")
    assert(df1.collect().toSeq == df2.collect().toSeq)
  }

  test("window_analytics pushes the orderkey filter into the scan") {
    val p = plan("window_analytics")
    assert(p.contains("PushedFilters: [") &&
      p.contains("LessThan(l_orderkey,200)"), p)
  }

  test("sql_q3 broadcasts the filtered customer side and plans top-10 " +
    "as TakeOrderedAndProject") {
    val p = plan("sql_q3")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(p.contains("TakeOrderedAndProject"), p)
    // the segment predicate reaches the customer scan
    assert(p.contains("EqualTo(c_mktsegment,BUILDING)"), p)
  }

  test("right_outer_join broadcasts the small nation side") {
    val p = plan("right_outer_join")
    assert(p.contains("BroadcastHashJoin"), p)
  }

  test("dpp_partitioned_fact prunes the month-partitioned fact scan " +
    "at runtime via a dynamicpruning subquery") {
    val p = plan("dpp_partitioned_fact")
    // the dim-filtered join on the partition column must reach the
    // fact scan as a runtime partition filter, not a full scan of all
    // month partitions
    assert(p.toLowerCase.contains("dynamicpruning"), p)
    assert(p.contains("BroadcastHashJoin"), p)
  }

  test("global_row_ids ranks inside value-derived buckets — the " +
    "corpus never collapses to a single-partition global window") {
    val p = plan("global_row_ids")
    // the per-piece rank window is partitioned by the literal-cut
    // bucket column (a pure row function — see contiguousRowIds
    // scaladoc), never an empty partition spec
    assert(p.contains("windowspecdefinition(__b"), p)
    assert(p.contains("row_number"), p)
    // no full-data re-sort keyed on the derived id
    assert(!p.contains("rangepartitioning(row_id"), p)
    // offsets ride a broadcast join, not a shuffled one
    assert(p.contains("BroadcastHashJoin"), p)
  }

  test("conditional_agg is a partial+final hash aggregate") {
    val p = plan("conditional_agg")
    assert(p.contains("partial_"), p)
    assert("HashAggregate".r.findAllIn(p).size >= 2, p)
  }

  test("unpivot keeps the exact-decimal sums partial+final before melt") {
    val p = plan("unpivot_agg")
    // r16: the exact sums are the native dsum_exact aggregate; the
    // property under test is unchanged — map-side partials before
    // the exchange, the melt after the final fold
    assert(p.contains("partial_dsum_exact") || p.contains("partial_sum"), p)
    assert(p.contains("Expand") || p.contains("Unpivot"), p)
  }

  test("salted_join shuffles on (key, salt), not a plain-key exchange") {
    val p = plan("salted_join")
    // the join keys include the salt column on both sides
    assert(p.contains("__salt"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("lateral_join decorrelates — no cartesian, no per-row subquery") {
    val p = plan("lateral_join")
    assert(!p.contains("CartesianProduct"), p)
    // Catalyst rewrites the correlated LATERAL to a join + window/limit
    assert(p.contains("Join") || p.contains("Window"), p)
  }

  test("multimodal_meta reads only the needed columns") {
    val p = plan("multimodal_meta")
    // documents has text/lang/source/n_chars; lang+source+n_chars are
    // not needed by this query and must be pruned from the scan
    assert(p.contains("ReadSchema"), p)
    assert(!p.contains("n_chars"), p)
  }

  test("funnel_conversion shuffles the events ONCE on the entity key " +
    "— chained step windows and the per-entity collapse reuse it") {
    val p = plan("funnel_conversion")
    assert("Exchange hashpartitioning\\(user_id".r.findAllIn(p).size == 1,
      p)
    // three chained conditional-min windows over the same partitioning
    assert("Window \\[min".r.findAllIn(p).size == 3, p)
    // the only other exchange is the 3-counter global rollup
    assert(p.contains("Exchange SinglePartition"), p)
  }

  test("retention_cohorts shuffles entities once; the distinct " +
    "collapses on the entity partitioning before the cohort-grain agg") {
    val p = plan("retention_cohorts")
    assert("Exchange hashpartitioning\\(user_id".r.findAllIn(p).size == 1,
      p)
  }

  test("bm25_rank plans its top-k as TakeOrderedAndProject, never a " +
    "global sort — and the one-stats-frame shape holds: no join of " +
    "separately-shuffled tf/dlen/df tables") {
    val p = plan("bm25_rank")
    assert(p.contains("TakeOrderedAndProject"), p)
    // per-doc tf+dlen come from ONE aggregation; df/avgdl from a tiny
    // broadcast stats row — a SortMergeJoin would mean the old
    // three-agg + re-shuffling-join shape regressed
    assert(!p.contains("SortMergeJoin"), p)
    assert(p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("bm25_indexed pushes the term filter into the postings scan " +
    "— query cost is the matching postings, not the corpus") {
    val p = plan("bm25_indexed")
    assert(p.contains("PushedFilters") && p.contains("In(token"), p)
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("skew_histogram is partial+final agg with a top-k, and the " +
    "total is a broadcast scalar (no driver-side histogram)") {
    val p = plan("skew_histogram")
    assert(p.contains("partial_"), p)
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(p.contains("BroadcastNestedLoopJoin") ||
      p.contains("BroadcastExchange"), p)
  }

  test("sql_q5 broadcast-chains the dimension hops of the 6-table " +
    "star traversal") {
    val p = plan("sql_q5")
    // region/nation/supplier (and customer at this SF) broadcast;
    // only the orders⋈lineitem spine may shuffle
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 3, p)
    // the region filter reaches the region scan
    assert(p.contains("EqualTo(r_name,ASIA)"), p)
  }

  test("runtime bloom filter from a selective dim filter reaches the " +
    "fact side of a shuffle join — and never changes the answer") {
    import org.apache.spark.sql.functions._
    val li = Tables.lineitem(spark, d)
    val dim = Tables.orders(spark, d)
      .filter(col("o_totalprice") > 400000)
      .select("o_orderkey", "o_orderstatus")
    def joined = li.join(dim, col("l_orderkey") === col("o_orderkey"))
      .groupBy("o_orderstatus").agg(count(lit(1)).as("n"))
      .orderBy("o_orderstatus")
    // ground truth under default planning (broadcast join, no bloom)
    val expected = joined.collect().toSeq

    // at bench/test SF the fact side is far below the 10 GB
    // application-side threshold and the dim side broadcasts; lower
    // both so the plan is the 100 TB shape — a shuffle join whose
    // fact scan Spark guards with a bloom filter built from the
    // filtered dim keys (the runtime row-level twin of DPP's
    // partition-level pruning)
    val confs = Seq(
      "spark.sql.optimizer.runtime.bloomFilter.enabled" -> "true",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold" -> "0",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1")
    val saved = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      val p = joined.queryExecution.executedPlan.toString
      assert(p.toLowerCase.contains("might_contain"), p)
      assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin"),
        p)
      // semantics-preserving: bloom false positives only ever let
      // extra rows THROUGH to the exact join, never drop matches
      assert(joined.collect().toSeq == expected)
    } finally saved.foreach { case (k, vOpt) =>
      vOpt.fold(spark.conf.unset(k))(spark.conf.set(k, _))
    }
  }

  test("sql_q17 decorrelates the per-part average into an aggregate + " +
    "join — no per-row subquery execution") {
    val p = plan("sql_q17")
    // the correlated scalar subquery must be gone from the physical
    // plan: its per-part aggregate runs ONCE as a grouped HashAggregate
    // joined back on l_partkey
    assert(!p.contains("InSubquery"), p)
    assert(p.contains("HashAggregate(keys=[l_partkey"), p)
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 2, p)
    // the brand predicate reaches the part scan
    assert(p.contains("EqualTo(p_brand,Brand#12)"), p)
  }

  test("sql_q18 plans the HAVING-in-subquery as a semi-join against " +
    "the aggregated orders, with top-k as TakeOrderedAndProject") {
    val p = plan("sql_q18")
    assert(!p.contains("InSubquery"), p)
    assert(p.contains("LeftSemi"), p)
    // the inner aggregate over every order is partial+final
    assert(p.contains("partial_sum") || p.contains("partial_dsum_exact"), p)
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("sql_q20 decorrelates both nested INs to semi-joins and pushes " +
    "the name prefix into the part scan") {
    val p = plan("sql_q20")
    assert(!p.contains("InSubquery"), p)
    assert("LeftSemi".r.findAllIn(p).size >= 2, p)
    assert(p.contains("StringStartsWith(p_name,red)"), p)
  }

  test("sql_q21 decorrelates EXISTS to a semi-join and NOT EXISTS to " +
    "an anti-join — no per-row subquery probes") {
    val p = plan("sql_q21")
    assert(!p.contains("InSubquery"), p)
    assert(p.contains("LeftSemi"), p)
    assert(p.contains("LeftAnti"), p)
    // the returnflag predicate reaches the l1 lineitem scan
    assert(p.contains("EqualTo(l_returnflag,R)"), p)
  }

  test("sql_q22 plans the scalar mean once (no per-row subquery) and " +
    "the dormancy NOT EXISTS as an anti-join on a date-filtered scan") {
    val p = plan("sql_q22")
    assert(!p.contains("InSubquery"), p)
    assert(p.contains("LeftAnti"), p)
    // the uncorrelated mean is a one-shot scalar subquery, not a join
    assert(p.contains("Subquery subquery") ||
      p.contains("scalar-subquery"), p)
    // the dormancy date predicate reaches the orders scan
    assert(p.contains("o_orderdate"), p)
  }

  test("sql_q4 plans EXISTS as one semi-join and pushes the date " +
    "window into the orders scan") {
    val p = plan("sql_q4")
    assert(!p.contains("InSubquery"), p)
    assert(p.contains("LeftSemi"), p)
    assert(p.contains("GreaterThanOrEqual(o_orderdate"), p)
  }

  test("sql_q19 decomposes the OR-of-ANDs: the part-side disjunction " +
    "is pushed into the part scan, not evaluated post-join") {
    val p = plan("sql_q19")
    // the derived single-side predicates must reach BOTH scans as
    // pushed disjunctions: brand∧size branches on part, quantity
    // ranges on lineitem (nested Or(Or(And(... in PushedFilters)
    // (plan .toString truncates long filter lists — assert the
    // untruncated prefix of the pushed disjunction plus the full
    // branch predicate visible in the Filter node)
    assert(p.contains("Or(Or(And(EqualTo(p_brand"), p)
    assert(p.contains("Or(Or(And(GreaterThanOrEqual(l_quantity,1.0)"), p)
    assert(p.contains("= Brand#12)"), p)
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("sql_q2 decorrelates the scalar min into a grouped aggregate + " +
    "join — no per-row subquery; the region filter reaches both " +
    "region scans") {
    val p = plan("sql_q2")
    assert(!p.contains("InSubquery"), p)
    // the correlated min runs ONCE as a per-part HashAggregate
    assert(p.contains("HashAggregate(keys=[l_partkey"), p)
    assert("EqualTo\\(r_name,EUROPE\\)".r.findAllIn(p).size >= 2, p)
    // the size predicate reaches the part scan
    assert(p.contains("EqualTo(p_size,15)"), p)
  }

  test("sql_q7 keeps both nation joins broadcast and the shipdate " +
    "window pushed into the lineitem scan") {
    val p = plan("sql_q7")
    // nation (twice), supplier, customer are all broadcast-sized: the
    // only shuffles belong to the lineitem-orders spine and the agg
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 3, p)
    assert(p.contains("GreaterThanOrEqual(l_shipdate"), p)
    assert(p.contains("partial_sum") || p.contains("partial_dsum_exact"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("sql_q8 broadcast-chains the 8-table traversal; the region and " +
    "type filters reach their scans; the share is partial+final") {
    val p = plan("sql_q8")
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 4, p)
    assert(p.contains("EqualTo(r_name,ASIA)"), p)
    assert(p.contains("EqualTo(p_type,ECONOMY)"), p)
    assert(p.contains("partial_sum") || p.contains("partial_dsum_exact"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("sql_q13 keeps the priority filter inside the LEFT join (not " +
    "pushed to a WHERE that would drop order-less customers) and " +
    "aggregates partial+final") {
    val p = plan("sql_q13")
    // the ON-clause filter sits on the orders BUILD side as a scan
    // predicate — correct and scale-right; customers survive unmatched
    assert(p.contains("Not(EqualTo(o_orderpriority,1-URGENT))"), p)
    assert(p.toLowerCase.contains("leftouter"), p)
    assert(p.contains("partial_count"), p)
  }

  test("sql_q16 plans NOT IN as an anti-join (no per-row probe) and " +
    "count-distinct as the two-phase distinct aggregate") {
    val p = plan("sql_q16")
    assert(!p.contains("InSubquery"), p)
    assert(p.contains("LeftAnti"), p)
    // distinct-agg: keys include l_suppkey in the partial phase
    assert(p.contains("partial_count(distinct") ||
      p.contains("l_suppkey#"), p)
    assert(p.contains("TakeOrderedAndProject"), p)
    // the size IN-list reaches the part side before the join (the
    // PushedFilters rendering truncates; the Filter node shows it)
    assert(p.contains("p_size#") && p.contains("IN (1,4,9,14,23,36,45,49)"),
      p)
  }

  test("sql_q6 is scan + partial/final aggregate only: every " +
    "predicate pushed into the lineitem scan, zero hash exchanges") {
    val p = plan("sql_q6")
    // the PushedFilters rendering truncates the list — assert its
    // head plus the full predicates visible in the Filter node
    assert(p.contains("PushedFilters: [IsNotNull(l_shipdate)"), p)
    assert(p.contains(">= 1996-01-01 00:00:00"), p)
    assert(p.contains("l_discount") && p.contains(">= 0.05"), p)
    assert(p.contains("l_quantity") && p.contains("< 24.0"), p)
    assert(p.contains("partial_sum") || p.contains("partial_dsum_exact"), p)
    assert(!p.contains("Exchange hashpartitioning"), p)
    assert(!p.contains("Join"), p)
  }

  test("sql_q9 pushes the p_name LIKE into the part scan and keeps " +
    "the part/supplier/nation joins broadcast") {
    val p = plan("sql_q9")
    assert(p.contains("StringContains(p_name,bolt)"), p)
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
    assert(p.contains("partial_sum") || p.contains("partial_dsum_exact"), p)
  }

  test("sql_q11 plans the global total as a one-shot scalar subquery " +
    "feeding the HAVING — not a per-group or per-row recompute") {
    val p = plan("sql_q11")
    assert(p.contains("Subquery subquery") ||
      p.contains("scalar-subquery"), p)
    assert(!p.contains("CartesianProduct"), p)
    // the nation filter reaches the tiny dims, the agg is two-phase
    assert(p.contains("EqualTo(n_name,NATION_7)"), p)
    assert(p.contains("partial_sum") || p.contains("partial_dsum_exact"), p)
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("sql_q12 pushes the returnflag IN into the lineitem scan; the " +
    "cross-table lateness predicate evaluates post-join") {
    val p = plan("sql_q12")
    assert(p.contains("In(l_returnflag"), p)
    // l_shipdate > o_orderdate + 30d spans the join: it must appear
    // in a join condition or post-join filter, never a scan filter
    assert(!p.contains("PushedFilters: [IsNotNull(l_shipdate), " +
      "GreaterThan(l_shipdate"), p)
    assert(p.contains("partial_sum") || p.contains("partial_dsum_exact"), p)
  }

  test("sql_q14 prunes the shipdate month at the scan and computes " +
    "both conditional sums in ONE aggregate pass over the join") {
    val p = plan("sql_q14")
    assert(p.contains("GreaterThanOrEqual(l_shipdate"), p)
    assert(p.contains("BroadcastHashJoin"), p)
    // one aggregate carrying two partial sums — not two scans
    assert("partial_(dsum_exact|sum)".r.findAllIn(p).size >= 2, p)
    assert("BroadcastHashJoin".r.findAllIn(
      p.split("== Initial Plan ==").head).size == 1, p)
  }

  test("anti_join_bloom routes rows through a narrow bloom probe — " +
    "the filter sits before the anti-join on the candidate branch") {
    val p = plan("anti_join_bloom")
    assert(p.contains("bloom_might_contain"), p)
    assert(p.contains("LeftAnti"), p)
  }

  test("gapfill_resample aggregates hourly counts partial+final and " +
    "windows on the type key — one exchange family, no cartesian") {
    val p = plan("gapfill_resample")
    assert(p.contains("partial_count") || p.contains("partial_"), p)
    assert(p.contains("Window"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("ccnet_buckets ranks inside per-(lang, score-bucket) windows " +
    "with broadcast offsets — never a whole-language total-order " +
    "sort in one window partition") {
    val p = plan("ccnet_buckets")
    // the rank window's partition spec carries the value-bucket
    // column next to the language key (keyedRanks)
    assert("windowspecdefinition\\(lang#\\d+, __b#\\d+, lm_logprob#"
      .r.findFirstIn(p).isDefined, p)
    // the single-key rank window this replaced must not reappear
    assert("windowspecdefinition\\(lang#\\d+, lm_logprob#"
      .r.findFirstIn(p).isEmpty, p)
    // bucket offsets attach by broadcast, not a shuffled join
    assert(p.contains("BroadcastHashJoin"), p)
  }

  test("corpus-signal gram folds are windowless groupBy aggregations " +
    "(skew-splittable) — a hot gram can never pin one window task") {
    for (q <- Seq("corpus_dup_ngrams", "dup_span_coverage",
        "dup_span_strip")) {
      val p = plan(q)
      assert(!p.contains("windowspecdefinition"),
        s"$q:\n${p.take(1500)}")
      assert(p.contains("partial_"), s"$q:\n${p.take(1500)}")
    }
  }

  test("top_ngrams counts at digest grain and ranks in bucket-local " +
    "windows — gram strings never key a corpus-grain shuffle and no " +
    "language's vocabulary sorts in one task") {
    val p = plan("top_ngrams")
    // the vocabulary rank window carries the hash bucket next to the
    // language key (ties-inclusive bucket-local rank)
    assert("windowspecdefinition\\(lang#\\d+, __tb#\\d+"
      .r.findFirstIn(p).isDefined, p)
    // the naive form's (lang, gram) string-keyed count shuffle must
    // not reappear (the winner-grain distinct keys on digests first,
    // so this regex cannot match it)
    assert("hashpartitioning\\(lang#\\d+, gram#"
      .r.findFirstIn(p).isEmpty, p)
    // candidate pruning reaches the instances as a broadcast semi
    assert(p.contains("BroadcastHashJoin") && p.contains("LeftSemi"), p)
  }

  test("mad_outlier_gate's only corpus-grain aggregation is the " +
    "(lang, value) histogram fold, map-side combined; the gate " +
    "attaches stats by broadcast") {
    val p = plan("mad_outlier_gate")
    assert("hashpartitioning\\(lang#\\d+, __val#\\d+"
      .r.findFirstIn(p).isDefined, p)
    assert(p.contains("partial_count"), p)
    assert(p.contains("BroadcastHashJoin"), p)
  }

  test("keyed_p90_exact ranks ONLY the single target bucket: the " +
    "rank window carries the value bucket next to the key, and no " +
    "whole-key rank window exists") {
    val p = plan("keyed_p90_exact")
    assert("windowspecdefinition\\(lang#\\d+, __b#\\d+, __v#"
      .r.findFirstIn(p).isDefined, p)
    assert("windowspecdefinition\\(lang#\\d+, __v#"
      .r.findFirstIn(p).isEmpty, p)
  }

  test("semanticDedup's pair join pins a fixed-width repartition " +
    "(REPARTITION_BY_NUM) so AQE's byte-based coalescing cannot " +
    "collapse the compute-dense quadratic stage, and salts when " +
    "clusters are fewer than cores") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{array, lit}
    val paired = Seq((0L, 1L), (0L, 2L), (1L, 3L)).toDF("__cluster", "id")
      .withColumn("vec", array(lit(1.0), lit(0.0)))
    // 2 clusters on a local[>2] session → salted path
    val salted = graft.ext.VectorOps
      .clusterPairJoin(paired, "id", "vec", nClusters = 2L)
    val ps = salted.queryExecution.executedPlan.toString
    assert(ps.contains("REPARTITION_BY_NUM"), ps)
    assert(ps.contains("__salt"), ps)
    // k ≥ cores → plain path, still width-pinned
    val plain = graft.ext.VectorOps.clusterPairJoin(paired, "id", "vec",
      nClusters = 10000L)
    val pp = plain.queryExecution.executedPlan.toString
    assert(pp.contains("REPARTITION_BY_NUM"), pp)
    assert(!pp.contains("__salt"), pp)
    // salted and plain joins produce the same (a, b) pair set
    val key = (df: org.apache.spark.sql.DataFrame) => df
      .select("__id_a", "__id_b").as[(Long, Long)].collect().toSet
    assert(key(salted) == key(plain))
  }
}
