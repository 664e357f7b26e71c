package graft.queries

import org.apache.spark.sql.functions._
import graft.Tables

/** Join/SQL-surface battery: the join types not yet covered by a
  * query (right outer, cross), null-safe equality, conditional
  * aggregates, the higher-order function family, and a full
  * SQL-text query through `spark.sql` over registered views — the
  * demonstration that the engine's SQL interface (not just the
  * DataFrame API) runs end-to-end with identical semantics.
  */
object SurfaceQueries {

  /** The dpp_partitioned_fact FIXTURE — a month-partitioned lineitem
    * plus a month dimension — built once per (session, sf dir): a
    * production store is not rebuilt per query, and the query under
    * test is the dim-filtered DPP join, not the store write. */
  private def dppStore(s: org.apache.spark.sql.SparkSession,
                       d: String): String =
    FixtureStore.buildOnce(s, "dpp", d) { dir =>
      graft.io.Staging.overwritePartitionsDynamic(
        Tables.lineitem(s, d).withColumn("dt",
          date_format(col("l_shipdate"), "yyyy-MM")),
        dir, "fact_lineitem", Seq("dt"))
      graft.io.Staging.overwriteParquet(
        Tables.orders(s, d)
          .select(date_format(col("o_orderdate"), "yyyy-MM").as("dt"),
            year(col("o_orderdate")).as("yr"))
          .distinct(),
        dir, "dim_month")
    }

  /** Build-once z-ordered orders store (same rationale as
    * [[dppStore]]: the fixture write is not the query under test). */
  private def zorderStore(s: org.apache.spark.sql.SparkSession,
                          d: String): String =
    FixtureStore.buildOnce(s, "zorder", d) { dir =>
      graft.io.Staging.writeZOrdered(Tables.orders(s, d), dir,
        "orders_z", "o_custkey", "o_orderkey", files = 8)
    }

  val defs: Map[String, QueryDef] = Map(

    // Right outer join: all suppliers kept, nation attrs where matched
    // (on a filtered nation side so unmatched rows actually occur).
    "right_outer_join" -> QueryDef(
      (s, d) => Tables.nation(s, d)
        .filter(col("n_nationkey") < 10)
        .join(Tables.supplier(s, d),
          col("n_nationkey") === col("s_nationkey"), "right_outer")
        .select("s_suppkey", "s_name", "n_name")
        .orderBy("s_suppkey"),
      Some("""SELECT s_suppkey, s_name, n_name
        |FROM (SELECT * FROM nation WHERE n_nationkey < 10) n
        |RIGHT JOIN supplier s ON n.n_nationkey = s.s_nationkey
        |ORDER BY s_suppkey""".stripMargin)),

    // Cross join (small x small): every region-nation combination.
    "cross_join" -> QueryDef(
      (s, d) => Tables.region(s, d)
        .crossJoin(Tables.nation(s, d))
        .select("r_name", "n_name")
        .orderBy("r_name", "n_name"),
      Some("""SELECT r_name, n_name FROM region CROSS JOIN nation
        |ORDER BY r_name, n_name""".stripMargin)),

    // Null-safe equality (<=> / IS NOT DISTINCT FROM): join events to
    // themselves on a nullable JSON field where NULL must match NULL.
    "null_safe_eq" -> QueryDef(
      (s, d) => {
        val e = Tables.events(s, d)
          .select(col("event_id"),
            get_json_object(col("props"), "$.country").as("country"))
        val counts = e.groupBy("country")
          .agg(count(lit(1)).as("n_same_country"))
        e.join(counts, e("country") <=> counts("country"))
          .select("event_id", "n_same_country")
          .orderBy("event_id")
      },
      Some("""WITH e AS (SELECT event_id,
        |    props ->> '$.country' AS country FROM events),
        |c AS (SELECT country, count(*) AS n_same_country
        |      FROM e GROUP BY country)
        |SELECT e.event_id, c.n_same_country
        |FROM e JOIN c ON e.country IS NOT DISTINCT FROM c.country
        |ORDER BY e.event_id""".stripMargin)),

    // Conditional aggregates: count_if / bool_or / bool_and /
    // FILTERed sums.
    "conditional_agg" -> QueryDef(
      (s, d) => Tables.orders(s, d)
        .groupBy("o_orderpriority")
        .agg(
          count_if(col("o_totalprice") > 100000).as("n_big"),
          bool_or(col("o_orderstatus") === "F").as("any_f"),
          bool_and(col("o_totalprice") > 0).as("all_positive"),
          QueryDef.dsum(when(col("o_orderstatus") === "O",
            col("o_totalprice")).otherwise(lit(0.0))).as("open_total"))
        .orderBy("o_orderpriority"),
      Some(s"""SELECT o_orderpriority,
        |  count(*) FILTER (o_totalprice > 100000) AS n_big,
        |  bool_or(o_orderstatus = 'F') AS any_f,
        |  bool_and(o_totalprice > 0) AS all_positive,
        |  ${QueryDef.dsumSql(
              "CASE WHEN o_orderstatus = 'O' THEN o_totalprice ELSE 0.0 END")}
        |    AS open_total
        |FROM orders GROUP BY o_orderpriority
        |ORDER BY o_orderpriority""".stripMargin)),

    // Higher-order function family over a per-row generated array:
    // transform / filter / aggregate / exists / forall / zip_with.
    "hof_funcs" -> QueryDef(
      (s, d) => Tables.part(s, d)
        .filter(col("p_partkey") <= 200)
        .select(col("p_partkey"),
          sequence(lit(1L), (col("p_partkey") % 5) + 1).as("xs"))
        .select(col("p_partkey"),
          aggregate(transform(col("xs"), x => x * x), lit(0L),
            (acc, v) => acc + v).as("sum_sq"),
          size(filter(col("xs"), _ % 2 === 0)).as("n_even"),
          exists(col("xs"), _ > 4).as("has_gt4"),
          forall(col("xs"), _ > 0).as("all_pos"),
          aggregate(zip_with(col("xs"), col("xs"), (a, b) => a * b),
            lit(0L), (acc, v) => acc + v).as("dot_self"))
        .orderBy("p_partkey"),
      Some("""WITH t AS (SELECT p_partkey,
        |    range(1, (p_partkey % 5) + 2) AS xs
        |  FROM part WHERE p_partkey <= 200)
        |SELECT p_partkey,
        |  CAST(list_sum(list_transform(xs, x -> x * x)) AS BIGINT) AS sum_sq,
        |  len(list_filter(xs, x -> x % 2 = 0)) AS n_even,
        |  len(list_filter(xs, x -> x > 4)) > 0 AS has_gt4,
        |  len(list_filter(xs, x -> x <= 0)) = 0 AS all_pos,
        |  CAST(list_sum(list_transform(xs, x -> x * x)) AS BIGINT) AS dot_self
        |FROM t ORDER BY p_partkey""".stripMargin)),

    // Explicit salted join: result-identical to the plain join (the
    // oracle IS the plain join), with the hot-key rows spread across
    // 8 salt partitions — the skew tool for joins AQE can't reach
    // (stateful streaming, agg-over-join). Equality with the unsalted
    // join is also property-checked in GraftProperties.
    "salted_join" -> QueryDef(
      (s, d) => {
        val li = Tables.lineitem(s, d)
          .select(col("l_partkey").as("p_partkey"), col("l_quantity"))
        graft.ops.Relational.saltedJoin(li,
            Tables.part(s, d).select("p_partkey", "p_brand"),
            Seq("p_partkey"), nSalts = 8)
          .groupBy("p_brand")
          .agg(count(lit(1)).as("n"),
            QueryDef.dsum(col("l_quantity")).as("sum_qty"))
          .orderBy("p_brand")
      },
      Some(s"""SELECT p_brand, count(*) AS n,
        |  ${QueryDef.dsumSql("l_quantity")} AS sum_qty
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |GROUP BY p_brand ORDER BY p_brand""".stripMargin)),

    // Frequent-items sketch with an exactness invariant: every value
    // whose exact support is >= 15% MUST appear in the 10%-support
    // sketch (freqItems guarantees no false negatives above its
    // support), so the oracle asserts the exact heavy hitters and
    // TRUE. The sketch's false positives never enter the output.
    "freq_items" -> QueryDef(
      (s, d) => {
        val orders = Tables.orders(s, d)
        val sketch = orders.stat
          .freqItems(Seq("o_orderpriority"), 0.1)
          .select(col("o_orderpriority_freqItems").as("__items"))
        val total = orders.count()
        orders.groupBy("o_orderpriority")
          .agg(count(lit(1)).as("n"))
          .filter(col("n") >= total * 0.15)
          .crossJoin(broadcast(sketch))
          .withColumn("in_sketch",
            array_contains(col("__items"), col("o_orderpriority")))
          .select("o_orderpriority", "n", "in_sketch")
          .orderBy("o_orderpriority")
      },
      Some("""SELECT o_orderpriority, count(*) AS n, TRUE AS in_sketch
        |FROM orders GROUP BY o_orderpriority
        |HAVING count(*) >= 0.15 * (SELECT count(*) FROM orders)
        |ORDER BY o_orderpriority""".stripMargin)),

    // Correlated LATERAL derived table: per-nation top-2 customers by
    // balance — the "top-N per group as a join" formulation (vs the
    // window-function form in topn_per_key), via SQL-text LATERAL on
    // both engines.
    "lateral_join" -> QueryDef(
      (s, d) => {
        Tables.nation(s, d).createOrReplaceTempView("v_nation")
        Tables.customer(s, d).createOrReplaceTempView("v_customer")
        s.sql("""SELECT n_name, t.c_name, t.c_acctbal
          |FROM v_nation,
          |LATERAL (SELECT c_name, c_acctbal FROM v_customer
          |         WHERE c_nationkey = n_nationkey
          |         ORDER BY c_acctbal DESC, c_name LIMIT 2) t
          |ORDER BY n_name, t.c_acctbal DESC, t.c_name""".stripMargin)
      },
      Some("""SELECT n_name, t.c_name, t.c_acctbal
        |FROM nation,
        |LATERAL (SELECT c_name, c_acctbal FROM customer
        |         WHERE c_nationkey = n_nationkey
        |         ORDER BY c_acctbal DESC, c_name LIMIT 2) t
        |ORDER BY n_name, t.c_acctbal DESC, t.c_name""".stripMargin)),

    // The try_ ANSI-safety family: errors become NULL instead of
    // failing the job — division by zero, unparseable casts,
    // overflowing arithmetic.
    "try_funcs" -> QueryDef(
      (s, d) => Tables.orders(s, d)
        .filter(col("o_orderkey") <= 100)
        .select(col("o_orderkey"),
          try_divide(col("o_totalprice"),
            col("o_orderkey") % 3).as("div3"),
          when(col("o_orderkey") % 2 === 0, lit("nope"))
            .otherwise(col("o_orderkey").cast("string"))
            .try_cast("bigint").as("maybe_long"),
          try_element_at(array(lit(10L), lit(20L), lit(30L)),
            (col("o_orderkey") % 5 + 1).cast("int")).as("maybe_elem"))
        .orderBy("o_orderkey"),
      Some("""SELECT o_orderkey,
        |  o_totalprice / nullif(o_orderkey % 3, 0) AS div3,
        |  TRY_CAST(CASE WHEN o_orderkey % 2 = 0 THEN 'nope'
        |    ELSE CAST(o_orderkey AS VARCHAR) END AS BIGINT) AS maybe_long,
        |  list_extract([10, 20, 30],
        |    CAST(o_orderkey % 5 + 1 AS INT)) AS maybe_elem
        |FROM orders WHERE o_orderkey <= 100
        |ORDER BY o_orderkey""".stripMargin)),

    // Structured JSON parse: from_json with an explicit schema (vs
    // the per-field get_json_object path in json_extract), fields
    // accessed by dot reference.
    "from_json_struct" -> QueryDef(
      (s, d) => {
        val schema = org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("country",
            org.apache.spark.sql.types.StringType),
          org.apache.spark.sql.types.StructField("device",
            org.apache.spark.sql.types.StringType)))
        Tables.events(s, d)
          .select(col("event_id"),
            from_json(col("props"), schema).as("p"))
          .select(col("event_id"), col("p.country").as("country"),
            col("p.device").as("device"))
          .orderBy("event_id")
      },
      Some("""SELECT event_id,
        |  props ->> '$.country' AS country,
        |  props ->> '$.device' AS device
        |FROM events ORDER BY event_id""".stripMargin)),

    // Array set operations: union/intersect/except of the token sets
    // of consecutive documents (sorted for determinism, sizes +
    // joined samples).
    "array_set_ops" -> QueryDef(
      (s, d) => {
        val docs = Tables.documents(s, d)
          .select(col("doc_id"),
            array_distinct(graft.ext.TextOps.tokens(col("text")))
              .as("tok"))
        val nxt = docs.select((col("doc_id") - 1).as("doc_id"),
          col("tok").as("tok2"))
        docs.join(nxt, Seq("doc_id"))
          .select(col("doc_id"),
            size(array_union(col("tok"), col("tok2"))).as("n_union"),
            size(array_intersect(col("tok"), col("tok2")))
              .as("n_intersect"),
            concat_ws(",", sort_array(
              array_except(col("tok"), col("tok2")))).as("only_first"))
          .orderBy("doc_id")
      },
      Some("""WITH t AS (SELECT doc_id,
        |    list_distinct(CASE WHEN length(trim(text)) = 0
        |      THEN []::VARCHAR[]
        |      ELSE regexp_split_to_array(lower(trim(text)), '\s+')
        |    END) AS tok FROM documents)
        |SELECT a.doc_id,
        |  CAST(len(list_distinct(a.tok || b.tok)) AS INT) AS n_union,
        |  CAST(len(list_intersect(a.tok, b.tok)) AS INT) AS n_intersect,
        |  coalesce(array_to_string(list_sort(list_filter(a.tok,
        |    x -> NOT list_contains(b.tok, x))), ','), '') AS only_first
        |FROM t a JOIN t b ON b.doc_id = a.doc_id + 1
        |ORDER BY a.doc_id""".stripMargin)),

    // regexp_extract_all: every digit run per document, as count +
    // joined list — the multi-match regex surface beyond the single
    // capture in string_funcs.
    "regex_extract_all" -> QueryDef(
      (s, d) => Tables.documents(s, d)
        .select(col("doc_id"),
          size(regexp_extract_all(col("text"), lit("\\d+"), lit(0)))
            .as("n_numbers"),
          concat_ws(",",
            regexp_extract_all(col("text"), lit("\\d+"), lit(0)))
            .as("numbers"))
        .orderBy("doc_id"),
      // DuckDB yields NULL (not an empty list) on zero matches where
      // Spark yields [] — coalesce to Spark's semantics
      Some("""SELECT doc_id,
        |  coalesce(CAST(len(regexp_extract_all(text, '\d+')) AS INT), 0)
        |    AS n_numbers,
        |  coalesce(array_to_string(regexp_extract_all(text, '\d+'), ','),
        |    '') AS numbers
        |FROM documents ORDER BY doc_id""".stripMargin)),

    // Map-type surface: per-user event counts built into a MAP column
    // (map_from_entries over sorted struct entries), then exploded
    // back to rows — the map round-trip is Spark-side, the flattened
    // result is the oracle.
    "map_funcs" -> QueryDef(
      (s, d) => Tables.events(s, d)
        // NULL map keys are a runtime error in Spark; exclude them
        // symmetrically on both sides
        .filter(col("event_type").isNotNull)
        .groupBy("user_id", "event_type").agg(count(lit(1)).as("n"))
        .groupBy("user_id")
        .agg(map_from_entries(sort_array(collect_list(
          struct(col("event_type"), col("n"))))).as("m"))
        .select(col("user_id"),
          explode(col("m")).as(Seq("event_type", "n")))
        .orderBy("user_id", "event_type"),
      Some("""SELECT user_id, event_type, count(*) AS n
        |FROM events WHERE event_type IS NOT NULL
        |GROUP BY user_id, event_type
        |ORDER BY user_id, event_type""".stripMargin)),

    // Full SQL-text query through spark.sql over registered views —
    // TPC-H Q3 shape (3-way join, filtered, grouped, ordered top-10)
    // with the exact-decimal revenue discipline.
    "sql_q3" -> QueryDef(
      (s, d) => {
        Tables.customer(s, d).createOrReplaceTempView("v_customer")
        Tables.orders(s, d).createOrReplaceTempView("v_orders")
        Tables.lineitem(s, d).createOrReplaceTempView("v_lineitem")
        QueryDef.graftSql(s, """SELECT o_orderkey,
          |  dsum_exact(l_extendedprice * (1 - l_discount)
          |) AS revenue,
          |  date_format(o_orderdate, 'yyyy-MM-dd') AS order_date
          |FROM v_customer
          |JOIN v_orders ON c_custkey = o_custkey
          |JOIN v_lineitem ON l_orderkey = o_orderkey
          |WHERE c_mktsegment = 'BUILDING'
          |GROUP BY o_orderkey, o_orderdate
          |ORDER BY revenue DESC, o_orderkey LIMIT 10""".stripMargin)
      },
      Some("""SELECT o_orderkey,
        |  CAST(sum(CAST(l_extendedprice * (1 - l_discount)
        |    AS DECIMAL(25,6))) AS DOUBLE) AS revenue,
        |  strftime(o_orderdate, '%Y-%m-%d') AS order_date
        |FROM customer
        |JOIN orders ON c_custkey = o_custkey
        |JOIN lineitem ON l_orderkey = o_orderkey
        |WHERE c_mktsegment = 'BUILDING'
        |GROUP BY o_orderkey, o_orderdate
        |ORDER BY revenue DESC, o_orderkey LIMIT 10""".stripMargin)),

    // TPC-H Q5 shape: the full 6-table star traversal (region →
    // nation → customer/supplier → orders → lineitem) with the
    // local-supplier condition — the deepest join chain in the
    // battery. Catalyst broadcast-chains the three dim hops and
    // shuffles only the orders⋈lineitem spine; revenue keeps the
    // exact-decimal discipline.
    "sql_q5" -> QueryDef(
      (s, d) => {
        Tables.region(s, d).createOrReplaceTempView("v_region")
        Tables.nation(s, d).createOrReplaceTempView("v_nation")
        Tables.customer(s, d).createOrReplaceTempView("v_customer")
        Tables.supplier(s, d).createOrReplaceTempView("v_supplier")
        Tables.orders(s, d).createOrReplaceTempView("v_orders")
        Tables.lineitem(s, d).createOrReplaceTempView("v_lineitem")
        QueryDef.graftSql(s, """SELECT n_name,
          |  dsum_exact(l_extendedprice * (1 - l_discount)
          |) AS revenue
          |FROM v_region
          |JOIN v_nation ON n_regionkey = r_regionkey
          |JOIN v_customer ON c_nationkey = n_nationkey
          |JOIN v_orders ON o_custkey = c_custkey
          |JOIN v_lineitem ON l_orderkey = o_orderkey
          |JOIN v_supplier ON s_suppkey = l_suppkey
          |  AND s_nationkey = c_nationkey
          |WHERE r_name = 'ASIA'
          |  AND o_orderdate >= DATE '1996-01-01'
          |  AND o_orderdate < DATE '1997-01-01'
          |GROUP BY n_name
          |ORDER BY revenue DESC, n_name""".stripMargin)
      },
      Some("""SELECT n_name,
        |  CAST(sum(CAST(l_extendedprice * (1 - l_discount)
        |    AS DECIMAL(25,6))) AS DOUBLE) AS revenue
        |FROM region
        |JOIN nation ON n_regionkey = r_regionkey
        |JOIN customer ON c_nationkey = n_nationkey
        |JOIN orders ON o_custkey = c_custkey
        |JOIN lineitem ON l_orderkey = o_orderkey
        |JOIN supplier ON s_suppkey = l_suppkey
        |  AND s_nationkey = c_nationkey
        |WHERE r_name = 'ASIA'
        |  AND o_orderdate >= DATE '1996-01-01'
        |  AND o_orderdate < DATE '1997-01-01'
        |GROUP BY n_name
        |ORDER BY revenue DESC, n_name""".stripMargin)),

    // TPC-H Q10 shape: returned-item revenue per customer, top 20 —
    // fact restricted map-side (returnflag filter BEFORE the join),
    // dims broadcast, top-k as TakeOrderedAndProject.
    "sql_q10" -> QueryDef(
      (s, d) => {
        Tables.customer(s, d).createOrReplaceTempView("v_customer")
        Tables.orders(s, d).createOrReplaceTempView("v_orders")
        Tables.lineitem(s, d).createOrReplaceTempView("v_lineitem")
        Tables.nation(s, d).createOrReplaceTempView("v_nation")
        QueryDef.graftSql(s, """SELECT c_custkey, c_name, n_name,
          |  dsum_exact(l_extendedprice * (1 - l_discount)
          |) AS revenue
          |FROM v_customer
          |JOIN v_orders ON o_custkey = c_custkey
          |JOIN v_lineitem ON l_orderkey = o_orderkey
          |JOIN v_nation ON n_nationkey = c_nationkey
          |WHERE l_returnflag = 'R'
          |GROUP BY c_custkey, c_name, n_name
          |ORDER BY revenue DESC, c_custkey LIMIT 20""".stripMargin)
      },
      Some("""SELECT c_custkey, c_name, n_name,
        |  CAST(sum(CAST(l_extendedprice * (1 - l_discount)
        |    AS DECIMAL(25,6))) AS DOUBLE) AS revenue
        |FROM customer
        |JOIN orders ON o_custkey = c_custkey
        |JOIN lineitem ON l_orderkey = o_orderkey
        |JOIN nation ON n_nationkey = c_nationkey
        |WHERE l_returnflag = 'R'
        |GROUP BY c_custkey, c_name, n_name
        |ORDER BY revenue DESC, c_custkey LIMIT 20""".stripMargin)),

    // TPC-H Q17 shape: correlated scalar subquery WITH AGGREGATE —
    // small-quantity orders for one brand, where "small" is 20% of
    // that part's own average quantity. Catalyst must DECORRELATE the
    // per-part average into an aggregate + join
    // (RewriteCorrelatedScalarSubquery); a per-row subquery execution
    // would be O(rows × corpus) — QueryPlanSpec asserts the executed
    // plan has no in-subquery and carries the decorrelated aggregate.
    // Determinism discipline: the threshold comparison is
    // `l_quantity * 5.0 < sum/cnt` where the sum is an exact decimal
    // cast to double — both engines then run the IDENTICAL IEEE
    // divide and compare, so the row set cannot drift on summation
    // order (the 0.2*avg(double) form would).
    "sql_q17" -> QueryDef(
      (s, d) => {
        Tables.part(s, d).createOrReplaceTempView("v_part")
        Tables.lineitem(s, d).createOrReplaceTempView("v_lineitem")
        QueryDef.graftSql(s, """SELECT round(dsum_exact(l_extendedprice
          |) / 7.0, 6) AS avg_yearly
          |FROM v_lineitem JOIN v_part ON p_partkey = l_partkey
          |WHERE p_brand = 'Brand#12'
          |  AND l_quantity * 5.0 <
          |    (SELECT CAST(sum(CAST(l2.l_quantity AS DECIMAL(25,6)))
          |       AS DOUBLE) / count(*)
          |     FROM v_lineitem l2 WHERE l2.l_partkey = p_partkey)"""
          .stripMargin)
      },
      Some("""SELECT round(CAST(sum(CAST(l_extendedprice
        |    AS DECIMAL(25,6))) AS DOUBLE) / 7.0, 6) AS avg_yearly
        |FROM lineitem JOIN part ON p_partkey = l_partkey
        |WHERE p_brand = 'Brand#12'
        |  AND l_quantity * 5.0 <
        |    (SELECT CAST(sum(CAST(l2.l_quantity AS DECIMAL(25,6)))
        |       AS DOUBLE) / count(*)
        |     FROM lineitem l2 WHERE l2.l_partkey = p_partkey)"""
        .stripMargin)),

    // TPC-H Q18 shape: HAVING-in-subquery over a LARGE group count —
    // the inner aggregate groups every order (~15k groups at the gate
    // SF, 874 survivors at threshold 200), and the outer 3-way join
    // keeps only those orders. The IN must plan as a semi-join against
    // the aggregated subquery (no per-row probe); quantities sum under
    // the exact-decimal discipline on both sides.
    "sql_q18" -> QueryDef(
      (s, d) => {
        Tables.customer(s, d).createOrReplaceTempView("v_customer")
        Tables.orders(s, d).createOrReplaceTempView("v_orders")
        Tables.lineitem(s, d).createOrReplaceTempView("v_lineitem")
        QueryDef.graftSql(s, """SELECT c_name, c_custkey, o_orderkey,
          |  date_format(o_orderdate, 'yyyy-MM-dd') AS order_date,
          |  o_totalprice,
          |  dsum_exact(l_quantity)
          |    AS total_qty
          |FROM v_customer
          |JOIN v_orders ON o_custkey = c_custkey
          |JOIN v_lineitem ON l_orderkey = o_orderkey
          |WHERE o_orderkey IN (
          |  SELECT l_orderkey FROM v_lineitem
          |  GROUP BY l_orderkey
          |  HAVING sum(CAST(l_quantity AS DECIMAL(25,6))) > 200)
          |GROUP BY c_name, c_custkey, o_orderkey, o_orderdate,
          |  o_totalprice
          |ORDER BY o_totalprice DESC, o_orderkey LIMIT 100"""
          .stripMargin)
      },
      Some("""SELECT c_name, c_custkey, o_orderkey,
        |  strftime(o_orderdate, '%Y-%m-%d') AS order_date,
        |  o_totalprice,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(25,6))) AS DOUBLE)
        |    AS total_qty
        |FROM customer
        |JOIN orders ON o_custkey = c_custkey
        |JOIN lineitem ON l_orderkey = o_orderkey
        |WHERE o_orderkey IN (
        |  SELECT l_orderkey FROM lineitem
        |  GROUP BY l_orderkey
        |  HAVING sum(CAST(l_quantity AS DECIMAL(25,6))) > 200)
        |GROUP BY c_name, c_custkey, o_orderkey, o_orderdate,
        |  o_totalprice
        |ORDER BY o_totalprice DESC, o_orderkey LIMIT 100"""
        .stripMargin)),

    // TPC-H Q20 shape: NESTED IN-subqueries (suppliers of name-matched
    // parts with above-threshold shipped volume — partsupp is not in
    // this schema, so lineitem is the part↔supplier bridge). Both INs
    // must decorrelate to semi-joins and the name LIKE must reach the
    // part scan as a pushed StringStartsWith; threshold 2000 splits
    // the supplier population near its median red-part volume.
    "sql_q20" -> QueryDef(
      (s, d) => {
        Tables.supplier(s, d).createOrReplaceTempView("v_supplier")
        Tables.nation(s, d).createOrReplaceTempView("v_nation")
        Tables.part(s, d).createOrReplaceTempView("v_part")
        Tables.lineitem(s, d).createOrReplaceTempView("v_lineitem")
        s.sql("""SELECT s_suppkey, s_name, n_name
          |FROM v_supplier JOIN v_nation ON s_nationkey = n_nationkey
          |WHERE s_suppkey IN (
          |  SELECT l_suppkey FROM v_lineitem
          |  WHERE l_partkey IN
          |    (SELECT p_partkey FROM v_part WHERE p_name LIKE 'red%')
          |  GROUP BY l_suppkey
          |  HAVING sum(CAST(l_quantity AS DECIMAL(25,6))) > 2000)
          |ORDER BY s_name, s_suppkey""".stripMargin)
      },
      Some("""SELECT s_suppkey, s_name, n_name
        |FROM supplier JOIN nation ON s_nationkey = n_nationkey
        |WHERE s_suppkey IN (
        |  SELECT l_suppkey FROM lineitem
        |  WHERE l_partkey IN
        |    (SELECT p_partkey FROM part WHERE p_name LIKE 'red%')
        |  GROUP BY l_suppkey
        |  HAVING sum(CAST(l_quantity AS DECIMAL(25,6))) > 2000)
        |ORDER BY s_name, s_suppkey""".stripMargin)),

    // Fixed-width histogram over a measure: bucket ids from
    // arithmetic both engines compute identically (floor of an
    // exact-rounded division); bucket count is data-dependent
    // (max/width — ~20 on this data). nulls-last ordering pins the
    // latent NULL-bucket row order to DuckDB's default.
    "price_histogram" -> QueryDef(
      (s, d) => Tables.orders(s, d)
        .select((floor(col("o_totalprice") / lit(25000.0))
          .cast("long")).as("bucket"))
        .groupBy("bucket")
        .agg(count(lit(1)).as("n"))
        .orderBy(col("bucket").asc_nulls_last),
      Some("""SELECT CAST(floor(o_totalprice / 25000.0) AS BIGINT)
        |    AS bucket,
        |  count(*) AS n
        |FROM orders GROUP BY 1 ORDER BY bucket""".stripMargin)),

    // SQL over CATALOG TABLES (not temp views): the D1/D2 DDL surface
    // exercised end-to-end — CREATE DATABASE / CREATE EXTERNAL TABLE
    // ... USING parquet LOCATION through graft.schema.CatalogDDL, then
    // a mart-build-shaped query (dim join + monthly rollup, the
    // fact_pemasukan/dim_waktu pattern of transformation_dw.py:122-160)
    // addressed by NAMED tables, as the reference's SQL layer does.
    // The database name is derived from the data dir so re-invocation
    // against a different SF registers fresh locations instead of
    // silently reading stale ones; IF NOT EXISTS makes re-runs (bench
    // warmup + timed passes) idempotent.
    "sql_catalog_mart" -> QueryDef(
      (s, d) => {
        val db = "graft_tpch_" + java.lang.Integer.toHexString(d.hashCode)
        graft.schema.CatalogDDL.ensureDatabase(s, db)
        Seq("customer", "orders", "lineitem", "nation").foreach { t =>
          graft.schema.CatalogDDL.ensureExternalTable(s, db, t,
            s"$d/$t.parquet")
        }
        QueryDef.graftSql(s, s"""SELECT n.n_name AS nation,
          |  date_format(o.o_orderdate, 'yyyy-MM') AS bulan,
          |  dsum_exact(l.l_extendedprice * (1 - l.l_discount)
          |) AS revenue,
          |  count(DISTINCT o.o_orderkey) AS n_orders
          |FROM `$db`.lineitem l
          |JOIN `$db`.orders o ON l.l_orderkey = o.o_orderkey
          |JOIN `$db`.customer c ON o.o_custkey = c.c_custkey
          |JOIN `$db`.nation n ON c.c_nationkey = n.n_nationkey
          |GROUP BY 1, 2
          |ORDER BY 1, 2""".stripMargin)
      },
      Some("""SELECT n.n_name AS nation,
        |  strftime(o.o_orderdate, '%Y-%m') AS bulan,
        |  CAST(sum(CAST(l.l_extendedprice * (1 - l.l_discount)
        |    AS DECIMAL(25,6))) AS DOUBLE) AS revenue,
        |  count(DISTINCT o.o_orderkey) AS n_orders
        |FROM lineitem l
        |JOIN orders o ON l.l_orderkey = o.o_orderkey
        |JOIN customer c ON o.o_custkey = c.c_custkey
        |JOIN nation n ON c.c_nationkey = n.n_nationkey
        |GROUP BY 1, 2
        |ORDER BY 1, 2""".stripMargin)),

    // Incrementally-maintained rollup (graft.etl.RollupMaintain): the
    // orders table arrives as THREE batches folded into a persisted
    // partial-aggregate store; the final read must equal the direct
    // aggregate over everything — which is exactly what the oracle
    // computes in one shot. O(batch + groups) per load instead of a
    // full rescan: the standing-aggregate pattern a 100 TB fact table
    // needs.
    "incremental_rollup" -> QueryDef(
      (s, d) => {
        val dir = FixtureStore.clearedScratchDir(s, "rollup", d)
        val orders = Tables.orders(s, d)
        (0 until 3).foreach { i =>
          graft.etl.RollupMaintain.updateRollup(s, dir, "by_status",
            orders.filter(pmod(col("o_orderkey"), lit(3)) === i),
            Seq("o_orderstatus"), "o_totalprice")
        }
        graft.etl.RollupMaintain.readFinal(s, dir, "by_status")
          .orderBy("o_orderstatus")
      },
      Some("""SELECT o_orderstatus,
        |  count(o_totalprice) AS n_rows,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(25,6))) AS DOUBLE)
        |    AS total,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(25,6))) AS DOUBLE) /
        |    count(o_totalprice) AS mean
        |FROM orders GROUP BY 1 ORDER BY o_orderstatus""".stripMargin)),

    // Targeted key deletion (right-to-be-forgotten): a copy of orders
    // committed partitioned by status, a deterministic set of customer
    // keys deleted partition-scoped, remaining rows aggregated. The
    // oracle filters the same keys directly — identical results prove
    // the delete version holds exactly the surviving rows.
    "delete_keys" -> QueryDef(
      (s, d) => {
        val dir = FixtureStore.clearedScratchDir(s, "del", d)
        val orders = Tables.orders(s, d)
        graft.io.VersionedStore.commitPartitioned(s, orders, dir,
          "orders_p", "o_orderstatus")
        val doomed = orders.filter(pmod(col("o_custkey"), lit(7)) === 0)
          .select("o_custkey")
        graft.io.VersionedStore.deleteKeysPartitioned(s, doomed, dir,
          "orders_p", "o_custkey")
        graft.io.VersionedStore.readTable(s, dir, "orders_p")
          .groupBy("o_orderstatus")
          .agg(count(lit(1)).as("n"),
            QueryDef.dsum(col("o_totalprice")).as("total"))
          .orderBy("o_orderstatus")
      },
      Some(s"""SELECT o_orderstatus, count(*) AS n,
        |  ${QueryDef.dsumSql("o_totalprice")} AS total
        |FROM orders WHERE o_custkey % 7 <> 0
        |GROUP BY 1 ORDER BY o_orderstatus""".stripMargin)),

    // The object-store-atomic store protocol (io.VersionedStore)
    // end-to-end under the oracle: a table built as three batches —
    // initial commit, keyed upsert, keyed delete — then batch 2
    // REPLAYED (the at-least-once crash-retry case): the batchId
    // dedup must acknowledge it without re-folding. The oracle
    // computes the same final state directly from orders; the
    // replay_idempotent boolean is hash-gated TRUE. Crash windows and
    // copy+delete-rename (object-store) semantics are drilled in
    // StoreOpsSpec.
    "versioned_store" -> QueryDef(
      (s, d) => {
        val dir = FixtureStore.clearedScratchDir(s, "vstore", d)
        val orders = Tables.orders(s, d)
        graft.io.VersionedStore.commit(s,
          orders.filter(pmod(col("o_orderkey"), lit(3)) === 0),
          dir, "o", Some("b1"))
        val n2 = graft.io.VersionedStore.mergeUpsert(s,
          orders.filter(pmod(col("o_orderkey"), lit(3)) === 1),
          dir, "o", "o_orderkey", Some("b2"))
        graft.io.VersionedStore.deleteKeys(s,
          orders.filter(pmod(col("o_custkey"), lit(7)) === 0)
            .select("o_custkey"),
          dir, "o", "o_custkey", Some("b3"))
        val nFinal = graft.io.VersionedStore
          .currentRowCount(s, dir, "o")
        // crash-retry replay of batch 2: must be an ack, not a re-fold
        // (a re-fold would resurrect the rows batch 3 deleted)
        val nReplay = graft.io.VersionedStore.mergeUpsert(s,
          orders.filter(pmod(col("o_orderkey"), lit(3)) === 1),
          dir, "o", "o_orderkey", Some("b2"))
        graft.io.VersionedStore.readTable(s, dir, "o")
          .groupBy("o_orderstatus")
          .agg(count(lit(1)).as("n"),
            QueryDef.dsum(col("o_totalprice")).as("total"))
          .withColumn("replay_idempotent", lit(nReplay == nFinal))
          .orderBy("o_orderstatus")
      },
      Some(s"""SELECT o_orderstatus, count(*) AS n,
        |  ${QueryDef.dsumSql("o_totalprice")} AS total,
        |  TRUE AS replay_idempotent
        |FROM orders
        |WHERE o_orderkey % 3 IN (0, 1) AND o_custkey % 7 <> 0
        |GROUP BY 1 ORDER BY o_orderstatus""".stripMargin)),

    // Partition-granular versioned commits (the VersionedStore
    // `*Partitioned` surface): the same three-batch protocol as
    // versioned_store but partitioned by o_orderstatus, each version
    // writing ONLY touched partitions and carrying the rest forward
    // by `_PARTS` manifest reference. Batch order puts the small
    // targeted upsert LAST (confined to status 'F'), so the final
    // manifest must reference ≥2 owner versions — carried_forward
    // hash-gates that untouched partitions really were carried by
    // reference, not rewritten. The b3 replay must be an ack. Crash
    // windows, owner-aware pruning, and byte-identity of carried
    // files are drilled in StoreOpsSpec.
    "versioned_store_partitioned" -> QueryDef(
      (s, d) => {
        val dir = FixtureStore.clearedScratchDir(s, "vstorep", d)
        val orders = Tables.orders(s, d)
        graft.io.VersionedStore.commitPartitioned(s,
          orders.filter(pmod(col("o_orderkey"), lit(3)) === 0),
          dir, "o", "o_orderstatus", Some("b1"))
        graft.io.VersionedStore.deleteKeysPartitioned(s,
          orders.filter(pmod(col("o_custkey"), lit(7)) === 0)
            .select("o_custkey"),
          dir, "o", "o_custkey", Some("b2"))
        val upd = orders.filter(pmod(col("o_orderkey"), lit(3)) === 1 &&
          col("o_orderstatus") === "F")
        val nFinal = graft.io.VersionedStore.mergeUpsertPartitioned(s,
          upd, dir, "o", "o_orderkey", "o_orderstatus", Some("b3"))
        // crash-retry replay of batch 3: must be an ack, not a re-fold
        val nReplay = graft.io.VersionedStore.mergeUpsertPartitioned(s,
          upd, dir, "o", "o_orderkey", "o_orderstatus", Some("b3"))
        val carried =
          graft.io.VersionedStore.ownerVersionCount(s, dir, "o") >= 2
        graft.io.VersionedStore.readTable(s, dir, "o")
          .groupBy("o_orderstatus")
          .agg(count(lit(1)).as("n"),
            QueryDef.dsum(col("o_totalprice")).as("total"))
          .withColumn("replay_idempotent", lit(nReplay == nFinal))
          .withColumn("carried_forward", lit(carried))
          .orderBy("o_orderstatus")
      },
      Some(s"""SELECT o_orderstatus, count(*) AS n,
        |  ${QueryDef.dsumSql("o_totalprice")} AS total,
        |  TRUE AS replay_idempotent, TRUE AS carried_forward
        |FROM orders
        |WHERE (o_orderkey % 3 = 0 AND o_custkey % 7 <> 0)
        |   OR (o_orderkey % 3 = 1 AND o_orderstatus = 'F')
        |GROUP BY 1 ORDER BY o_orderstatus""".stripMargin)),

    // Cross-table ATOMIC publish (io.MartStore): two derived tables
    // committed under ONE marker, then a subset re-publish (only
    // orders_lite rebuilds; status_counts carries forward at its v1
    // build), then the second batch REPLAYED. The snapshot joins the
    // two tables — the carried table still reflects its b1 build, so
    // the join's carried_n column is only right if carry-forward and
    // all-or-nothing resolution both work; replay_idempotent and
    // carried_forward hash-gate the commit count and per-table
    // versions. Mixed-read impossibility and crash windows are
    // drilled in MartStoreSpec.
    "mart_publish_atomic" -> QueryDef(
      (s, d) => {
        val dir = FixtureStore.clearedScratchDir(s, "martpub", d)
        val orders = Tables.orders(s, d)
        val sub = orders.filter(pmod(col("o_orderkey"), lit(3)) === 0)
        graft.io.MartStore.publishAll(s, Seq(
          "orders_lite" -> sub.select("o_orderkey", "o_custkey",
            "o_orderstatus", "o_totalprice"),
          "status_counts" -> sub.groupBy("o_orderstatus")
            .agg(count(lit(1)).as("carried_n"))), dir, Some("p1"))
        val full = orders.filter(pmod(col("o_custkey"), lit(7)) =!= 0)
          .select("o_orderkey", "o_custkey", "o_orderstatus",
            "o_totalprice")
        graft.io.MartStore.publishAll(s,
          Seq("orders_lite" -> full), dir, Some("p2"))
        // crash-retry replay of publish 2: ack, no third commit
        val snap = graft.io.MartStore.publishAll(s,
          Seq("orders_lite" -> full), dir, Some("p2"))
        val carried = snap.tables == Map("orders_lite" -> 2L,
          "status_counts" -> 1L)
        snap.readTable(s, "orders_lite")
          .groupBy("o_orderstatus")
          .agg(count(lit(1)).as("n"),
            QueryDef.dsum(col("o_totalprice")).as("total"))
          .join(snap.readTable(s, "status_counts"), Seq("o_orderstatus"))
          .withColumn("replay_idempotent", lit(snap.version == 2L))
          .withColumn("carried_forward", lit(carried))
          .orderBy("o_orderstatus")
      },
      Some(s"""SELECT o.o_orderstatus, count(*) AS n,
        |  ${QueryDef.dsumSql("o_totalprice")} AS total, c.carried_n,
        |  TRUE AS replay_idempotent, TRUE AS carried_forward
        |FROM orders o
        |JOIN (SELECT o_orderstatus, count(*) AS carried_n FROM orders
        |      WHERE o_orderkey % 3 = 0 GROUP BY 1) c
        |  USING (o_orderstatus)
        |WHERE o.o_custkey % 7 <> 0
        |GROUP BY o.o_orderstatus, c.carried_n
        |ORDER BY o.o_orderstatus""".stripMargin)),

    // Count-distinct maintained incrementally via mergeable HLL
    // sketches (the sketch path for holistic aggregates that
    // incremental_rollup's sum/count partials cannot maintain).
    // Oracle pattern: the estimate itself is engine-specific, so the
    // HASHED output carries the exact distinct (computed in-query,
    // which DuckDB recomputes independently) plus a within-5pct
    // BOOLEAN the oracle pins to TRUE — if the maintained sketch ever
    // drifts past the bound, the row hash breaks. Same invariant
    // style as the near-dup queries' exact-jaccard column. 5% is
    // >3 sigma for lgConfigK=12 HLL (RSE ~1.3-1.6%, slightly worse
    // for union-built sketches, which lose the HIP estimator) — a
    // bound that holds across scale factors, not just the tuned one.
    "incremental_distinct_hll" -> QueryDef(
      (s, d) => {
        val dir = FixtureStore.clearedScratchDir(s, "hll", d)
        val orders = Tables.orders(s, d)
        (0 until 3).foreach { i =>
          graft.etl.RollupMaintain.updateDistinctRollup(s, dir,
            "cust_by_status",
            orders.filter(pmod(col("o_orderkey"), lit(3)) === i),
            Seq("o_orderstatus"), "o_custkey")
        }
        val approx = graft.etl.RollupMaintain.readDistinct(s, dir,
          "cust_by_status")
        val exact = orders.groupBy("o_orderstatus")
          .agg(countDistinct(col("o_custkey")).as("exact_distinct"))
        approx.join(exact, Seq("o_orderstatus"))
          .select(col("o_orderstatus"), col("exact_distinct"),
            (abs(col("approx_distinct") - col("exact_distinct"))
              .cast("double") / col("exact_distinct") <= 0.05)
              .as("within_5pct"))
          .orderBy("o_orderstatus")
      },
      Some("""SELECT o_orderstatus,
        |  count(DISTINCT o_custkey) AS exact_distinct,
        |  TRUE AS within_5pct
        |FROM orders GROUP BY 1 ORDER BY o_orderstatus""".stripMargin)),

    // Incrementally-maintained FREQUENCY sketch: a persisted CMS
    // folded over 3 event batches (CmsUnion — exact counter
    // addition, so the maintained sketch ≡ a one-shot sketch), plus
    // the exact per-user rollup maintained alongside; top-10 users
    // by the MAINTAINED exact counts, each verified against the
    // MAINTAINED sketch's point estimate (never-underestimates +
    // eps·N bound, both hash-gated booleans). The sketch-store
    // analog of incremental_distinct_hll for frequency questions.
    "incremental_topk_cms" -> QueryDef(
      (s, d) => {
        val dir = FixtureStore.clearedScratchDir(s, "cms", d)
        val events = Tables.events(s, d)
        (0 until 3).foreach { i =>
          val b = events.filter(pmod(col("event_id"), lit(3)) === i)
          // the two stores are independent — fold them side by side
          // (graft.IndependentJobs: jobs keep this thread's local
          // properties, and both folds are joined before a failure is
          // rethrown, so none still writes once the query returns);
          // each store's own read-fold-commit stays sequential.
          graft.IndependentJobs.run(Seq(
            "user_cms" -> (() => graft.etl.RollupMaintain.updateCms(s,
              dir, "user_cms", b, "user_id")),
            "user_counts" -> (() => graft.etl.RollupMaintain.updateRollup(
              s, dir, "user_counts", b, Seq("user_id"), "value"))))
        }
        val top = graft.etl.RollupMaintain.readFinal(s, dir,
            "user_counts")
          .select(col("user_id"), col("n_rows").as("n_exact"))
          .orderBy(col("n_exact").desc, col("user_id"))
          .limit(10)
        val sketch = graft.etl.RollupMaintain.readCms(s, dir, "user_cms")
        top.crossJoin(broadcast(sketch))
          .withColumn("__est", graft.functions.native.cms_estimate(
            col("sketch"), col("user_id")))
          .select(col("user_id"), col("n_exact"),
            (col("__est") >= col("n_exact")).as("lower_ok"),
            (col("__est") <= col("n_exact") +
              ceil(lit(0.001) * col("n_total"))).as("upper_ok"))
          .orderBy(col("n_exact").desc, col("user_id"))
      },
      Some("""SELECT user_id, count(*) AS n_exact,
        |  TRUE AS lower_ok, TRUE AS upper_ok
        |FROM events GROUP BY user_id
        |ORDER BY n_exact DESC, user_id LIMIT 10""".stripMargin)),

    // Clustered write + pruned read round-trip: orders rewritten with
    // writeClusteredBy(o_orderkey) — near-disjoint per-file key ranges
    // (physical property asserted from real footers in ClusteringSpec)
    // — then a key-range scan over the clustered copy. The oracle
    // aggregates the same range from the original table: identical
    // results prove the clustered layout is a pure physical
    // optimization, invisible to semantics.
    "clustered_scan" -> QueryDef(
      (s, d) => {
        val dir = FixtureStore.clearedScratchDir(s, "cluster", d)
        graft.io.Staging.writeClusteredBy(Tables.orders(s, d), dir,
          "orders_c", Seq("o_orderkey"), files = 8)
        graft.io.Staging.readTable(s, dir, "orders_c")
          .filter(col("o_orderkey").between(1000, 5000))
          .groupBy("o_orderstatus")
          .agg(count(lit(1)).as("n"),
            QueryDef.dsum(col("o_totalprice")).as("total"))
          .orderBy("o_orderstatus")
      },
      Some(s"""SELECT o_orderstatus, count(*) AS n,
        |  ${QueryDef.dsumSql("o_totalprice")} AS total
        |FROM orders WHERE o_orderkey BETWEEN 1000 AND 5000
        |GROUP BY 1 ORDER BY o_orderstatus""".stripMargin)),

    // Z-order (Morton) clustered store + 2-D predicate scan: files
    // tile the (custkey, orderkey) plane, so footer stats prune on
    // BOTH dimensions (ClusteringSpec asserts the tiling from actual
    // footers); the oracle proves the layout is semantically
    // invisible — same answer as the unclustered base table. The
    // store is a build-once fixture (dppStore pattern): a clustered
    // table is written once and pruned-read many times, so the query
    // under test is the 2-D scan, not the rewrite (the write itself
    // is ClusteringSpec's subject).
    "zorder_scan" -> QueryDef(
      (s, d) => {
        val dir = zorderStore(s, d)
        graft.io.Staging.readTable(s, dir, "orders_z")
          .filter(col("o_custkey").between(100, 400) &&
            col("o_orderkey").between(1000, 20000))
          .groupBy("o_orderstatus")
          .agg(count(lit(1)).as("n"),
            QueryDef.dsum(col("o_totalprice")).as("total"))
          .orderBy("o_orderstatus")
      },
      Some(s"""SELECT o_orderstatus, count(*) AS n,
        |  ${QueryDef.dsumSql("o_totalprice")} AS total
        |FROM orders WHERE o_custkey BETWEEN 100 AND 400
        |  AND o_orderkey BETWEEN 1000 AND 20000
        |GROUP BY 1 ORDER BY o_orderstatus""".stripMargin)),

    // Dynamic partition pruning over a date-partitioned fact — THE
    // plan shape a 100 TB star schema lives or dies by: lineitem is
    // written partitioned by ship month (dppStore's dynamic partition
    // overwrite), the month dimension is derived from orders and
    // filtered to one year, and the join on the partition column must
    // prune the fact scan to the dim's months at RUNTIME (a
    // `dynamicpruning` subquery in the scan's PartitionFilters —
    // asserted in QueryPlanSpec) instead of reading all ~84 month
    // partitions. The oracle recomputes the same join from the
    // unpartitioned base tables, proving the partitioned layout is
    // semantically invisible.
    "dpp_partitioned_fact" -> QueryDef(
      (s, d) => {
        val dir = dppStore(s, d)
        val fact = graft.io.Staging.readTable(s, dir, "fact_lineitem")
        val dim = graft.io.Staging.readTable(s, dir, "dim_month")
          .filter(col("yr") === 1995)
        fact.join(dim, Seq("dt"))
          .groupBy("dt")
          .agg(count(lit(1)).as("n_items"),
            QueryDef.dsum(col("l_extendedprice")).as("revenue"))
          .orderBy("dt")
      },
      Some(s"""WITH m AS (SELECT DISTINCT
        |    strftime(o_orderdate, '%Y-%m') AS dt
        |  FROM orders WHERE year(o_orderdate) = 1995)
        |SELECT l.dt, count(*) AS n_items,
        |  ${QueryDef.dsumSql("l_extendedprice")} AS revenue
        |FROM (SELECT strftime(l_shipdate, '%Y-%m') AS dt,
        |    l_extendedprice FROM lineitem) l
        |JOIN m ON l.dt = m.dt
        |GROUP BY 1 ORDER BY l.dt""".stripMargin)),

    // SCD type-2 dimension history (graft.etl.ScdHistory): each
    // user's event_type stream collapses into chained versions with
    // valid_from/valid_to/is_current — one window per key, no
    // self-join. The oracle rebuilds the same change-point logic
    // independently with lag/lead; (user_id, ts) is unique in the
    // events table, so the layout is deterministic. Version rows are
    // bounded to users < 200 to keep the oracle dump small; the
    // operator itself is corpus-wide.
    "scd2_history" -> QueryDef(
      (s, d) => graft.etl.ScdHistory.buildHistory(
          Tables.events(s, d).filter(col("user_id") < 200),
          "user_id", Seq("event_type"), "ts")
        .select(col("user_id"), col("event_type"),
          date_format(col("valid_from"), "yyyy-MM-dd HH:mm:ss")
            .as("valid_from"),
          date_format(col("valid_to"), "yyyy-MM-dd HH:mm:ss")
            .as("valid_to"),
          col("is_current"))
        .orderBy("user_id", "valid_from"),
      Some("""WITH e AS (SELECT user_id, event_type, ts,
        |    lag(event_type) OVER (PARTITION BY user_id ORDER BY ts)
        |      AS prev_type
        |  FROM events WHERE user_id < 200),
        |c AS (SELECT user_id, event_type, ts FROM e
        |  WHERE prev_type IS NULL OR event_type <> prev_type),
        |v AS (SELECT user_id, event_type, ts AS vf,
        |    lead(ts) OVER (PARTITION BY user_id ORDER BY ts) AS vt
        |  FROM c)
        |SELECT user_id, event_type,
        |  strftime(vf, '%Y-%m-%d %H:%M:%S') AS valid_from,
        |  strftime(vt, '%Y-%m-%d %H:%M:%S') AS valid_to,
        |  vt IS NULL AS is_current
        |FROM v ORDER BY user_id, valid_from""".stripMargin))
  )
}
