package graft.tools

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deterministic synthetic-testdata generator for SFs the driver did
  * not ship (TESTDATA.md stops at sf0.1; `/root/testdata` is
  * read-only). Reproduces the driver tables' schemas and value
  * shapes — TPC-H-ish star schema + events/documents/embeddings,
  * including the documents corpus's near-dup cluster structure (a
  * base corpus + permuted-token copies, so the dedup pipelines see
  * the same degenerate-cluster workload) — at `sf` × the sf0.1 row
  * counts. Fully distributed and deterministic: every value is a
  * pure function of (row id, column salt) via xxhash64, no RNG
  * state, so a regenerated dataset is bit-identical.
  *
  * Usage: `runMain graft.tools.GenSf <outDir> <multiplier>
  * [zipf|zipfml]` (multiplier 10 ≈ sf1: 6M lineitem rows).
  *
  * ZIPF MODE (r13, VERDICT r12 #1): every r12 scale lesson came from
  * the 28-token rotated-copy corpus — a degenerate corner where
  * "rare tokens" don't exist and the dense bitmask cores carry
  * everything. With `zipf` the documents table instead models the
  * vocabulary shape real 100 TB text has, so the prefix-filter
  * cores, top_ngrams, and the LSH banding posture exercise their
  * REAL cost models (short rare-token postings, genuine vocabulary):
  *
  *  - 50k-token zipf(s=1) vocabulary: token rank drawn log-uniformly
  *    (`⌊exp(u·ln V)⌋` has density ∝ 1/rank);
  *  - log-uniform doc lengths 30–410 tokens (median ≈ 110);
  *  - planted structure by id class (`id % 20`): 14/20 base docs,
  *    3/20 NEAR-DUP copies (a base doc with ~5 % of positions
  *    re-drawn — high but sub-1.0 jaccard, the MinHash target),
  *    2/20 TEMPLATE docs (an 80-token shared boilerplate prefix from
  *    a 20-template pool + a unique tail — the containment/dup-span
  *    target), 1/20 EXACT duplicates of a base doc;
  *  - copy/dup targets are forced into the base class, so an "exact
  *    dup" genuinely equals an existing document's text.
  * All other tables are identical to the default mode.
  *
  * ZIPFML MODE (r14, VERDICT r13 #6): the zipf law with REAL `\n`
  * line layout — every corpus so far was single-line, so the
  * line-grain repetition gates only ever saw synthetically rebuilt
  * lines. The zipf token stream is chunked into 10-token lines,
  * then per (doc, line-slot), deterministically:
  *  - ~15 % of slots REPLAY the doc's first line (the planted
  *    boilerplate-repeat the dup-line gate exists for);
  *  - ~5 % become EMPTY lines (the trim/blank-line edge);
  *  - docs with `id % 97 == 3` are ALL-DUP (every line = line 0);
  *  - docs with `id % 11 == 0` carry a TRAILING newline.
  * Line structure changes line-GRAIN signals only; tokenization
  * splits on \s+, so the dup-planting replacements are the sole
  * token-stream delta vs plain zipf (zipfml corpora are their own
  * fixtures, not comparable to zipf legs).
  */
object GenSf {

  private def h(c: Column, salt: Int): Column = xxhash64(c, lit(salt))
  /** uniform [0,1) from (id, salt) */
  private def r01(c: Column, salt: Int): Column =
    pmod(h(c, salt), lit(1000000L)).cast("double") / 1000000.0
  private def pick(c: Column, salt: Int, vs: Seq[String]): Column = {
    val arr = array(vs.map(lit): _*)
    element_at(arr, (pmod(h(c, salt), lit(vs.size)) + 1).cast("int"))
  }
  private def money(c: Column, salt: Int, lo: Double, hi: Double): Column =
    round(lit(lo) + r01(c, salt) * lit(hi - lo), 2)

  def main(args: Array[String]): Unit = {
    val out = args(0)
    val m = args(1).toInt // 1 = sf0.1 scale, 10 = sf1
    val mode = if (args.length > 2) args(2) else ""
    val ml = mode == "zipfml"
    val zipf = mode == "zipf" || ml
    val spark = graft.Session.local()

    val nCust = 15000L * m
    val nSupp = 1000L * m
    val nPart = 20000L * m
    val nOrders = 150000L * m
    val nLine = 600000L * m
    val nEvents = 100000L * m
    val nDocs = 5000L * m
    val nEmb = 2000L * m

    def ids(n: Long) = spark.range(0, n, 1, 32).toDF("id")
    def save(df: DataFrame, name: String): Unit = {
      df.write.mode("overwrite").parquet(s"$out/$name.parquet")
      println(s"[gensf] wrote $name")
    }

    save(spark.createDataFrame(Seq(
      (0L, "AFRICA"), (1L, "AMERICA"), (2L, "ASIA"), (3L, "EUROPE"),
      (4L, "MIDDLE EAST"))).toDF("r_regionkey", "r_name"), "region")

    save(ids(25).select(col("id").as("n_nationkey"),
      concat(lit("NATION_"), col("id")).as("n_name"),
      pmod(col("id"), lit(5L)).as("n_regionkey")), "nation")

    save(ids(nCust).select(col("id").as("c_custkey"),
      format_string("Customer#%09d", col("id")).as("c_name"),
      pmod(h(col("id"), 1), lit(25L)).as("c_nationkey"),
      money(col("id"), 2, -999.99, 9999.99).as("c_acctbal"),
      pick(col("id"), 3, Seq("AUTOMOBILE", "BUILDING", "FURNITURE",
        "HOUSEHOLD", "MACHINERY")).as("c_mktsegment")), "customer")

    save(ids(nSupp).select(col("id").as("s_suppkey"),
      format_string("Supplier#%09d", col("id")).as("s_name"),
      pmod(h(col("id"), 4), lit(25L)).as("s_nationkey"),
      money(col("id"), 5, -999.99, 9999.99).as("s_acctbal")), "supplier")

    val adjs = Seq("small", "large", "red", "blue", "hot", "old",
      "new", "dark")
    val nouns = Seq("ring", "widget", "bolt", "gear", "gizmo", "cog",
      "valve", "spring")
    save(ids(nPart).select(col("id").as("p_partkey"),
      concat(pick(col("id"), 6, adjs), lit(" "),
        pick(col("id"), 7, nouns)).as("p_name"),
      concat(lit("Brand#"),
        pmod(h(col("id"), 8), lit(20L))).as("p_brand"),
      pick(col("id"), 9, Seq("ECONOMY", "MEDIUM", "SMALL", "STANDARD",
        "LARGE", "PROMO")).as("p_type"),
      (pmod(h(col("id"), 10), lit(50L)) + 1).cast("int").as("p_size"),
      round(lit(900.0) + pmod(h(col("id"), 11), lit(1000L)) / 10.0, 2)
        .as("p_retailprice")), "part")

    val epoch95 = lit(java.sql.Timestamp.valueOf("1995-01-01 00:00:00"))
    save(ids(nOrders).select(col("id").as("o_orderkey"),
      pmod(h(col("id"), 12), lit(nCust)).as("o_custkey"),
      pick(col("id"), 13, Seq("O", "O", "F")).as("o_orderstatus"),
      money(col("id"), 14, 900.0, 450000.0).as("o_totalprice"),
      (epoch95.cast("long") +
        pmod(h(col("id"), 15), lit(2400L)) * 86400L)
        .cast("timestamp").as("o_orderdate"),
      pick(col("id"), 16, Seq("1-URGENT", "2-HIGH", "3-MEDIUM",
        "4-NOT SPECIFIED", "5-LOW")).as("o_orderpriority")), "orders")

    save(ids(nLine).select(
      (col("id") / 4).cast("long").as("l_orderkey"),
      pmod(h(col("id"), 17), lit(nPart)).as("l_partkey"),
      pmod(h(col("id"), 18), lit(nSupp)).as("l_suppkey"),
      (pmod(col("id"), lit(4L)) + 1).cast("int").as("l_linenumber"),
      (pmod(h(col("id"), 19), lit(50L)) + 1).cast("double")
        .as("l_quantity"),
      money(col("id"), 20, 900.0, 104000.0).as("l_extendedprice"),
      (pmod(h(col("id"), 21), lit(11L)) / 100.0).as("l_discount"),
      (pmod(h(col("id"), 22), lit(9L)) / 100.0).as("l_tax"),
      pick(col("id"), 23, Seq("R", "A", "N")).as("l_returnflag"),
      pick(col("id"), 24, Seq("O", "F")).as("l_linestatus"),
      (epoch95.cast("long") +
        pmod(h(col("id"), 25), lit(2500L)) * 86400L)
        .cast("timestamp").as("l_shipdate")), "lineitem")

    val epoch24 = lit(java.sql.Timestamp.valueOf("2024-01-01 00:00:00"))
    save(ids(nEvents).select(col("id").as("event_id"),
      // ~monotone event time: ~47 s mean step + per-event jitter
      (epoch24.cast("long") + col("id") * 47L / m +
        pmod(h(col("id"), 26), lit(45L))).cast("timestamp").as("ts"),
      pmod(h(col("id"), 27), lit(1500L * m)).as("user_id"),
      pick(col("id"), 28, Seq("view", "view", "view", "click", "click",
        "purchase", "signup", "error")).as("event_type"),
      money(col("id"), 29, 0.0, 150.0).as("value"),
      format_string("{\"k\": %d}",
        pmod(h(col("id"), 30), lit(100L))).as("props")), "events")

    if (!zipf) {
      // documents: ~70% base docs (unique token bags), ~30% permuted
      // copies of a base doc — token-set near-dups forming clusters,
      // the structure the dedup/clustering pipelines exist for
      val vocab = Seq("batch", "part", "spark", "line", "column",
        "order", "small", "sort", "fast", "value", "scan", "hash",
        "slow", "group", "agg", "filter", "query", "big", "key",
        "window", "row", "table", "stream", "merge", "data", "vector",
        "join", "a")
      val vocabArr = array(vocab.map(lit): _*)
      val isCopy = pmod(h(col("id"), 31), lit(10L)) < 3
      val baseId = when(isCopy,
        pmod(h(col("id"), 32), lit(math.max(nDocs / 10, 1L))))
        .otherwise(col("id"))
      val docLen = (pmod(h(baseId, 33), lit(50L)) + 12).cast("int")
      // tokens are a pure function of the BASE id at a given position;
      // a copy ROTATES the position sequence by a per-copy offset —
      // identical token multiset (set-jaccard 1, the near-dup the
      // pipelines must catch) but a different string (never an exact
      // dup) and near-zero 3-gram shingle overlap, like the driver
      // corpus's reordered bags
      val rot = pmod(h(col("id"), 40), lit(49L)) + 1
      val tokenAt = (pos: Column) => element_at(vocabArr,
        (pmod(h(concat(baseId, lit("_"),
          pmod(pos + rot, docLen.cast("long"))), 34),
          lit(vocab.size)) + 1).cast("int"))
      val text = array_join(transform(sequence(lit(1), docLen),
        p => tokenAt(p)), " ")
      save(ids(nDocs).select(col("id").as("doc_id"), text.as("text"),
        pick(col("id"), 35, Seq("en", "en", "en", "zh", "de", "fr"))
          .as("lang"),
        concat(lit("src"), pmod(h(col("id"), 36), lit(10L))).as("source"))
        .withColumn("n_chars", length(col("text"))), "documents")
    } else {
      // ZIPF documents (scaladoc above). All randomness is xxhash64
      // on (seed, position, salt) — regeneration is bit-identical.
      val V = 50000
      val lnV = math.log(V.toDouble)
      def u(c: Column, salt: Int): Column = r01(c, salt)
      // zipf(s=1) rank: log-uniform in [1, V)
      def zipfTok(seed: Column, p: Column, salt: Int): Column =
        concat(lit("w"),
          floor(exp(u(concat(seed, lit("_"), p), salt) * lnV))
            .cast("long"))
      val cls = pmod(col("id"), lit(20L)) // 0-13 base, 14-16 copy,
                                          // 17-18 template, 19 dup
      // referenced base doc, FORCED into the base class so copies and
      // dups point at docs whose text is the plain pattern stream
      val bRaw = pmod(h(col("id"), 51), lit(nDocs))
      val baseRef = (bRaw - pmod(bRaw, lit(20L))) + pmod(bRaw, lit(14L))
      // log-uniform base length 30..~410 (median ≈ 110)
      def baseLen(seed: Column): Column =
        (lit(10) + floor(exp(lit(3.0) + lit(3.0) * u(seed, 52))))
          .cast("int")
      def baseStream(seed: Column, len: Column): Column =
        transform(sequence(lit(1), len), p => zipfTok(seed, p, 53))
      val tpl = pmod(h(col("id"), 54), lit(20L))
      val tailLen = (lit(10) + floor(exp(lit(2.0) +
        lit(2.5) * u(col("id"), 55)))).cast("int")
      val toks =
        when(cls <= 13, baseStream(col("id"), baseLen(col("id"))))
        .when(cls === 19, baseStream(baseRef, baseLen(baseRef)))
        .when(cls >= 17,
          // 80-token template boilerplate + unique zipf tail
          concat(
            transform(sequence(lit(1), lit(80)),
              p => zipfTok(concat(lit("T"), tpl), p, 56)),
            transform(sequence(lit(1), tailLen),
              p => zipfTok(col("id"), p, 57))))
        .otherwise(
          // near-dup copy: ~5% of positions re-drawn per copy
          transform(sequence(lit(1), baseLen(baseRef)), p =>
            when(u(concat(col("id"), lit("@"), p), 58) < 0.05,
              zipfTok(col("id"), p, 59))
            .otherwise(zipfTok(baseRef, p, 53))))
      // zipfml: chunk the token stream into 10-token lines and plant
      // line-grain structure (scaladoc) — plain zipf stays the
      // single-line join so existing legs remain bit-identical
      val text =
        if (!ml) array_join(toks, " ")
        else {
          val lines0 = transform(
            sequence(lit(0L), greatest(
              ceil(size(toks) / lit(10.0)).cast("long") - 1, lit(0L))),
            i => array_join(
              slice(toks, (i * 10 + 1).cast("int"), lit(10)), " "))
          val planted = transform(lines0, (l, i) =>
            when(pmod(col("id"), lit(97L)) === 3,
              element_at(lines0, 1))
            .when(r01(concat(col("id"), lit("_L"), i), 61) < 0.15,
              element_at(lines0, 1))
            .when(r01(concat(col("id"), lit("_E"), i), 62) < 0.05,
              lit(""))
            .otherwise(l))
          val body = array_join(planted, "\n")
          when(pmod(col("id"), lit(11L)) === 0, concat(body, lit("\n")))
            .otherwise(body)
        }
      save(ids(nDocs).select(col("id").as("doc_id"),
        text.as("text"),
        pick(col("id"), 35, Seq("en", "en", "en", "zh", "de", "fr"))
          .as("lang"),
        concat(lit("src"), pmod(h(col("id"), 36), lit(10L))).as("source"))
        .withColumn("n_chars", length(col("text"))), "documents")
    }

    // embeddings: 64-dim floats in ~10 loose clusters (label = the
    // cluster), small per-vector noise — enough structure for IVF
    val label = pmod(h(col("id"), 37), lit(10L)).cast("int")
    val emb = transform(sequence(lit(0), lit(63)), j =>
      ((pmod(h(concat(label, lit("_"), j), 38), lit(2000L)) - 1000L)
        .cast("double") / 3000.0 +
        (pmod(h(concat(col("id"), lit("_"), j), 39), lit(400L)) - 200L)
          .cast("double") / 4000.0).cast("float"))
    save(ids(nEmb).select(col("id").as("vec_id"), emb.as("embedding"),
      label.as("label")), "embeddings")

    spark.stop()
    println(s"[gensf] done -> $out (multiplier $m)")
  }
}
