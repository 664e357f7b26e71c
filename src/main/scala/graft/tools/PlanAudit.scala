package graft.tools

/** Builder-side plan audit: the EXECUTED plan of registry queries
  * (after AQE finalization) reviewed for shuffle/exchange count — the
  * .explain loop behind the SCALING.md claims, promoted to a gated
  * artifact.
  *
  * Two modes:
  *   - `runMain graft.tools.PlanAudit <sfDir> <query> [query…]` —
  *     verbose: print each query's full executed plan + exchange
  *     count (the interactive .explain loop).
  *   - `runMain graft.tools.PlanAudit --all <sfDir> [outJson]` —
  *     audit: run EVERY registry query, count shuffle exchanges in
  *     the finalized plan, compare against the per-family budget
  *     below, and write `PLANAUDIT.json` (default) with one row per
  *     query. Exits non-zero if any query exceeds its family budget —
  *     a plan-shape regression gate covering the whole surface, not
  *     just the ~20 queries QueryPlanSpec pins structurally.
  *
  * Budgets are per FAMILY, not per query: an exchange count is a
  * property of the plan shape (scan→shuffle→agg…), and queries in a
  * family share a shape class. The budget is the family's measured
  * ceiling with no headroom beyond the observed maximum — a new
  * shuffle anywhere in a family (a lost broadcast, a dropped
  * partial-agg, a new unnecessary repartition) pushes a query over
  * and fails the gate. Counts are AQE-final and exclude broadcast and
  * reused exchanges (broadcasts are the cheap alternative we WANT;
  * reuse means the shuffle is paid once).
  */
object PlanAudit {

  /** Family of a registry query, by name. Keep in sync with the
    * budget table below. */
  def family(name: String): String = name match {
    case n if n.startsWith("sql_q")                        => "tpch"
    case n if n.startsWith("dedup_") ||
      n == "containment_dedup" || n == "chunk_dedup" ||
      n == "ngram_jaccard_topk" || n == "fuzzy_link_blocked" ||
      n == "leakage_safe_split" || n == "decontaminate" ||
      n == "jaccard_pairs_prefix" ||
      n == "jaccard_pairs_bigvocab" ||
      n == "containment_pairs_prefix" ||
      n == "containment_pairs_bigvocab"                     => "neardup"
    case n if n.startsWith("ann_") || n.startsWith("vector_") ||
      n == "semantic_dedup"                                 => "vector"
    case n if n.startsWith("incremental_") ||
      n == "versioned_store" || n == "versioned_store_partitioned" ||
      n == "mart_publish_atomic" || n == "delete_keys" ||
      n == "scd2_history" || n == "sql_catalog_mart" ||
      n == "export_manifest" || n == "heavy_hitters_cms"    => "store"
    case n if n.startsWith("events_") ||
      n == "funnel_conversion" || n == "retention_cohorts" ||
      n == "timed_conversion" || n == "gapfill_resample"    => "events"
    case n if n.startsWith("multimodal_") ||
      n == "audio_segments"                                 => "multimodal"
    case "curation_e2e"                                       => "pipeline"
    case n if n.startsWith("corpus_") || n.startsWith("dataset_") ||
      n == "mixture_temperature" || n == "doc_packing" ||
      n == "train_test_split" || n == "weighted_sample" ||
      n == "stratified_sample" || n == "deterministic_sample" ||
      n == "dup_span_coverage" || n == "dup_span_strip"     => "corpus"
    case n if n.startsWith("text_") || n.startsWith("doc_") ||
      n.startsWith("dup_line_") || n == "quality_classifier" ||
      n == "lang_id" || n == "lang_id_learned" ||
      n == "lang_id_incremental" ||
      n == "token_count_by_lang" ||
      n == "top_tokens" || n == "repetition_metrics" ||
      n == "pii_redaction" || n == "quality_deciles" ||
      n == "quality_percentile_gate" || n == "regex_extract_all" ||
      n == "bm25_rank" || n == "bm25_indexed" ||
      n == "inverted_index" || n == "dsir_weights" ||
      n == "dsir_resample" || n == "ccnet_buckets" ||
      n == "decontam_report" || n == "top_ngrams"           => "text"
    case _                                                  => "core"
  }

  /** Per-family shuffle-exchange budget (AQE-final, broadcast/reused
    * excluded). Values are the measured family ceilings at sf0.01 —
    * regression pins, not aspirations; see PLANAUDIT.json for the
    * per-query measured counts they pin. */
  val budgets: Map[String, Int] = Map(
    "core"       -> 4, // ceiling: global_row_ids (range exchange +
                       // tiny offsets agg/cumsum + surface orderBy)
    "text"       -> 5, // ceiling: inverted_index (per-doc tf agg,
                       // df/total_tf agg, sample window, stats join)
    "corpus"     -> 4, // sample/split/pack: agg + window + join
    "tpch"       -> 3, // AQE broadcasts the dims; agg + order remain
    "events"     -> 3, // ONE entity shuffle + window/agg finishers
    "multimodal" -> 2, // mapPartitions decode + one agg
    "vector"     -> 4, // k-means rounds run in side jobs, not the plan
    "neardup"    -> 3, // pair/cluster fixpoints materialize in side
                       // jobs against persisted frames; the returned
                       // plan reads those caches
    "store"      -> 3, // commit sequences run in side jobs; the
                       // returned plan is the final store read
    "pipeline"   -> 11 // curation_e2e: the 8-stage composed chain —
                       // its exchange count is the SUM of its stages'
                       // (pair candidate agg + anti/semi joins +
                       // decontam n-gram agg + split join + pack
                       // window + manifest agg/order); each stage's
                       // own shape stays pinned by that stage's
                       // standalone family budget, so this ceiling
                       // only guards against a stage HANDOFF adding
                       // an unnecessary re-shuffle (e.g. losing a
                       // broadcast between stages)
  )

  /** Per-QUERY budget overrides for the few queries whose correct
    * 100 TB shape legitimately exceeds their family ceiling — each
    * entry documents why the extra exchanges are the scale-right
    * trade, not a regression:
    *
    *  - `asof_join_bucketed` (5 vs core 4): the hot-key hardening
    *    ADDS a bucket-summary seed path — per-(key,bucket) max_by
    *    agg, left-bucket distinct, and a bucket-grain carry window.
    *    All three extra exchanges move rows ≈ #(key,bucket) pairs
    *    (thousands), not events (billions); only the union window
    *    and the surface orderBy touch event-grain data — the same 2
    *    full-data exchanges as the unbucketed `asof_join`. Collapsing
    *    the seed path would re-serialize hot keys into one task,
    *    which is the exact failure this variant exists to prevent.
    *
    *  - `sql_q15` (4 vs tpch 3): the classic Q15 double-evaluation —
    *    the revenue CTE feeds both the join and the uncorrelated MAX
    *    scalar subquery, and Spark plans the subquery's aggregate as
    *    its own (hash + Single) pair rather than reusing the main
    *    plan's. Both extra exchanges carry per-supplier PARTIAL sums
    *    (supplier-count rows, not lineitem rows), so the trade is
    *    grain-bounded; the 100 TB form materializes the CTE once,
    *    which Spark SQL text cannot express. The count rose when the
    *    counter moved to the plan tree and started seeing subquery
    *    plans at all — the shape itself is unchanged since r6.
    *
    *  - `ngram_jaccard_topk` (8 vs neardup 3): the r12 stream-scale
    *    reshape (`Relational.topNPerKeyByValue` — deleted, source at
    *    2f967c5 — plus salted computeDensePairJoin). The plain rank
    *    window's partial rank-limit SORTED every pair partition —
    *    678 s and ~15 GB of sort spill at sf4 for a 20-row answer;
    *    the two-pass
    *    histogram form (value-count fold → per-key threshold →
    *    survivor-only exact rank) plus the hot-block salt measured
    *    97 s on the same leg. The exchange budget reads the trade
    *    honestly: 2 pinned doc-grain pair-side exchanges (one per
    *    pass — recompute, not cache, is the compute-density
    *    posture), the (lang, jaccard) histogram fold + its
    *    histogram-grain window, the survivor bucketed-rank pair of
    *    windows, and the r9 accounting fold. Every added exchange
    *    moves histogram-/survivor-/doc-grain rows; the 500M-row pair
    *    stream itself never shuffles and never sorts.
    *
    *  - `containment_dedup` (4 vs neardup 3): the same r12
    *    computeDensePairJoin pin as ngram_jaccard_topk (its r9
    *    accounting fold was absorbed at 2→3 inside the family
    *    budget; the pin adds the fourth).
    *
    *  - `corpus_dup_ngrams` (5 vs corpus 4): same r10 trade — the
    *    (doc, gram) pre-agg exchange lets ONE tokenize+hash scan
    *    feed both the per-doc totals and the digest fold (AQE stage
    *    reuse); without it the corpus is scanned and hashed once per
    *    consumer, the stage the op's own scaladoc names as its
    *    dominant cost. Measured faster at sf0.1 (0.85–1.0 s vs 1.04
    *    two-scan) and strictly better at 100 TB (scans dominate).
    *
    *  - `dup_span_coverage` / `dup_span_strip` (5 vs corpus 4): the
    *    r10 hot-gram skew hardening replaced the single digest
    *    count/rank window (one exchange, one unsplittable straggler
    *    partition per hot gram) with the two-level fold: a (doc,
    *    gram) pre-aggregation exchange (doc id in the key — no hot
    *    key, within-doc repeats collapse), the digest-grain model
    *    fold, the join-back probe exchange (skew-SPLITTABLE, unlike
    *    the window; broadcast-elided only when the dup frame is
    *    small), and a re-key-to-doc exchange placed BEFORE the ×n
    *    position explode (ships starts, not positions). The extra
    *    exchange vs the window form is exactly the price of removing
    *    the straggler no budget can fix — SCALING.md r10 octave
    *    table measures the window form's max task doubling per
    *    corpus octave while the fold's tracks partition size.
    *
    * (`mad_outlier_gate` needed no entry: the registry uses the
    * DISCRETE histogram form of the gate, whose linear stats chain —
    * one combinable (key, value) fold, median/MAD read off the
    * histogram in key-partitioned windows, one stats broadcast —
    * fits the core budget. The generic `madOutlierGate`, whose two
    * `keyedOrderStatistic` phases cost ~8 exchanges, exists for
    * continuous signals and is pinned equivalent by
    * CorpusSignalsSpec rather than benched.) */
  val overrides: Map[String, Int] = Map(
    //  - `export_shuffled` (5 vs corpus 4): the seeded global
    //    shuffle composes contiguousRowIds' parallel rank (the
    //    value-bucket exchange + the bucket-count offsets cumsum —
    //    global_row_ids' own audited shape) WITH doc_packing's
    //    per-shard pack window; each constituent is at its family
    //    shape, and the rank's two extra exchanges move one
    //    full-data hash pass plus a ≤1024-row offsets frame. A
    //    single-exchange global rank does not exist without a
    //    single-partition sort.
    "export_shuffled" -> 5,
    //  (r16: `lang_id_learned`'s 6-exchange override retired — the
    //  matched-rows-only classify reshape (VERDICT r15 wrong #3)
    //  audits inside the text family budget: ONE corpus-grain
    //  repartition on the doc id feeds every classify fold
    //  partition-locally with the second consumer on a
    //  ReusedExchange (r17: the identity (doc, bucket) fold in
    //  classifyLang pins that reuse — see its comment), the scoring
    //  grid assembles through a doc-id join + literal lang explode
    //  instead of the old crossJoin + (doc, lang) fold, and only the
    //  training count fold still touches corpus grain. 5 at the r17
    //  audit, the +1 over the r16 note being the r16 scan widen.)
    "asof_join_bucketed" -> 5,
    "sql_q15" -> 4,
    //  (r17: tightened 8 → 5 — the one-pass TopKValuePairs
    //  aggregate replaced the two-pass histogram form, dropping the
    //  histogram fold, its window, and the survivor bucketed-rank
    //  pair; what remains is the doc-grain pair-side exchanges +
    //  the bounded top-k fold + the accounting fold.)
    "ngram_jaccard_topk" -> 5,
    "containment_dedup" -> 4,
    //  - `corpus_dup_ngrams` (6 vs corpus 4, was 5): +1 from the r16
    //    scan WIDEN (Relational.widenNarrowScan repartition before
    //    the per-position double-hash kernel — measured 1.17 → 0.75 s
    //    isolated, OPTIMIZATION_r16.md §5; a production many-split
    //    scan makes it a no-op, so the exchange exists exactly where
    //    the kernel would otherwise run one-core).
    "corpus_dup_ngrams" -> 6,
    "dup_span_coverage" -> 5,
    "dup_span_strip" -> 5,
    //  - `decontaminate` (5 vs neardup 3): the corpus-side n-gram
    //    probe (contaminatedIds) was scan-WIDENED in r16 (same
    //    widenNarrowScan trade as corpus_dup_ngrams — decontaminate
    //    1.55 → 1.14 s measured), and the corpus/eval n-gram folds
    //    are the operator's documented exchanges (eval side
    //    broadcast, corpus never shuffled at doc grain). The r16
    //    widen commits landed AFTER the last audit regeneration, so
    //    these counts were first pinned this round.
    "decontaminate" -> 5,
    //  - `decontam_report` (6 vs text 5): leakInstances widens the
    //    same corpus probe (r16) on top of the report's per-eval
    //    fold — one more bounded exchange for the same one-core
    //    kernel reason.
    "decontam_report" -> 6
  )

  /** Shuffle-exchange count of the AQE-FINAL plan, walked on the
    * plan TREE, not the printed string. Tree-walk semantics give the
    * budget exactly its documented meaning:
    *   - AdaptiveSparkPlanExec → its current (post-AQE) plan;
    *   - ReusedExchange → 0 (the shuffle is paid once);
    *   - broadcast exchanges → 0 (the cheap alternative we WANT),
    *     but real shuffles on the broadcast build side still count;
    *   - InMemoryTableScan has NO children, so a persisted frame's
    *     side-job lineage is excluded naturally — those stages ran
    *     once at materialization ("the returned plan reads those
    *     caches"). The previous string-based counter depended on how
    *     the cached plan happened to PRINT (r8: re-backing the
    *     signature table from a persisted frame to a parquet store
    *     made identical side-job exchanges suddenly print expanded,
    *     moving the gate with zero plan change);
    *   - scalar/IN subquery plans are counted (they execute too).
    */
  def countExchanges(p: org.apache.spark.sql.execution.SparkPlan): Int = {
    import org.apache.spark.sql.execution.adaptive.{
      AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.exchange.{
      ReusedExchangeExec, ShuffleExchangeLike}
    val subs = p.subqueries.map(countExchanges).sum
    p match {
      case a: AdaptiveSparkPlanExec => subs + countExchanges(a.executedPlan)
      case _: ReusedExchangeExec    => subs
      case q: QueryStageExec        => subs + countExchanges(q.plan)
      case e: ShuffleExchangeLike   =>
        subs + 1 + e.children.map(countExchanges).sum
      case other => subs + other.children.map(countExchanges).sum
    }
  }

  def main(args: Array[String]): Unit = {
    val auditAll = args.headOption.contains("--all")
    val sfDir = if (auditAll) args(1) else args.head
    val spark = graft.Session.local()

    def executedPlan(name: String)
        : org.apache.spark.sql.execution.SparkPlan = {
      val df = graft.SparkEntry.queries(name)(spark, sfDir)
      // collect() executes THIS Dataset so AQE finalizes ITS plan —
      // count() would build a separate aggregate Dataset and leave
      // df's adaptive plan unfinalized (the SkewSpec-documented trap)
      df.collect()
      df.queryExecution.executedPlan
    }

    if (auditAll) {
      val outPath = if (args.length > 2) args(2) else "PLANAUDIT.json"
      val names = graft.SparkEntry.queries.keys.toSeq.sorted
      val rows = names.map { name =>
        val (exchanges, err) =
          try (countExchanges(executedPlan(name)), None)
          catch { case e: Throwable =>
            (-1, Some(Option(e.getMessage).getOrElse(e.getClass.getName)
              .linesIterator.next().take(160))) }
        val fam = family(name)
        val budget = overrides.getOrElse(name, budgets(fam))
        val over = err.nonEmpty || exchanges > budget
        System.err.println(
          f"[planaudit] $name%-28s $fam%-10s ex=$exchanges%3d/" +
            f"$budget%-3d ${if (over) "OVER" else "ok"}%s" +
            err.map(e => s" ERR: $e").getOrElse(""))
        (name, fam, exchanges, budget, over, err)
      }
      val overRows = rows.filter(_._5)
      // strip control chars (< 0x20) so an exception message with an
      // embedded tab/CR/newline can't produce invalid JSON in the
      // error path where the artifact is most needed.
      def esc(s: String) = s.replace("\\", "\\\\").replace("\"", "\\\"")
        .filter(_ >= ' ')
      val rowJson = rows.map { case (n, fam, ex, b, over, err) =>
        s"""\"${esc(n)}\":{"family":"$fam","exchanges":$ex,"budget":$b,"over_budget":$over""" +
          err.map(e => s""","error":"${esc(e)}"""").getOrElse("") + "}"
      }.mkString("{", ",", "}")
      val json =
        s"""{"n_queries":${rows.size},"n_over_budget":${overRows.size},""" +
          s""""over_budget":[${overRows.map(r => s"\"${esc(r._1)}\"").mkString(",")}],""" +
          s""""note":"shuffle Exchange count per query, AQE-final plan, broadcast/reused excluded; budget is the family ceiling","sf":"${esc(sfDir)}","queries":$rowJson}"""
      java.nio.file.Files.write(java.nio.file.Paths.get(outPath),
        (json + "\n").getBytes("UTF-8"))
      println(s"PLANAUDIT: ${rows.size} queries, " +
        s"${overRows.size} over budget -> $outPath")
      spark.stop()
      if (overRows.nonEmpty) sys.exit(1)
    } else {
      args.drop(1).foreach { name =>
        val plan = executedPlan(name)
        println(s"=== $name (shuffle Exchange count: " +
          s"${countExchanges(plan)}) ===")
        println(plan.toString)
      }
      spark.stop()
    }
  }
}
