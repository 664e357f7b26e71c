package graft.ext

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The composed training-data curation pipeline: the individual
  * TextOps/DedupOps stages wired the way a corpus pass actually runs.
  *
  * Stage order matters at scale and is deliberate:
  *   1. cheap narrow filters first (length, punctuation) — shed rows
  *      before anything wide;
  *   2. exact dedup on the normalized fingerprint — one digest
  *      shuffle (never shuffles text, SCALING.md);
  *   3. near-dup removal (MinHash/LSH) last, on the surviving
  *      minority — candidate generation is corpus-linear but still
  *      the most expensive stage per row.
  *
  * Every stage is a pure DataFrame transform; [[curate]] returns the
  * survivors and [[stats]] the per-stage accounting a production run
  * logs.
  */
object CorpusPipeline {

  final case class Config(
      nearDupJaccard: Double = 0.8,
      dropNearDups: Boolean = true)

  /** Quality gate: narrow, no shuffle. Keeps docs of 10 to 100,000
    * tokens whose punctuation ratio is below 0.2 — fixed bounds, the
    * ones the curation oracle twins encode. `cfg` holds no
    * quality setting; every stage takes the pipeline's one Config. */
  def qualityFilter(docs: DataFrame, textCol: String,
                    cfg: Config): DataFrame = {
    val n = TextOps.tokenCount(col(textCol))
    docs.filter(n >= 10 && n <= 100000 &&
      TextOps.punctRatio(col(textCol)) < 0.2)
  }

  /** Exact dedup on the whitespace/case-normalized fingerprint:
    * deterministic min-id survivor, digest-only shuffle. */
  def exactDedup(docs: DataFrame, idCol: String,
                 textCol: String): DataFrame = {
    val withFp = docs.withColumn("__fp",
      TextOps.fingerprint(col(textCol)))
    graft.ops.Relational.dedupeByKeyMinStruct(withFp, Seq("__fp"),
      Seq(col(idCol))).drop("__fp")
  }

  /** Near-dup removal: LSH candidates verified by exact Jaccard; of
    * each verified pair the higher id is dropped (deterministic). */
  def nearDupFilter(docs: DataFrame, idCol: String, textCol: String,
                    cfg: Config): DataFrame = {
    val losers = DedupOps.minhashNearDupPairs(docs, idCol, textCol,
        threshold = cfg.nearDupJaccard)
      .select(col("id_b").as(idCol)).distinct()
    docs.join(losers, Seq(idCol), "left_anti")
  }

  /** Full pass. Returns the curated corpus. */
  def curate(docs: DataFrame, idCol: String, textCol: String,
             cfg: Config = Config()): DataFrame = {
    val q = qualityFilter(docs, textCol, cfg)
    val e = exactDedup(q, idCol, textCol)
    if (cfg.dropNearDups) nearDupFilter(e, idCol, textCol, cfg) else e
  }

  /** Per-stage accounting (one action per stage — callers log this). */
  def stats(docs: DataFrame, idCol: String, textCol: String,
            cfg: Config = Config()): Map[String, Long] = {
    val q = qualityFilter(docs, textCol, cfg)
    val e = exactDedup(q, idCol, textCol)
    val n = if (cfg.dropNearDups) nearDupFilter(e, idCol, textCol, cfg)
      else e
    Map("input" -> docs.count(), "after_quality" -> q.count(),
      "after_exact_dedup" -> e.count(), "after_near_dup" -> n.count())
  }
}
