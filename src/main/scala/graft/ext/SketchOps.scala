package graft.ext

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.functions.native

/** Frequency-sketch operators: count-min-sketch heavy hitters with
  * in-query error-bound verification.
  *
  * Scale shape: the sketch is a fixed-size (d×w counters) mergeable
  * aggregate — partial sketches combine map-side, so the shuffle
  * carries one sketch per partition regardless of key cardinality;
  * the exact top-k side is an ordinary partial-agg + TakeOrdered. The
  * candidate verification (broadcast one-row sketch × k keys) is the
  * [[graft.functions.CmsEstimate]] read path. At 100 TB the exact side
  * is the expensive one — the production pattern is sketch-only
  * estimates for monitoring, with the exact pass run on demand; this
  * op runs both precisely so the sketch's ±eps·N guarantee is PROVEN
  * in-query (the same verified-twin discipline as `approx_distinct`).
  */
object SketchOps {

  /** Exact top-k keys by frequency, each verified against a
    * count-min sketch of the whole keyspace: `lower_ok` (estimate >=
    * exact — CMS never underestimates) must be true for every row;
    * `upper_ok` (estimate <= exact + ceil(eps·N)) is the one-sided
    * error bound, which holds with probability `confidence` per
    * query and deterministically for a fixed seed/dataset. The sketch
    * shape is fixed at eps = 0.001, confidence = 0.99, seed = 42, the
    * same as the maintained [[graft.etl.RollupMaintain.updateCms]]
    * store. */
  def heavyHittersVerified(df: DataFrame, keyCol: String,
                           topK: Int): DataFrame = {
    val eps = 0.001
    val confidence = 0.99
    val seed = 42
    val exact = df.groupBy(col(keyCol))
      .agg(count(lit(1)).as("n_exact"))
      .orderBy(col("n_exact").desc, col(keyCol))
      .limit(topK)
    val sketch = df.agg(
      count_min_sketch(col(keyCol), lit(eps), lit(confidence),
        lit(seed)).as("__cms"),
      count(lit(1)).as("__n_total"))
    exact.crossJoin(broadcast(sketch))
      .withColumn("__est", native.cms_estimate(col("__cms"), col(keyCol)))
      .select(col(keyCol), col("n_exact"),
        (col("__est") >= col("n_exact")).as("lower_ok"),
        (col("__est") <= col("n_exact") +
          ceil(lit(eps) * col("__n_total"))).as("upper_ok"))
  }
}
