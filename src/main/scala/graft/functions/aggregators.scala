package graft.functions

import org.apache.spark.sql.{Column, Encoder, Encoders}
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions.udaf

/** Element-wise mean of a dense vector column — the custom AGGREGATE
  * extension point (`Aggregator` + `functions.udaf`), complementing
  * the scalar `Expression`s in [[expressions]].
  *
  * Scale rationale: the composable formulation (posexplode → group by
  * (key, dim) → regroup, see the `vector_centroids` query) shuffles
  * rows × dims rows; this aggregate's partial buffers are ONE
  * (sum-vector, count) pair per partition per group — the shuffle
  * carries partials, not elements, exactly like a built-in partial
  * aggregate. The IVF mean-recompute and any embedding-pooling
  * pipeline is this shape.
  *
  * Null/ragged handling: null AND empty vectors are ignored (an
  * empty vector carries no components, and counting it would dilute
  * the mean); ragged groups are handled per-dimension — the buffer
  * grows to the LONGEST vector seen and each dimension tracks its
  * own count, so dimension i's output is the mean over exactly the
  * vectors that have a dimension i. No vector is truncated, and the
  * result is independent of encounter/partition order (uniform-length
  * groups — the normal case — reduce to the plain element-wise mean).
  * A group with no non-empty vectors yields an empty array. */
object VectorAvg extends Aggregator[Seq[Float], (Array[Double], Array[Long]), Seq[Double]] {

  override def zero: (Array[Double], Array[Long]) =
    (Array.empty[Double], Array.empty[Long])

  override def reduce(b: (Array[Double], Array[Long]),
                      a: Seq[Float]): (Array[Double], Array[Long]) = {
    if (a == null || a.isEmpty) b
    else {
      val sums =
        if (b._1.length >= a.length) b._1
        else java.util.Arrays.copyOf(b._1, a.length)
      val counts =
        if (b._2.length >= a.length) b._2
        else java.util.Arrays.copyOf(b._2, a.length)
      var i = 0
      while (i < a.length) { sums(i) += a(i); counts(i) += 1; i += 1 }
      (sums, counts)
    }
  }

  override def merge(x: (Array[Double], Array[Long]),
                     y: (Array[Double], Array[Long])): (Array[Double], Array[Long]) = {
    if (x._1.isEmpty) y
    else if (y._1.isEmpty) x
    else {
      // accumulate the shorter pair into the longer
      val (big, small) = if (x._1.length >= y._1.length) (x, y) else (y, x)
      var i = 0
      while (i < small._1.length) {
        big._1(i) += small._1(i); big._2(i) += small._2(i); i += 1
      }
      big
    }
  }

  override def finish(b: (Array[Double], Array[Long])): Seq[Double] =
    // every dimension that exists was contributed by at least the
    // vector that set the buffer length, so counts are all > 0
    b._1.toSeq.zip(b._2).map { case (s, c) => s / c }

  override def bufferEncoder: Encoder[(Array[Double], Array[Long])] =
    ExpressionEncoder[(Array[Double], Array[Long])]()
  override def outputEncoder: Encoder[Seq[Double]] =
    ExpressionEncoder[Seq[Double]]()

  /** Column form for untyped DataFrame aggregation. */
  def column(vec: Column): Column =
    udaf(this, ExpressionEncoder[Seq[Float]]()).apply(vec)
}

/** Mergeable union of serialized count-min sketches (the binaries
  * Spark's built-in `count_min_sketch` aggregate produces): CMS
  * merge is element-wise counter addition, so the union is exact,
  * associative, and commutative — the maintained sketch's counters
  * (and therefore every [[CmsEstimate]] read) are IDENTICAL to a
  * one-shot sketch over all data, regardless of batch/partition
  * order. This is the cross-batch maintenance path for frequency
  * sketches, the CMS analog of `hll_union_agg`
  * ([[graft.etl.RollupMaintain.updateDistinctRollup]]); sketches
  * must share (eps, confidence, seed) — CountMinSketch.mergeInPlace
  * rejects incompatible dimensions. Null inputs are ignored; an
  * all-null group yields null. */
object CmsUnion extends Aggregator[Array[Byte], Array[Byte], Array[Byte]] {
  private def read(bytes: Array[Byte]) =
    org.apache.spark.util.sketch.CountMinSketch
      .readFrom(new java.io.ByteArrayInputStream(bytes))
  private def write(
      s: org.apache.spark.util.sketch.CountMinSketch): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    s.writeTo(out)
    out.toByteArray
  }

  override def zero: Array[Byte] = null

  override def reduce(b: Array[Byte], a: Array[Byte]): Array[Byte] =
    merge(b, a)

  override def merge(x: Array[Byte], y: Array[Byte]): Array[Byte] =
    if (x == null) y
    else if (y == null) x
    else {
      val s = read(x)
      s.mergeInPlace(read(y))
      write(s)
    }

  override def finish(b: Array[Byte]): Array[Byte] = b

  override def bufferEncoder: Encoder[Array[Byte]] = Encoders.BINARY
  override def outputEncoder: Encoder[Array[Byte]] = Encoders.BINARY

  /** Column form for untyped DataFrame aggregation. */
  def column(sketch: Column): Column =
    udaf(this, Encoders.BINARY).apply(sketch)
}

/** Bounded k-smallest aggregate over a LONG column — the hot-key-safe
  * replacement for the `row_number() OVER (PARTITION BY key ORDER BY
  * id) <= k` sampling window: the window form pins EVERY row of a hot
  * key into one sorted partition (a stopword token's postings are the
  * whole corpus — one straggler task at any cluster width), while
  * this aggregate's partial state never exceeds `k` longs per group
  * per input partition — map-side combinable, merge = two-pointer
  * sorted merge capped at `k`. Output is the group's `k` smallest
  * values ascending (duplicates retained — feed distinct rows for a
  * distinct sample). The same shape serves any bounded-statistics
  * fold over a skewed key (catalog rows, shard samples, first-k
  * audits). */
final class MinKLong(k: Int)
    extends Aggregator[Long, Array[Long], Seq[Long]] {
  require(k >= 1, "k >= 1")

  override def zero: Array[Long] = Array.emptyLongArray

  override def reduce(b: Array[Long], a: Long): Array[Long] =
    if (b.length >= k && a >= b(b.length - 1)) b
    else {
      val p0 = java.util.Arrays.binarySearch(b, a)
      val pos = if (p0 >= 0) p0 else -p0 - 1
      val n = math.min(k, b.length + 1)
      val out = new Array[Long](n)
      System.arraycopy(b, 0, out, 0, math.min(pos, n))
      if (pos < n) {
        out(pos) = a
        System.arraycopy(b, pos, out, pos + 1, n - pos - 1)
      }
      out
    }

  override def merge(x: Array[Long], y: Array[Long]): Array[Long] = {
    if (x.isEmpty) y
    else if (y.isEmpty) x
    else {
      val out = new Array[Long](math.min(k, x.length + y.length))
      var i = 0; var j = 0; var o = 0
      while (o < out.length) {
        if (i < x.length && (j >= y.length || x(i) <= y(j))) {
          out(o) = x(i); i += 1
        } else { out(o) = y(j); j += 1 }
        o += 1
      }
      out
    }
  }

  override def finish(b: Array[Long]): Seq[Long] = b.toSeq

  override def bufferEncoder: Encoder[Array[Long]] =
    ExpressionEncoder[Array[Long]]()
  override def outputEncoder: Encoder[Seq[Long]] =
    ExpressionEncoder[Seq[Long]]()
}

object MinKLong {
  /** Column form for untyped DataFrame aggregation. */
  def column(c: Column, k: Int): Column =
    udaf(new MinKLong(k), Encoders.scalaLong).apply(c)
}

/** Bounded top-`k` (value, idA, idB) rows per group under the total
  * order (value DESC, idA ASC, idB ASC) — the ONE-PASS form of
  * "top-k pairs by similarity per key". The [[MinKLong]] argument
  * applied to a value-carrying stream: partial state never exceeds
  * `k` triples per group per input partition (map-side combinable,
  * merge = two-pointer sorted merge capped at `k`), so a
  * compute-cheap byte-heavy pair stream — the quadratic verification
  * tiers — is consumed ONCE, where both the rank window (sorts every
  * pair of a hot key in one task) and the histogram-threshold
  * two-pass form (`Relational.topNPerKeyByValue`, deleted, source
  * at 2f967c5) re-generate the stream per pass. Exact under the same total
  * order as `row_number() OVER (ORDER BY value DESC, idA, idB) <= k`
  * (values compared as the rounded doubles both engines carry).
  * Output: the group's top-k triples, best first. */
final class TopKValuePairs(k: Int)
    extends Aggregator[(Double, Long, Long),
      Array[(Double, Long, Long)], Seq[(Double, Long, Long)]] {
  require(k >= 1, "k >= 1")
  // (value desc, idA asc, idB asc): returns true when x ranks
  // strictly better than y
  private def better(x: (Double, Long, Long),
                     y: (Double, Long, Long)): Boolean =
    if (x._1 != y._1) x._1 > y._1
    else if (x._2 != y._2) x._2 < y._2
    else x._3 < y._3

  override def zero: Array[(Double, Long, Long)] = Array.empty

  override def reduce(b: Array[(Double, Long, Long)],
                      a: (Double, Long, Long)): Array[(Double, Long, Long)] =
    if (b.length >= k && !better(a, b(b.length - 1))) b
    else {
      var pos = 0
      while (pos < b.length && better(b(pos), a)) pos += 1
      val n = math.min(k, b.length + 1)
      val out = new Array[(Double, Long, Long)](n)
      System.arraycopy(b, 0, out, 0, math.min(pos, n))
      if (pos < n) {
        out(pos) = a
        System.arraycopy(b, pos, out, pos + 1, n - pos - 1)
      }
      out
    }

  override def merge(x: Array[(Double, Long, Long)],
                     y: Array[(Double, Long, Long)]): Array[(Double, Long, Long)] =
    if (x.isEmpty) y
    else if (y.isEmpty) x
    else {
      val out =
        new Array[(Double, Long, Long)](math.min(k, x.length + y.length))
      var i = 0; var j = 0; var o = 0
      while (o < out.length) {
        if (i < x.length && (j >= y.length || better(x(i), y(j)) ||
            x(i) == y(j))) {
          out(o) = x(i); i += 1
        } else { out(o) = y(j); j += 1 }
        o += 1
      }
      out
    }

  override def finish(b: Array[(Double, Long, Long)]): Seq[(Double, Long, Long)] =
    b.toSeq

  override def bufferEncoder: Encoder[Array[(Double, Long, Long)]] =
    ExpressionEncoder[Array[(Double, Long, Long)]]()
  override def outputEncoder: Encoder[Seq[(Double, Long, Long)]] =
    ExpressionEncoder[Seq[(Double, Long, Long)]]()
}

object TopKValuePairs {
  /** Column form; `value` DOUBLE, `idA`/`idB` LONG. */
  def column(value: Column, idA: Column, idB: Column, k: Int): Column =
    udaf(new TopKValuePairs(k),
      ExpressionEncoder[(Double, Long, Long)]()).apply(value, idA, idB)
}
