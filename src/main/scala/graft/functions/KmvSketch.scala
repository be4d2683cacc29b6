package graft.functions

import org.apache.spark.sql.{Column, Encoder}
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions.udaf

/** K-minimum-values (KMV / bottom-k theta) distinct sketch as a typed
  * `Aggregator` — the mergeable-summary answer to "how many distinct, and
  * how much do two sets overlap, without ever joining them" (Bar-Yossef et
  * al. 2002; the Theta-sketch set algebra of Dasgupta et al. 2016).
  *
  * The sketch of a set is its k smallest DISTINCT hash values under a
  * uniform 64-bit hash. Estimators (computed by the consumer, not here):
  *   distinct(A)  ≈ (k-1) / u_k           u_k = k-th smallest, as (0,1)
  *   jaccard(A,B) ≈ |A_k ∩ B_k ∩ U_k| / k U_k = k smallest of A_k ∪ B_k
  * Both are plain array expressions over the finished sketch columns, so
  * cross-source overlap matrices cost a self-join of S rows (S = #groups),
  * never a data-scale join — the whole point at 100 TB.
  *
  * Hash-order convention: callers feed xxhash64 values with the sign bit
  * flipped (`bitwiseXOR(Long.MinValue)`), so SIGNED ascending order equals
  * unsigned order of the raw hash and the normalized rank of value v is
  * v/2⁶⁴ + 0.5. The buffer is a sorted distinct Array[Long] truncated to k;
  * per-row insertion is a binary search + bounded copy (O(k) worst case —
  * a production sketch amortizes with a heap + member set, same semantics),
  * and merge is a linear merge of two sorted arrays. Spark runs it as
  * partial aggregation per partition plus k-sized final merges, identical
  * to the HLL/CMS shape already in the suite; unlike HLL the sketch also
  * supports INTERSECTION, which is what q162 exists to show.
  */
class KmvSketch(k: Int) extends Aggregator[Long, Array[Long], Array[Long]]
    with Serializable {
  require(k > 0, s"k must be positive: $k")

  override def zero: Array[Long] = Array.emptyLongArray

  override def reduce(b: Array[Long], x: Long): Array[Long] = {
    val i = java.util.Arrays.binarySearch(b, x)
    if (i >= 0) b                         // already present
    else {
      val at = -i - 1
      if (at >= k) b                      // larger than the current k-th
      else {
        val n = math.min(b.length + 1, k)
        val out = new Array[Long](n)
        System.arraycopy(b, 0, out, 0, at)
        out(at) = x
        System.arraycopy(b, at, out, at + 1, n - at - 1)
        out
      }
    }
  }

  override def merge(b1: Array[Long], b2: Array[Long]): Array[Long] = {
    if (b1.isEmpty) return b2
    if (b2.isEmpty) return b1
    val out = new Array[Long](math.min(b1.length + b2.length, k))
    var i = 0; var j = 0; var o = 0
    while (o < out.length && (i < b1.length || j < b2.length)) {
      val take =
        if (i >= b1.length) { val v = b2(j); j += 1; v }
        else if (j >= b2.length) { val v = b1(i); i += 1; v }
        else if (b1(i) < b2(j)) { val v = b1(i); i += 1; v }
        else if (b1(i) > b2(j)) { val v = b2(j); j += 1; v }
        else { val v = b1(i); i += 1; j += 1; v }   // common value, once
      out(o) = take; o += 1
    }
    if (o == out.length) out else java.util.Arrays.copyOf(out, o)
  }

  override def finish(b: Array[Long]): Array[Long] = b

  override def bufferEncoder: Encoder[Array[Long]] = ExpressionEncoder()
  override def outputEncoder: Encoder[Array[Long]] = ExpressionEncoder()
}

object KmvSketch {
  /** Column form: bottom-k sketch of `c` (sign-flipped hash values). */
  def sketch(c: Column, k: Int): Column = udaf(new KmvSketch(k)).apply(c)

  /** Driver-side reference for specs: the k smallest distinct values. */
  def reference(xs: Seq[Long], k: Int): Seq[Long] =
    xs.distinct.sorted.take(k)
}
