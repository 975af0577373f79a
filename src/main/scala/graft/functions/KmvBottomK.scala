package graft.functions

import org.apache.spark.sql.{Column, Encoder, Encoders}
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions.{col, expr, when}

import scala.collection.mutable

/** Mergeable KMV (k-minimum-values) distinct-count sketch (Bar-Yossef et
  * al. 2002; merge rule from Agarwal et al., "Mergeable Summaries", PODS
  * 2012): keep the k smallest DISTINCT hash values seen; the k-th smallest
  * estimates the distinct count as (k−1)·2⁶⁰ ⁄ h_k for hashes uniform on
  * [0, 2⁶⁰). With fewer than k distinct hashes the sketch IS the exact
  * distinct set, so the estimate is exact — the same dual-regime posture
  * as [[graft.operators.Profile.kmvDistinct]], whose md5 hash family and
  * floor-division estimate this aggregate shares, making every output
  * value replayable in the DuckDB oracle despite being a sketch.
  *
  * The buffer is a bounded sorted set (≤ k longs), so partial aggregation
  * shuffles O(k) per partition and group regardless of input size, and the
  * same merge path serves batch GROUP BY and streaming window state — this
  * is the aggregate form of kmvDistinct for per-group / per-window use,
  * where the global bottom-k TakeOrdered trick doesn't apply. A north-star
  * addition; the reference contains no sketches (SURVEY.md §2c).
  *
  * Input: the already-hashed long ([[graft.operators.Dedup.portableHash]]
  * output — hashing stays in codegen'd expressions, the UDAF only
  * maintains order statistics). Output: (n_kept, h_k) — the estimate is a
  * plain column formula over these, kept OUT of the aggregate so the
  * oracle replays it as SQL.
  */
class KmvBottomK(k: Int)
    extends Aggregator[Long, mutable.ArrayBuffer[Long], (Long, Long)] {
  require(k >= 2, "k must be >= 2")

  // buffer invariant: sorted ascending, distinct, length <= k (a sorted
  // ArrayBuffer, not TreeSet: it encodes natively as array<bigint>, the
  // durable on-disk form of the SketchSidecar state)
  override def zero: mutable.ArrayBuffer[Long] =
    mutable.ArrayBuffer.empty[Long]

  private def offer(buf: mutable.ArrayBuffer[Long], h: Long): Unit = {
    if (buf.length == k && h >= buf.last) return
    import scala.collection.Searching._
    buf.search(h) match {
      case Found(_) => () // re-seen hash: set semantics
      case InsertionPoint(i) =>
        buf.insert(i, h)
        if (buf.length > k) buf.remove(buf.length - 1)
    }
  }

  override def reduce(buf: mutable.ArrayBuffer[Long],
      h: Long): mutable.ArrayBuffer[Long] = { offer(buf, h); buf }

  override def merge(a: mutable.ArrayBuffer[Long],
      b: mutable.ArrayBuffer[Long]): mutable.ArrayBuffer[Long] = {
    if (b.length <= a.length) { b.foreach(offer(a, _)); a }
    else { a.foreach(offer(b, _)); b }
  }

  /** (number of kept hashes, largest kept hash; (0, 0) for no input). */
  override def finish(buf: mutable.ArrayBuffer[Long]): (Long, Long) =
    (buf.length.toLong, if (buf.isEmpty) 0L else buf.last)

  override def bufferEncoder: Encoder[mutable.ArrayBuffer[Long]] =
    ExpressionEncoder[mutable.ArrayBuffer[Long]]()
  override def outputEncoder: Encoder[(Long, Long)] =
    Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong)
}

object KmvBottomK {
  /** The distinct-count estimate over columns `n_kept` and `h_k` (the
    * aggregate's output, named): exact below k, else the floor of
    * (k−1)·2⁶⁰ ⁄ h_k, computed in DECIMAL(38,0).
    */
  def estimate(k: Int): Column =
    when(col("n_kept") < k, col("n_kept")).otherwise(
      expr(s"CAST((CAST(${k - 1} AS DECIMAL(38,0)) * 1152921504606846976)" +
        " div h_k AS BIGINT)"))

  /** SQL-name registration (the [[TopK]]/[[CountMin]] pattern):
    * `kmv_bottom_k<k>(hash)` per size, for SQL-only clients. Input is the
    * portableHash long; output the (n_kept, h_k) struct — the estimate
    * stays a plain column formula so oracles replay it as SQL.
    */
  def register(spark: org.apache.spark.sql.SparkSession,
      ks: Seq[Int] = Seq(64, 256)): Unit =
    ks.foreach { k =>
      spark.udf.register(s"kmv_bottom_k$k",
        org.apache.spark.sql.functions.udaf(new KmvBottomK(k)))
    }
}
