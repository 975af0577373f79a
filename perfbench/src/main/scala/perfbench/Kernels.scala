package perfbench

import scala.util.Random

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BoundReference, UnsafeArrayData}
import org.apache.spark.sql.types.{ArrayType, LongType}
import org.apache.spark.unsafe.types.UTF8String

import graft.functions._

/** Direct calls into the `graft.functions` kernels on in-memory inputs,
  * with no Spark job around them: the per-element and per-row cost of each
  * fold on its own.
  */
object Kernels {
  private val rows = 20000
  private val width = MonoidAgg.width

  /** Median nanoseconds of `reps` timed runs of `body` (after two untimed). */
  private def timeNs(reps: Int)(body: => Unit): Double = {
    body; body
    val ts = (1 to reps).map { _ =>
      val t0 = System.nanoTime(); body; (System.nanoTime() - t0).toDouble
    }.sorted
    ts(ts.size / 2)
  }

  def run(): Seq[(String, Double, String)] = {
    val rnd = new Random(7)
    val longs = Array.fill(rows)(Array.fill(width)(rnd.nextInt(2001) - 1000L))
    val unsafeRows: Array[InternalRow] =
      longs.map(a => InternalRow(UnsafeArrayData.fromPrimitiveArray(a)))
    val boxed = longs.map(_.toSeq.map(Option(_)))
    val strings = Array.tabulate(rows)(i => UTF8String.fromString(s"row-$i"))
    val hashes = strings.map(PortableHash60.hash)
    val xs = Array.fill(rows)(rnd.nextDouble())
    val items = Array.fill(rows)(
      s"item${math.floor(math.pow(rnd.nextDouble(), 4) * 1000).toInt}")
    val reps = 9
    val elems = rows.toDouble * width

    val native = ArrayReduceAgg(BoundReference(0, ArrayType(LongType, false), true), "sum")
    var nativeBuf = native.createAggregationBuffer()
    val nativeNs = timeNs(reps) {
      nativeBuf = native.createAggregationBuffer()
      var i = 0
      while (i < rows) { native.update(nativeBuf, unsafeRows(i)); i += 1 }
    }
    val udaf = new ArrayMonoidReduce[Long](Monoid.sumLong)
    val udafNs = timeNs(reps) {
      var b = udaf.zero
      var i = 0
      while (i < rows) { b = udaf.reduce(b, boxed(i)); i += 1 }
    }
    val hashNs = timeNs(reps) {
      var i = 0
      while (i < rows) { PortableHash60.hash(strings(i)); i += 1 }
    }
    def perRow[B](agg: org.apache.spark.sql.expressions.Aggregator[_, B, _])(
        step: (B, Int) => B): Double = timeNs(reps) {
      var b = agg.zero
      var i = 0
      while (i < rows) { b = step(b, i); i += 1 }
    } / rows
    val hll = new HllSketch(12)
    val kll = new KllSketch(1024, Seq(500, 900, 990))
    val cms = new CountMinAgg(3, 64)
    val kmv = new KmvBottomK(256)
    val topk = new ApproxTopK(10)
    Seq(
      ("functions.array_reduce_native.ns_per_elem", nativeNs / elems, "ns"),
      ("functions.array_reduce_udaf.ns_per_elem", udafNs / elems, "ns"),
      ("functions.array_reduce.state_bytes",
        native.serialize(nativeBuf).length.toDouble, "bytes"),
      ("functions.portable_hash60.ns_per_row", hashNs / rows, "ns"),
      ("functions.sketch.hll.ns_per_row", perRow(hll)((b, i) => hll.reduce(b, hashes(i))), "ns"),
      ("functions.sketch.kll.ns_per_row",
        perRow(kll)((b, i) => kll.reduce(b, (hashes(i), xs(i)))), "ns"),
      ("functions.sketch.cms.ns_per_row",
        perRow(cms)((b, i) => cms.reduce(b, items(i))), "ns"),
      ("functions.sketch.kmv.ns_per_row", perRow(kmv)((b, i) => kmv.reduce(b, hashes(i))), "ns"),
      ("functions.sketch.topk.ns_per_row",
        perRow(topk)((b, i) => topk.reduce(b, items(i))), "ns"))
  }
}
