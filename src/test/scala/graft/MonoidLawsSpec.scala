package graft

import graft.functions._
import org.apache.spark.sql.expressions.Aggregator
import org.scalacheck.Prop.forAll
import org.scalacheck.{Gen, Prop, Test => SCTest}
import org.scalatest.funsuite.AnyFunSuite

/** Property tests of the monoid laws — identity, associativity, and
  * split-invariance of the fold. Associativity is the contract that makes
  * Spark's partial → shuffle → final aggregation of [[ArrayMonoidReduce]]
  * correct at any parallelism (SURVEY.md §5c); the reference relies on it
  * implicitly via `merge_batch` (reference src/monoid.rs:445-465). The
  * same laws hold for every Aggregator's buffer under (zero, merge) —
  * the mergeable-summaries guarantee (Agarwal et al., PODS 2012) that
  * the sketches' shuffle merges and the SketchSidecar fold rely on.
  */
class MonoidLawsSpec extends AnyFunSuite {

  /** Run a ScalaCheck property under ScalaTest (scalatestplus bridge is not
    * on the offline classpath, so drive scalacheck's Test runner directly).
    */
  private def check(p: Prop): Unit = {
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(200), p)
    assert(res.passed, res.status.toString)
  }

  private def laws[T](name: String, m: Monoid[T], gen: Gen[T],
      eq: (T, T) => Boolean = (a: T, b: T) => a == b,
      maxLen: Int = 100): Unit = {
    test(s"$name: identity") {
      check(forAll(gen) { a =>
        eq(m.combine(a, m.identity), a) && eq(m.combine(m.identity, a), a)
      })
    }
    test(s"$name: associativity") {
      check(forAll(gen, gen, gen) { (a, b, c) =>
        eq(m.combine(m.combine(a, b), c), m.combine(a, m.combine(b, c)))
      })
    }
    test(s"$name: split-invariance (any partitioning folds equal)") {
      val listGen = Gen.choose(0, maxLen).flatMap(n => Gen.listOfN(n, gen))
      check(forAll(listGen, Gen.chooseNum(0, 100)) { (xs, cut0) =>
        val cut = if (xs.isEmpty) 0 else cut0 % (xs.length + 1)
        val (l, r) = xs.splitAt(cut)
        val whole = xs.foldLeft(m.identity)(m.combine)
        val split = m.combine(
          l.foldLeft(m.identity)(m.combine),
          r.foldLeft(m.identity)(m.combine))
        eq(whole, split)
      })
    }
  }

  // Integer monoids: lawful everywhere EXCEPT saturating sum/product lose
  // associativity at the type bounds (as in the Rust reference — saturation
  // is a deliberate deviation from the pure monoid). Test int sum/product on
  // ranges where saturation cannot trigger, and the bounds behavior
  // separately in ArrayReduceSpec.
  laws("sumInt", Monoid.sumInt, Gen.chooseNum(-1000000, 1000000))
  // product lists capped at 8 elements: |v| <= 10 and n <= 8 keeps |prod| <=
  // 10^8 < Int.MaxValue, so saturation (which genuinely breaks
  // split-invariance for signed products: [10]*10 :+ -1 folds to -MaxValue
  // whole but MinValue split) cannot trigger — same caveat as the reference's
  // saturating_mul, covered separately in the bounds test below
  laws("productInt", Monoid.productInt, Gen.chooseNum(-10, 10), maxLen = 8)
  laws("sumLong", Monoid.sumLong, Gen.chooseNum(-1000000L, 1000000L))
  laws("maxInt (full range incl. bounds)", Monoid.maxInt, Gen.chooseNum(Int.MinValue, Int.MaxValue))
  laws("minInt (full range incl. bounds)", Monoid.minInt, Gen.chooseNum(Int.MinValue, Int.MaxValue))
  laws("maxLong", Monoid.maxLong, Gen.chooseNum(Long.MinValue, Long.MaxValue))
  laws("minByte", Monoid.minByte, Gen.chooseNum(Byte.MinValue, Byte.MaxValue))
  laws("maxShort", Monoid.maxShort, Gen.chooseNum(Short.MinValue, Short.MaxValue))

  // Float max/min are exactly associative (no rounding); NaN excluded —
  // the reference's f32::max propagates NaN asymmetrically, same as JVM.
  laws("maxFloat", Monoid.maxFloat, Gen.chooseNum(-1e30f, 1e30f))
  laws("minDouble", Monoid.minDouble, Gen.chooseNum(-1e300, 1e300))

  // u64 on the BigDecimal carrier: lawful in non-saturating ranges, exact
  laws("sumU64", Monoid.sumU64,
    Gen.chooseNum(0L, 1000000L).map(BigDecimal(_)))
  laws("maxU64 (full u64 range)", Monoid.maxU64,
    Gen.chooseNum(0L, Long.MaxValue).map(v => BigDecimal(v) * 2))
  laws("minU64 (full u64 range)", Monoid.minU64,
    Gen.chooseNum(0L, Long.MaxValue).map(v => BigDecimal(v) * 2))

  /** The monoid laws for an Aggregator's buffer: `zero` is the identity
    * of `merge`, `merge` is associative, and merging the states of any
    * split of the inputs equals the state of the whole. States are
    * compared through `finish`, and every side is built from fresh
    * states, because `merge` mutates its left argument (and may return
    * either one).
    */
  private def aggLaws[IN, S, OUT](name: String, agg: Aggregator[IN, S, OUT],
      gen: Gen[IN]): Unit = {
    def state(xs: Seq[IN]): S = xs.foldLeft(agg.zero)(agg.reduce)
    def out(xs: Seq[IN]): OUT = agg.finish(state(xs))
    val listGen = Gen.choose(0, 100).flatMap(n => Gen.listOfN(n, gen))
    test(s"$name: identity") {
      check(forAll(listGen) { xs =>
        agg.finish(agg.merge(state(xs), agg.zero)) == out(xs) &&
          agg.finish(agg.merge(agg.zero, state(xs))) == out(xs)
      })
    }
    test(s"$name: associativity") {
      check(forAll(listGen, listGen, listGen) { (a, b, c) =>
        agg.finish(agg.merge(agg.merge(state(a), state(b)), state(c))) ==
          agg.finish(agg.merge(state(a), agg.merge(state(b), state(c))))
      })
    }
    test(s"$name: split-invariance (any partitioning folds equal)") {
      check(forAll(listGen, Gen.chooseNum(0, 100)) { (xs, cut0) =>
        val (l, r) = xs.splitAt(cut0 % (xs.length + 1))
        agg.finish(agg.merge(state(l), state(r))) == out(xs)
      })
    }
  }

  private val hash60: Gen[Long] = Gen.chooseNum(0L, (1L << 60) - 1L)

  // ArrayMonoidReduce: lawful over arrays of ONE length only — merge
  // keeps the left array's length (reference truncation semantics), so
  // [1,2] ⊕ [3,4,5] and [3,4,5] ⊕ [1,2] differ; and, as above, integer
  // sums only where saturation cannot trigger. Null elements (identity)
  // and null rows (skipped) are in the generator.
  private def rowsOf[T](g: Gen[T]): Gen[Seq[Option[T]]] =
    Gen.frequency(1 -> Gen.const(null: Seq[Option[T]]),
      9 -> Gen.listOfN(4, Gen.option(g)).map(_.toSeq))
  aggLaws("ArrayMonoidReduce sumLong",
    new ArrayMonoidReduce[Long](Monoid.sumLong),
    rowsOf(Gen.chooseNum(-1000000L, 1000000L)))
  aggLaws("ArrayMonoidReduce maxInt (full range)",
    new ArrayMonoidReduce[Int](Monoid.maxInt),
    rowsOf(Gen.chooseNum(Int.MinValue, Int.MaxValue)))

  // The sketches: every state is a pure function of the input multiset,
  // so the laws hold exactly. Small sizes (p, k, width) make the merges
  // collide, raise levels and evict within 100 inputs.
  aggLaws("HllSketch", new HllSketch(4), hash60)
  aggLaws("KmvBottomK", new KmvBottomK(8),
    Gen.oneOf(Gen.chooseNum(0L, 40L), hash60)) // repeats + spread
  aggLaws("KllSketch", new KllSketch(16, Seq(100, 500, 990)),
    Gen.zip(hash60, Gen.chooseNum(-50.0, 50.0)))
  aggLaws("KllWeightedSketch", new KllWeightedSketch(16, Seq(100, 500, 990)),
    Gen.zip(hash60, Gen.chooseNum(-50.0, 50.0),
      Gen.chooseNum(-2L, 1000L))) // out-of-range weights drop
  aggLaws("CountMinAgg", new CountMinAgg(3, 8),
    Gen.frequency(1 -> Gen.const(null: String),
      9 -> Gen.choose(0, 30).map(i => s"v$i")))
  // ApproxTopK (Misra–Gries) is exactly associative only in its exact
  // regime, distinct ≤ k: past k, eviction decrements depend on merge
  // order (the counterexample is pinned below), while the N/(k+1)
  // error bound still holds (SketchSpec). Ten values for k = 10.
  aggLaws("ApproxTopK (distinct <= k)", new ApproxTopK(10),
    Gen.choose(0, 9).map(i => s"v$i"))

  test("ApproxTopK past k: merge order changes the state") {
    val agg = new ApproxTopK(1)
    def st(vs: String*) = vs.foldLeft(agg.zero)(agg.reduce)
    // {x:2}, {y:1}, {z:1}: folded left, y and z each decrement x away;
    // folded right, y and z cancel each other before meeting x
    val left = agg.merge(agg.merge(st("x", "x"), st("y")), st("z"))
    val right = agg.merge(st("x", "x"), agg.merge(st("y"), st("z")))
    assert(agg.finish(left) == Seq.empty)
    assert(agg.finish(right) == Seq(("x", 2L)))
  }

  test("u64 saturation clamps exactly at [0, 2^64-1]") {
    val max = Monoid.maxU64Value
    assert(Monoid.sumU64.combine(max, BigDecimal(1)) == max)
    assert(Monoid.sumU64.combine(max - 1, BigDecimal(1)) == max)
    assert(Monoid.productU64.combine(max, BigDecimal(2)) == max)
    assert(Monoid.minU64.identity == max) // identity = u64::MAX
    assert(Monoid.maxU64.identity == BigDecimal(0)) // identity = u64::MIN
  }

  test("saturation clamps exactly at the Rust bounds") {
    assert(Monoid.sumInt.combine(Int.MaxValue, 1) == Int.MaxValue)
    assert(Monoid.sumInt.combine(Int.MinValue, -1) == Int.MinValue)
    assert(Monoid.productInt.combine(Int.MaxValue, 2) == Int.MaxValue)
    assert(Monoid.productInt.combine(Int.MaxValue, -2) == Int.MinValue)
    assert(Monoid.productInt.combine(Int.MinValue, -1) == Int.MaxValue)
    assert(Monoid.sumLong.combine(Long.MaxValue, 1L) == Long.MaxValue)
    assert(Monoid.sumLong.combine(Long.MinValue, -1L) == Long.MinValue)
    assert(Monoid.productLong.combine(Long.MaxValue, 2L) == Long.MaxValue)
    assert(Monoid.productLong.combine(Long.MinValue, -1L) == Long.MaxValue)
    assert(Monoid.sumByte.combine(127.toByte, 1.toByte) == 127.toByte)
    assert(Monoid.sumShort.combine(Short.MinValue, (-5).toShort) == Short.MinValue)
  }
}
