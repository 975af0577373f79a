package graft

import graft.sources.Tables
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions._

import scala.reflect.runtime.universe.TypeTag

/** Approximate sketches have no cross-engine oracle — their contract is an
  * error bound vs the exact answer, asserted here.
  */
class SketchSpec extends SparkSpec {

  private lazy val li = spark.read.parquet(s"$sfDir/lineitem.parquet").cache()

  test("approx_count_distinct within 5% of exact") {
    val exact = li.select(countDistinct(col("l_partkey"))).collect()(0).getLong(0)
    val approx = li.select(approx_count_distinct(col("l_partkey"))).collect()(0).getLong(0)
    val err = math.abs(approx - exact).toDouble / exact
    assert(err <= 0.05, s"HLL error $err (approx=$approx exact=$exact)")
  }

  test("percentile_approx(0.5) within one quantile step of exact median") {
    val exact = li.stat.approxQuantile("l_quantity", Array(0.5), 0.0)(0)
    val approx = li.select(percentile_approx(col("l_quantity"), lit(0.5), lit(10000)))
      .collect()(0).getDouble(0)
    assert(math.abs(approx - exact) <= 1.0,
      s"median approx=$approx exact=$exact")
  }

  test("datasketches HLL round-trips through sketch merge") {
    Tables.load(spark, sfDir)
    // partial sketches per group, merged to a global estimate — the
    // distributed pattern a 100 TB rollup would persist
    val merged = spark.sql(
      """SELECT hll_sketch_estimate(hll_union_agg(sk)) AS est FROM (
        |  SELECT l_returnflag, hll_sketch_agg(l_partkey) AS sk
        |  FROM lineitem GROUP BY l_returnflag)""".stripMargin)
      .collect()(0).getLong(0)
    val exact = li.select(countDistinct(col("l_partkey"))).collect()(0).getLong(0)
    assert(math.abs(merged - exact).toDouble / exact <= 0.05)
  }

  test("ApproxTopK (Misra-Gries): exact when k >= distinct, bounded when not") {
    import spark.implicits._
    graft.functions.ApproxTopK.register(spark, Seq(2, 5))
    // skewed stream across 8 partitions → real partial/merge path
    val data = (Seq.fill(1000)("a") ++ Seq.fill(500)("b") ++
      Seq.fill(200)("c") ++ Seq.fill(100)("d"))
    val df = data.toDF("v").repartition(8)
    df.createOrReplaceTempView("mg_in")

    // k=5 >= 4 distinct → exact counts in rank order
    val exact = spark.sql(
      "SELECT explode(approx_top_k_5(v)) AS t FROM mg_in")
      .select("t._1", "t._2").collect().map(r => (r.getString(0), r.getLong(1)))
    assert(exact.toSeq == Seq(("a", 1000L), ("b", 500L), ("c", 200L), ("d", 100L)))

    // k=2 < distinct: the N/(k+1) guarantees of Misra-Gries
    val n = data.size.toLong
    val bound = n / 3 // N/(k+1)
    val approx = spark.sql(
      "SELECT explode(approx_top_k_2(v)) AS t FROM mg_in")
      .select("t._1", "t._2").collect().map(r => (r.getString(0), r.getLong(1))).toMap
    val trueCounts = Map("a" -> 1000L, "b" -> 500L, "c" -> 200L, "d" -> 100L)
    // any value with frequency > N/(k+1) must be reported
    trueCounts.filter(_._2 > bound).keys.foreach(v =>
      assert(approx.contains(v), s"heavy hitter $v missing: $approx"))
    // reported counts are lower bounds within N/(k+1) of the truth
    approx.foreach { case (v, c) =>
      assert(c <= trueCounts(v), s"$v overcounted: $c")
      assert(trueCounts(v) - c <= bound, s"$v undercounted beyond bound: $c")
    }
  }

  test("CountMin: never underestimates; exact in the sparse regime") {
    import spark.implicits._
    import graft.functions.CountMin
    // 200 distinct keys >> width 16: collisions guaranteed → estimates may
    // exceed truth but NEVER fall below it (the CMS guarantee)
    val rnd = new scala.util.Random(11)
    val values = Seq.fill(5000)(s"k${rnd.nextInt(200)}")
    val df = values.toDF("v")
    graft.functions.CountMin.register(spark, Seq((3, 16), (3, 64)))
    val sk = df.agg(expr("count_min_3x16(v)")).collect()(0).getSeq[Long](0)
    val trueCounts = values.groupBy(identity).view.mapValues(_.size.toLong)
    trueCounts.foreach { case (v, n) =>
      val est = CountMin.estimate(sk, v, 3, 16)
      assert(est >= n, s"$v underestimated: $est < $n")
    }
    // sparse regime (3 distinct << 64 wide): exact unless all 3 rows
    // collide — and for these keys they don't, so estimates are equal
    val sparse = Seq("a", "a", "b", "c", "c", "c").toDF("v")
    val sk2 = sparse.agg(expr("count_min_3x64(v)")).collect()(0).getSeq[Long](0)
    assert(CountMin.estimate(sk2, "a", 3, 64) == 2L)
    assert(CountMin.estimate(sk2, "b", 3, 64) == 1L)
    assert(CountMin.estimate(sk2, "c", 3, 64) == 3L)
  }

  test("CountMin: sketch is partition-layout invariant (mergeable monoid)") {
    import spark.implicits._
    val values = (1 to 2000).map(i => s"k${i % 37}")
    graft.functions.CountMin.register(spark, Seq((3, 64)))
    val sketches = Seq(1, 7, 32).map { parts =>
      values.toDF("v").repartition(parts)
        .agg(expr("count_min_3x64(v)")).collect()(0).getSeq[Long](0)
    }
    assert(sketches.distinct.size == 1,
      "merge order must not change the counters (element-wise sum)")
  }

  test("CountMin: SQL estimateCol replays the JVM bucket math exactly") {
    import spark.implicits._
    import graft.functions.CountMin
    val keys = (1 to 100).map(i => s"key-$i%weird charsé$i")
    val df = keys.toDF("v")
    graft.functions.CountMin.register(spark, Seq((4, 23))) // non-power-of-2
    val skRow = df.agg(expr("count_min_4x23(v)").as("sk"))
    val viaSql = keys.toDF("k").crossJoin(broadcast(skRow))
      .select(col("k"), CountMin.estimateCol(col("sk"), col("k"), 4, 23).as("e"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val sk = skRow.collect()(0).getSeq[Long](0)
    keys.foreach { k =>
      assert(viaSql(k) == CountMin.estimate(sk, k, 4, 23),
        s"SQL and JVM estimates diverge for $k")
    }
  }

  test("KmvBottomK: exact when k >= distinct, bounded estimate when not, " +
      "partition-layout invariant") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val sketch = udaf(new graft.functions.KmvBottomK(64))
    def run(df: org.apache.spark.sql.DataFrame) = df
      .select(graft.operators.Dedup.portableHash(
        concat(lit("kmv:"), col("key").cast("string"))).as("h"))
      .agg(sketch(col("h")).as("s"))
      .select(col("s._1").as("n_kept"), col("s._2").as("h_k"))
      .collect().head
    // exact regime: 40 distinct keys (with repeats) < k = 64
    val small = (1 to 200).map(i => i % 40).toDF("key")
    val ex = run(small)
    assert(ex.getLong(0) == 40L, "kept set must be the exact distinct set")
    // estimate regime: 5000 distinct keys through k = 64 — the standard
    // KMV bound (relative error ~ 1/sqrt(k-2) ≈ 13%) with slack for a
    // single fixed hash draw
    val big = (1 to 5000).toDF("key")
    val est = run(big)
    assert(est.getLong(0) == 64L)
    // BigInt: 63 * 2^60 overflows Long (production uses DECIMAL(38,0))
    val estimate =
      (BigInt(63) * BigInt(1152921504606846976L) / est.getLong(1)).toLong
    assert(estimate > 3000 && estimate < 8000,
      s"KMV estimate $estimate implausible for 5000 distinct")
    // mergeable-monoid check: the sketch is independent of partitioning
    val a = run(big.repartition(1))
    val b = run(big.repartition(13))
    assert(a.getLong(0) == b.getLong(0) && a.getLong(1) == b.getLong(1),
      "bottom-k must be partition-layout invariant")
  }

  test("sketch UDAFs resolve by SQL name and replay the operator math") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    graft.functions.KmvBottomK.register(spark)
    graft.functions.HllSketch.register(spark)
    (1 to 500).toDF("key")
      .select(graft.operators.Dedup.portableHash(
        concat(lit("hll:"), col("key").cast("string"))).as("h"))
      .createOrReplaceTempView("sqlreg_hashes")
    val r = spark.sql(
      """SELECT hll_sketch_p8(h) AS s, kmv_bottom_k64(h) AS kv
        |FROM sqlreg_hashes""".stripMargin).collect().head
    val s = r.getStruct(0)
    val kv = r.getStruct(1)
    assert(kv.getLong(0) == 64L, "500 distinct through k=64 keeps 64")
    // the SQL-name path must equal the operator's column path exactly
    val op = graft.operators.Profile.hllDistinct(
      (1 to 500).toDF("key"), "key", p = 8).collect().head
    assert(s.getLong(0) == op.getLong(1) && s.getLong(1) == op.getLong(2)
      && s.getLong(2) == op.getLong(3),
      "hll_sketch_p8 must replay hllDistinct's (v_zero, t_fx, est_raw)")
    // kll_quantile_k256(h, v): SQL name resolves and replays the column
    // path's read-offs at the registered (500, 900, 990) points
    graft.functions.KllSketch.register(spark)
    (1 to 500).map(i => (i.toString, i.toDouble)).toDF("id", "v")
      .select(graft.operators.Dedup.portableHash(
        concat(lit("kll:"), col("id"))).as("h"), col("v"))
      .createOrReplaceTempView("sqlreg_kll")
    val kq = spark.sql(
      "SELECT kll_quantile_k256(h, v) AS s FROM sqlreg_kll")
      .collect().head.getStruct(0)
    val kop = graft.operators.Profile.kllQuantile(
      (1 to 500).map(i => (i.toString, i.toDouble)).toDF("id", "v"),
      "v", "id", k = 256, qPermille = Seq(500, 900, 990))
      .orderBy("q_pm").collect()
    assert(kq.getSeq[Double](2) == kop.map(_.getDouble(1)).toSeq &&
      kq.getLong(0) == kop.head.getLong(2) &&
      kq.getLong(1) == kop.head.getLong(3),
      "kll_quantile_k256 must replay kllQuantile's read-offs")
  }

  test("hllDistinctBy: a single group equals the global sketch; groups " +
      "are independent") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val df = (1 to 3000).map(i => (if (i % 3 == 0) "x" else "y", i))
      .toDF("src", "key")
    val by = graft.operators.Profile.hllDistinctBy(df, "src", "key", p = 8)
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    // each group's row must equal the GLOBAL sketch run on just that
    // group's keys — grouping must not leak registers across groups
    Seq("x", "y").foreach { g =>
      val solo = graft.operators.Profile.hllDistinct(
        df.where(col("src") === g).select("key"), "key", p = 8)
        .collect().head
      assert(by(g) == ((solo.getLong(1), solo.getLong(2),
        solo.getLong(3))), s"group $g diverged from the global sketch")
    }
  }

  test("hllOverlap: inclusion-exclusion recovers planted overlap, " +
      "disjoint clamps to ~0, identical groups overlap fully") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // A = 1..5000, B = 2501..7500 (true ∩ = 2500, ∪ = 7500), C disjoint
    val rows = (1 to 5000).map(i => ("A", i)) ++
      (2501 to 7500).map(i => ("B", i)) ++
      (100001 to 105000).map(i => ("C", i))
    val df = rows.toDF("src", "key")
    val out = graft.operators.Profile.hllOverlap(df, "src", "key", p = 8)
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        ((r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5)))).toMap
    val (estA, estB, estU, estAB) = out(("A", "B"))
    // raw regime (5000 >> 2.5·256): singles within ~3σ, the
    // inclusion-exclusion overlap within the error sum of its three terms
    assert(math.abs(estA - 5000) < 1000 && math.abs(estB - 5000) < 1000)
    assert(math.abs(estU - 7500) < 1500, s"union est $estU")
    assert(math.abs(estAB - 2500) < 1800, s"overlap est $estAB")
    // disjoint pairs read near zero (clamped at zero, never negative)
    val (_, _, _, estAC) = out(("A", "C"))
    assert(estAC >= 0L && estAC < 1200L, s"disjoint overlap $estAC")
    // identical groups: union registers == each side's → overlap == est
    val dup = df.where(col("src") === "A")
      .unionAll(df.where(col("src") === "A").withColumn("src", lit("A2")))
    val same = graft.operators.Profile.hllOverlap(dup, "src", "key", p = 8)
      .collect().head
    assert(same.getLong(2) == same.getLong(3) &&
      same.getLong(3) == same.getLong(4) &&
      same.getLong(5) == same.getLong(2),
      "identical groups must overlap at exactly their own estimate")
    // layout invariance
    val again = graft.operators.Profile.hllOverlap(df.repartition(13),
      "src", "key", p = 8).collect().map(_.toSeq).sortBy(_.toString)
    val base = graft.operators.Profile.hllOverlap(df, "src", "key", p = 8)
      .collect().map(_.toSeq).sortBy(_.toString)
    assert(again.toSeq == base.toSeq)
  }

  test("hllDistinct: bounded raw-regime error, duplicate/null/layout " +
      "invariance, field identities") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // raw regime: 5000 distinct >> 2.5·m (m=256); standard error
    // 1.04/sqrt(256) ≈ 6.5% — allow 3σ for the single fixed hash draw
    val big = (1 to 5000).toDF("key")
    val r = graft.operators.Profile.hllDistinct(big, "key", p = 8)
      .collect().head
    val (m, vZero, tFx, est, exact) = (r.getLong(0), r.getLong(1),
      r.getLong(2), r.getLong(3), r.getLong(4))
    assert(m == 256L && exact == 5000L)
    assert(math.abs(est - 5000L) < 1000L,
      s"HLL raw estimate $est implausible for 5000 distinct")
    // t_fx identity: every register contributes at least 1 (mj ≤ 53)
    // and at most 2^53 (mj = 0/absent); v_zero registers contribute
    // exactly 2^53 each
    assert(tFx >= vZero * (1L << 53) && tFx <= m * (1L << 53))
    // duplicates don't move the sketch (distinct semantics), nulls drop
    val dup = graft.operators.Profile.hllDistinct(
      big.unionAll(big).unionAll(Seq.empty[Option[Int]].toDF("key")),
      "key", p = 8).collect().head
    assert(dup.toSeq == r.toSeq)
    // partition-layout invariance (register max is a monoid)
    val parts = graft.operators.Profile.hllDistinct(
      big.repartition(13), "key", p = 8).collect().head
    assert(parts.toSeq == r.toSeq)
    // small regime: 40 distinct < 2.5·m → most registers empty; fields
    // still consistent (est_raw is documented-biased here; v_zero is
    // emitted exactly so callers can apply linear counting)
    val small = graft.operators.Profile.hllDistinct(
      (1 to 200).map(i => i % 40).toDF("key"), "key", p = 8)
      .collect().head
    assert(small.getLong(1) >= 256L - 40L && small.getLong(4) == 40L)
    // p out of range fails fast
    intercept[IllegalArgumentException] {
      graft.operators.Profile.hllDistinct(big, "key", p = 20)
    }
  }

  test("hllDistinct: caller-side linear counting m·ln(m/V) beats est_raw " +
      "below the 2.5·m crossover (the worked small-range read-off)") {
    import spark.implicits._
    // 40 distinct << 2.5·m = 640 for p=8 — the documented-biased regime:
    // the raw estimator reads ≈ α·m even on a near-empty sketch (that is
    // WHY Flajolet's linear-counting branch exists), while V = v_zero
    // (empty registers) still carries the cardinality signal
    val exact = 40L
    val df = (1 to 200).map(i => i % 40).toDF("key")
    val r = graft.operators.Profile.hllDistinct(df, "key", p = 8)
      .collect().head
    val (m, vZero, estRaw, nExact) =
      (r.getLong(0), r.getLong(1), r.getLong(3), r.getLong(4))
    assert(nExact == exact)
    // the crossover rule a caller applies (classic HLL practice): when
    // est_raw < 2.5·m, switch to linear counting on v_zero
    assert(estRaw < (5L * m) / 2L,
      s"est_raw=$estRaw must sit below the 2.5·m=${(5L * m) / 2L} " +
        "crossover on this corpus")
    // the ln() deliberately lives caller-side (libm-specific last ulp —
    // not oracle-hashable); v_zero/m are exact integers from the gate
    val estLin = m * math.log(m.toDouble / vZero)
    assert(math.abs(estLin - exact) <= 0.15 * exact,
      s"linear-counting estimate $estLin vs exact $exact")
    assert(math.abs(estLin - exact) < math.abs(estRaw.toDouble - exact),
      s"below the crossover linear counting ($estLin) must beat the raw " +
        s"estimate ($estRaw) — exact $exact")
  }

  test("kllQuantile: exact type-1 quantiles when n <= k, layout " +
      "invariance, degenerate inputs") {
    import spark.implicits._
    // n = 100 ≤ k: the sample is the whole input at level 0 — every
    // read-off is the exact type-1 quantile (rank ⌈q·n⌉, 1-based)
    val df = (1 to 100).map(i => (i.toDouble, i.toString)).toDF("v", "id")
    val out = graft.operators.Profile
      .kllQuantile(df, "v", "id", k = 128,
        qPermille = Seq(10, 500, 900, 1000))
      .orderBy("q_pm").collect()
    assert(out.map(r => (r.getLong(0), r.getDouble(1))).toSeq ==
      Seq((10L, 1.0), (500L, 50.0), (900L, 90.0), (1000L, 100.0)))
    assert(out.forall(r => r.getLong(2) == 0L && r.getLong(3) == 100L),
      "below k the sketch sits at level 0 with the full input as sample")
    // partition-layout invariance (hash coins, integer rank math)
    val again = graft.operators.Profile
      .kllQuantile(df.repartition(7), "v", "id", k = 128,
        qPermille = Seq(10, 500, 900, 1000))
      .orderBy("q_pm").collect()
    assert(again.map(_.toSeq).toSeq == out.map(_.toSeq).toSeq)
    // empty input: empty output, no NPE; nulls drop
    assert(graft.operators.Profile.kllQuantile(
      Seq.empty[(Option[Double], String)].toDF("v", "id"),
      "v", "id", k = 64, qPermille = Seq(500)).count() == 0L)
    // parameter contracts fail fast
    intercept[IllegalArgumentException] {
      graft.operators.Profile.kllQuantile(df, "v", "id", 8, Seq(500))
    }
    intercept[IllegalArgumentException] {
      graft.operators.Profile.kllQuantile(df, "v", "id", 64, Seq(0))
    }
  }

  test("kllQuantile: sampled-regime rank error bounded (the ~1/sqrt(k) " +
      "sampler guarantee)") {
    import spark.implicits._
    // v == rank, so the exact rank of any read-off IS its value — the
    // rank error of the estimate reads off directly
    val n = 20000
    val df = (1 to n).map(i => (i.toDouble, s"id$i")).toDF("v", "id")
    val k = 1024
    val out = graft.operators.Profile
      .kllQuantile(df, "v", "id", k, qPermille = Seq(100, 500, 900))
      .collect()
    out.foreach { r =>
      val q = r.getLong(0)
      val err = math.abs(r.getDouble(1) / n - q / 1000.0)
      // sample size ≥ k/2 = 512 → σ = sqrt(q(1-q)/512) ≤ 2.3%; 3σ ≈ 7%
      assert(err <= 0.07, s"q=$q est=${r.getDouble(1)} rank error $err")
    }
    assert(out.head.getLong(2) > 0L,
      "20k rows over k=1024 must raise the level (sampled regime)")
    assert(out.head.getLong(3) <= k,
      "sample must fit in k")
  }

  test("kllQuantileBy: groups are independent — a group's read-offs " +
      "equal the global sketch on that group alone") {
    import spark.implicits._
    val small = (1 to 50).map(i => ("a", i.toDouble, s"a$i"))
    val big = (1 to 3000).map(i => ("b", (i % 701).toDouble, s"b$i"))
    val df = (small ++ big).toDF("g", "v", "id")
    val by = graft.operators.Profile
      .kllQuantileBy(df, "g", "v", "id", k = 64, qPermille = Seq(500, 900))
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2),
        r.getLong(3), r.getLong(4))).toSet
    for (g <- Seq("a", "b")) {
      val solo = graft.operators.Profile
        .kllQuantile(df.where(col("g") === g), "v", "id", k = 64,
          qPermille = Seq(500, 900))
        .collect()
        .map(r => (g, r.getLong(0), r.getDouble(1), r.getLong(2),
          r.getLong(3))).toSet
      assert(solo.subsetOf(by), s"group $g diverges from its solo sketch")
    }
    // the small group is exact (n=50 ≤ k=64): p50 = rank 25 = 25.0
    assert(by.contains(("a", 500L, 25.0, 0L, 50L)))
  }

  test("kllQuantileWeighted: exact weighted type-1 quantiles below k, " +
      "heavy rows never drop, weight contract, layout invariance") {
    import spark.implicits._
    // exact regime (every row survives at l* = 0): values 1..4 with
    // weights 1,2,3,4 → T = 10; p50 → rank 5 → cum(1,3,6,...) → v = 3;
    // p100 → rank 10 → v = 4; p10 → rank 1 → v = 1
    val df = Seq((1.0, 1L, "a"), (2.0, 2L, "b"), (3.0, 3L, "c"),
      (4.0, 4L, "d")).toDF("v", "w", "id")
    val out = graft.operators.Profile.kllQuantileWeighted(
        df, "v", "w", "id", k = 16, qPermille = Seq(100, 500, 1000))
      .orderBy("q_pm").collect()
    assert(out.map(r => (r.getLong(0), r.getDouble(1))).toSeq ==
      Seq((100L, 1.0), (500L, 3.0), (1000L, 4.0)))
    assert(out.forall(r => r.getLong(2) == 0L && r.getLong(3) == 4L &&
      r.getLong(4) == 10L), "l*=0: n_sample = rows, t_total = Σw exactly")
    // zero/negative/oversized weights and null values drop (contract)
    val dirty = Seq((1.0, 0L, "z"), (1.0, -5L, "n"),
      (1.0, (1L << 41), "big")).toDF("v", "w", "id")
    assert(graft.operators.Profile.kllQuantileWeighted(
      dirty, "v", "w", "id", 16, Seq(500)).count() == 0L)
    // sampled regime: 20k unit-weight-ish rows + one heavy row carrying
    // half the total mass — the heavy row's value must BE the median
    // (systematic sampling keeps ≥ floor(w/2^l) units of any row)
    val light = (1 to 20000).map(i => (i.toDouble, 1L, s"l$i"))
    val heavy = Seq((0.5, 20000L, "heavy"))
    val mixed = (light ++ heavy).toDF("v", "w", "id")
    val m = graft.operators.Profile.kllQuantileWeighted(
        mixed, "v", "w", "id", k = 512, qPermille = Seq(400))
      .collect().head
    assert(m.getDouble(1) == 0.5,
      s"p40 must read the heavy row's value, got ${m.getDouble(1)}")
    assert(m.getLong(2) > 0L, "sampled regime: level raised")
    // rank error vs the exact weighted quantile on the light tail:
    // p90 of the mixture sits at light rank ≈ 0.8·20k = 16k; allow the
    // sampler's ~3σ ≈ 3.5 percentage points of total mass (k=512)
    val p90 = graft.operators.Profile.kllQuantileWeighted(
        mixed, "v", "w", "id", k = 512, qPermille = Seq(900))
      .collect().head.getDouble(1)
    assert(math.abs(p90 - 16000.0) <= 0.07 * 40000.0,
      s"p90 rank error too large: est=$p90 exact=16000")
    // partition-layout invariance (hash coins, integer math)
    val a = graft.operators.Profile.kllQuantileWeighted(
      mixed, "v", "w", "id", 512, Seq(250, 750)).orderBy("q_pm")
      .collect().map(_.toSeq).toSeq
    val b = graft.operators.Profile.kllQuantileWeighted(
      mixed.repartition(11), "v", "w", "id", 512, Seq(250, 750))
      .orderBy("q_pm").collect().map(_.toSeq).toSeq
    assert(a == b)
    // w = 1 everywhere in the exact regime equals the unweighted sketch
    val units = (1 to 50).map(i => (i.toDouble, 1L, i.toString))
      .toDF("v", "w", "id")
    val wq = graft.operators.Profile.kllQuantileWeighted(
        units, "v", "w", "id", 64, Seq(500, 900))
      .orderBy("q_pm").collect().map(r => (r.getLong(0), r.getDouble(1)))
    val uq = graft.operators.Profile.kllQuantile(
        units, "v", "id", 64, Seq(500, 900))
      .orderBy("q_pm").collect().map(r => (r.getLong(0), r.getDouble(1)))
    assert(wq.toSeq == uq.toSeq,
      "unit weights below k must equal the unweighted exact read-offs")
  }

  test("KllSketch UDAF: replays the column path (level, size, every " +
      "read-off); merge path exercised across partitions; contracts") {
    import spark.implicits._
    val qs = Seq(500, 900, 990)
    val df = (1 to 5000).map(i => (s"id$i", (i % 997).toDouble))
      .toDF("id", "v")
    val colPath = graft.operators.Profile
      .kllQuantile(df, "v", "id", k = 256, qPermille = qs)
      .orderBy("q_pm").collect()
    val sketch = udaf(new graft.functions.KllSketch(256, qs))
    val hv = df.select(
      graft.operators.Dedup.portableHash(
        concat(lit("kll:"), col("id"))).as("h"), col("v"))
    // 13 partitions force real shuffle merges of partial samples
    val u = hv.repartition(13).agg(sketch(col("h"), col("v")).as("s"))
      .select(col("s.lvl"), col("s.n_sample"), col("s.est"))
      .collect().head
    assert(colPath.map(_.getDouble(1)).toSeq == u.getSeq[Double](2),
      "UDAF read-offs must equal the column path's")
    assert(colPath.head.getLong(2) == u.getLong(0) &&
      colPath.head.getLong(3) == u.getLong(1),
      "UDAF (level, sample size) must equal the column path's (l*, |S|)")
    // input contract: full-width / negative hashes name the contract
    val agg = new graft.functions.KllSketch(256, Seq(500))
    val neg = intercept[IllegalArgumentException] {
      agg.reduce(agg.zero, (-1L, 1.0))
    }
    assert(neg.getMessage.contains("portable hash"))
    intercept[IllegalArgumentException] {
      agg.reduce(agg.zero, (1L << 60, 1.0))
    }
    // boundary hashes accepted; empty group → empty read-offs
    agg.reduce(agg.zero, (0L, 1.0))
    agg.reduce(agg.zero, ((1L << 60) - 1L, 1.0))
    assert(agg.finish(agg.zero).est.isEmpty)
  }

  test("kllQuantileWeightedBy: groups independent (≡ solo weighted " +
      "sketch per group); exact regime; layout invariance") {
    import spark.implicits._
    // two groups, distinct scales, mixed weights; group a is exact
    // (4 rows ≤ k): values 1..4 weights 1..4 → T = 10, p50 → v = 3
    val df = (Seq((1.0, 1L, "a1", "a"), (2.0, 2L, "a2", "a"),
      (3.0, 3L, "a3", "a"), (4.0, 4L, "a4", "a")) ++
      (1 to 900).map(i => (i * 10.0, 1L + (i % 5), s"b$i", "b")))
      .toDF("v", "w", "id", "g")
    val by = graft.operators.Profile.kllQuantileWeightedBy(
        df, "g", "v", "w", "id", k = 64, qPermille = Seq(500, 900))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2),
        r.getLong(3), r.getLong(4), r.getLong(5))).toSet
    for (g <- Seq("a", "b")) {
      val solo = graft.operators.Profile.kllQuantileWeighted(
          df.where(col("g") === g), "v", "w", "id", k = 64,
          qPermille = Seq(500, 900))
        .collect().map(r => (g, r.getLong(0), r.getDouble(1),
          r.getLong(2), r.getLong(3), r.getLong(4))).toSet
      assert(solo.subsetOf(by), s"group $g diverges from its solo sketch")
    }
    // the small group is exact: (a, p50) = 3.0 at l*=0, T = Σw = 10
    assert(by.contains(("a", 500L, 3.0, 0L, 4L, 10L)))
    // partition-layout invariance (hash coins, integer math)
    val a = graft.operators.Profile.kllQuantileWeightedBy(
      df, "g", "v", "w", "id", 64, Seq(500, 900))
      .orderBy("grp", "q_pm").collect().map(_.toSeq).toSeq
    val b = graft.operators.Profile.kllQuantileWeightedBy(
      df.repartition(11), "g", "v", "w", "id", 64, Seq(500, 900))
      .orderBy("grp", "q_pm").collect().map(_.toSeq).toSeq
    assert(a == b)
  }

  test("KllWeightedSketch UDAF: replays the weighted column path; " +
      "merge across partitions; weight drop contract; l=61 growth") {
    import spark.implicits._
    val qs = Seq(500, 900)
    // mixed weights, one heavy row — the sampled regime
    val df = ((1 to 5000).map(i => (s"id$i", (i % 997).toDouble,
      1L + (i % 7))) :+ (("heavy", 0.25, 9000L)))
      .toDF("id", "v", "w")
    val colPath = graft.operators.Profile
      .kllQuantileWeighted(df, "v", "w", "id", k = 256, qPermille = qs)
      .orderBy("q_pm").collect()
    val sketch = udaf(new graft.functions.KllWeightedSketch(256, qs))
    val hvw = df.select(
      graft.operators.Dedup.portableHash(
        concat(lit("kllw:"), col("id"))).as("h"), col("v"), col("w"))
    // 13 partitions force real shuffle merges of partial survivor sets
    val u = hvw.repartition(13)
      .agg(sketch(col("h"), col("v"), col("w")).as("s"))
      .select(col("s.lvl"), col("s.n_sample"), col("s.t_total"),
        col("s.est")).collect().head
    assert(colPath.map(_.getDouble(1)).toSeq == u.getSeq[Double](3),
      "UDAF read-offs must equal the column path's")
    assert(colPath.head.getLong(2) == u.getLong(0) &&
      colPath.head.getLong(3) == u.getLong(1) &&
      colPath.head.getLong(4) == u.getLong(2),
      "UDAF (level, n_sample, t_total) must equal the column path's")
    // weight contract: out-of-range weights DROP silently (the column
    // engine's filter), they don't throw
    val agg = new graft.functions.KllWeightedSketch(16, Seq(500))
    val z = agg.zero
    agg.reduce(z, (1L, 1.0, 0L))
    agg.reduce(z, (1L, 1.0, -3L))
    agg.reduce(z, (1L, 1.0, 1L << 41))
    assert(z.n == 0, "out-of-contract weights must not enter the sample")
    // hash contract still throws (caller bug, same as KllSketch)
    val neg = intercept[IllegalArgumentException] {
      agg.reduce(agg.zero, (-1L, 1.0, 1L))
    }
    assert(neg.getMessage.contains("portable hash"))
    // l = 61 fallback: rows with h < w survive every level; more than k
    // of them must GROW the buffer (not overflow it) at level 61
    val g = agg.zero
    (1 to 18).foreach(i => agg.reduce(g, (i.toLong - 1L, i.toDouble,
      100L)))
    assert(g.level == 61 && g.n == 18,
      s"l=61 fallback must keep all survivors, got level=${g.level} " +
        s"n=${g.n}")
  }

  // SketchSidecar over the sketch Aggregators: state of each batch,
  // merged left-to-right, read off with the sketch's own finish
  private def hashed(prefix: String, c: String): Column =
    graft.operators.Dedup.portableHash(
      concat(lit(prefix), col(c).cast("string")))
  private def sidecarFold[IN: TypeTag, S, OUT](sketch: Aggregator[IN, S, OUT],
      batches: Seq[DataFrame], inputs: Column*): DataFrame = {
    import graft.operators.SketchSidecar
    SketchSidecar.readOff(sketch,
      batches.map(SketchSidecar.state(sketch, _, inputs: _*))
        .reduce(SketchSidecar.merge(sketch))).toDF()
  }
  private val sidecarHll = new graft.functions.HllSketch(6)
  private val sidecarKmv = new graft.functions.KmvBottomK(32)
  private val sidecarKll = new graft.functions.KllSketch(64, Seq(500, 900))
  // KLL read-off as (q_pm, est_v, lvl, n_sample) rows, numbers as
  // doubles so the one-shot operator's long values compare directly
  private def kllRows(df: DataFrame): Seq[Seq[Double]] =
    df.select(posexplode(col("est")), col("lvl"), col("n_sample"))
      .collect().map(r => Seq(Seq(500.0, 900.0)(r.getInt(0)), r.getDouble(1),
        r.getLong(2).toDouble, r.getLong(3).toDouble)).toSeq

  test("SketchSidecar: merged batch states equal the one-shot corpus " +
      "sketches; fold order free; parquet update swap-publishes") {
    import spark.implicits._
    val df = (1 to 3000).map(i => (i.toLong, s"k${i % 1100}",
      (i % 997).toLong)).toDF("id", "key", "v")
    // four uneven batches, one of them EMPTY (the degenerate ingest)
    val batches = Seq(
      df.where(col("id") % 3 === 0),
      df.where(col("id") % 3 === 1),
      df.where(col("id") % 3 === 2),
      df.limit(0))
    import graft.operators.SketchSidecar
    // HLL: merged registers read off exactly the one-shot estimate (m is
    // the register count of the state)
    def hllOut(state: DataFrame): Seq[Any] =
      state.as(sidecarHll.bufferEncoder).head().length.toLong +:
        SketchSidecar.readOff(sidecarHll, state).head().productIterator.toSeq
    val hllState = batches.map(SketchSidecar.state(sidecarHll, _,
      hashed("hll:", "key"))).reduce(SketchSidecar.merge(sidecarHll))
    val hllMerged = hllOut(hllState)
    val hllFull = graft.operators.Profile.hllDistinct(df, "key", p = 6)
      .select("m", "v_zero", "t_fx", "est_raw").collect().head.toSeq
    assert(hllMerged == hllFull)
    // KMV: bottom-k of merged bottom-ks = one-shot bottom-k
    val kmvMerged = sidecarFold(sidecarKmv, batches, hashed("kmv:", "key"))
      .toDF("n_kept", "h_k")
      .withColumn("est_distinct", graft.functions.KmvBottomK.estimate(32))
      .collect().head.toSeq
    val kmvFull = graft.operators.Profile.kmvDistinct(df, "key", k = 32)
      .select("n_kept", "h_k", "est_distinct").collect().head.toSeq
    assert(kmvMerged == kmvFull)
    // KLL: merged level samples read off the one-shot quantiles, and the
    // fold ORDER cannot matter (associative/commutative state)
    def kllFold(bs: Seq[DataFrame]) = kllRows(sidecarFold(sidecarKll, bs,
      hashed("kll:", "id"), col("v").cast("double")))
    val kllMerged = kllFold(batches)
    val kllFull = graft.operators.Profile.kllQuantile(
        df, "v", "id", k = 64, qPermille = Seq(500, 900))
      .orderBy("q_pm").collect()
      .map(_.toSeq.map(_.toString.toDouble)).toSeq
    assert(kllMerged == kllFull)
    assert(kllFold(batches.reverse) == kllMerged, "fold order must be free")
    // parquet lifecycle: create-then-merge through the sidecar file, the
    // published table after the last ingest reads the same estimate
    val dir = java.nio.file.Files.createTempDirectory("graft_sidecar")
      .toString + "/hll_regs"
    batches.foreach(b => SketchSidecar.updateSidecar(dir,
      SketchSidecar.state(sidecarHll, b, hashed("hll:", "key")),
      SketchSidecar.merge(sidecarHll)))
    val viaFile = hllOut(spark.read.parquet(dir))
    assert(viaFile == hllFull,
      "the parquet sidecar after incremental ingests must read off the " +
        "one-shot estimate")
    // state stays model-sized on disk: one row of 2^p register bytes,
    // stored as a plain binary column
    val onDisk = spark.read.parquet(dir)
    assert(onDisk.count() == 1L)
    assert(onDisk.schema.fields.map(_.dataType).toSeq ==
      Seq(org.apache.spark.sql.types.BinaryType))
    assert(viaFile.head == 64L)
  }

  test("SketchSidecar: null keys and values are dropped — a batch reads " +
      "off the same with or without them") {
    import spark.implicits._
    val clean = (1 to 500).map(i => (Option(i.toLong), Option(s"k${i % 170}"),
      Option((i % 97).toDouble))).toDF("id", "key", "v")
    def rows(rs: (Option[Long], Option[String], Option[Double])*) =
      rs.toDF("id", "key", "v")
    // HLL/KMV read `key`; KLL reads `id` (its row coin) and `v`
    val nullKeys = rows((Some(9001L), None, Some(5.0)), (None, None, None))
    val nullIdOrV = rows((Some(9002L), Some("k_extra"), None),
      (None, Some("k_other"), Some(7.0)), (None, None, None))
    def same[IN: TypeTag, S, OUT](sketch: Aggregator[IN, S, OUT],
        extra: DataFrame, inputs: Column*): Unit = {
      def fold(b: DataFrame) =
        sidecarFold(sketch, Seq(b), inputs: _*).collect().toSeq
      assert(fold(clean.unionByName(extra)) == fold(clean))
      // a batch of nothing but nulls is the empty state
      assert(fold(extra) == fold(clean.limit(0)))
    }
    same(sidecarHll, nullKeys, hashed("hll:", "key"))
    same(sidecarKmv, nullKeys, hashed("kmv:", "key"))
    same(sidecarKll, nullIdOrV, hashed("kll:", "id"), col("v"))
  }

  test("HllSketch UDAF: out-of-contract hash input fails with the " +
      "contract message, not an array index error") {
    val agg = new graft.functions.HllSketch(8)
    // boundary values of the 60-bit contract are accepted
    agg.reduce(agg.zero, 0L)
    agg.reduce(agg.zero, (1L << 60) - 1L)
    // a negative or full-width hash (xxhash64 is the classic SQL-client
    // mistake) names the contract instead of AIOOBE-ing in the aggregate
    val neg = intercept[IllegalArgumentException] {
      agg.reduce(agg.zero, -1L)
    }
    assert(neg.getMessage.contains("portable hash"))
    val wide = intercept[IllegalArgumentException] {
      agg.reduce(agg.zero, 1L << 60)
    }
    assert(wide.getMessage.contains("portable hash"))
  }
}
