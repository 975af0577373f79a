package perfbench

import scala.util.control.NonFatal

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.functions.{col, expr}

/** Tests of the benchmark's own logic, on a small generated table:
  * `python3 perfbench/run.py --selftest`.
  */
object SelfTest {
  private var failed = 0

  private def test(name: String)(body: => Unit): Unit = {
    try { body; println(s"ok   $name") }
    catch {
      case NonFatal(e) =>
        failed += 1
        println(s"FAIL $name: $e")
    }
  }

  private def assert(cond: Boolean, msg: => String): Unit =
    if (!cond) throw new AssertionError(msg)

  def run(o: Opts): Int = {
    // large enough that each sketch group meets the HLL error bound
    val small = new MonoidAgg(rows = 40000L)
    val r = new Runner(o.copy(workload = "monoid_agg", trace = true), Some(() => small))
    r.setup(Clock.ms)
    val spark = r.spark
    val fixed = Query("fixed_shape", s =>
      s.range(0, 1000, 1, 4).groupBy((col("id") % 10).as("k")).count())

    test("listener attribution gives the same job count on every run") {
      var seen = 0
      val plain = new SparkListener {
        override def onJobStart(e: SparkListenerJobStart): Unit = seen += 1
      }
      spark.sparkContext.addSparkListener(plain)
      val jobs = (1 to 3).map { i =>
        val p = r.runPass(Seq(fixed), 100 + i, check = false, traced = true)
        p.queries.head.layer("scheduler.jobs")
      }
      org.apache.spark.perfbench.Bus.drain(spark.sparkContext)
      spark.sparkContext.removeSparkListener(plain)
      assert(jobs.distinct.size == 1 && jobs.head >= 1, s"jobs per run: $jobs")
      assert(jobs.sum == seen, s"attributed ${jobs.sum} jobs, the bus saw $seen")
    }

    test("construct, plan, materialize and release tile the query span") {
      val p = r.runPass(Seq(fixed), 200, check = false, traced = true)
      val q = p.queries.head
      val spans = r.trace.all
      val qs = spans.filter(s => s.name == "query" && s.query == fixed.name).last
      val kids = spans.filter(_.parent == qs.id)
      assert(kids.map(_.name).sorted == Seq("construct", "materialize", "plan", "release"),
        s"children ${kids.map(_.name)}")
      kids.sortBy(_.start).sliding(2).foreach { case Seq(a, b) =>
        assert(a.end <= b.start + 1e-6, s"${a.name} overlaps ${b.name}")
      }
      assert(kids.forall(k => k.start >= qs.start && k.end <= qs.end), "child outside query")
      val gap = qs.durMs - kids.map(_.durMs).sum
      assert(gap >= 0 && gap < math.max(20.0, 0.1 * qs.durMs),
        f"children leave $gap%.2f ms of ${qs.durMs}%.2f ms uncovered")
      val split = (kids.find(_.name == "construct").get.durMs +
        kids.filter(k => k.name == "plan" || k.name == "materialize").map(_.durMs).sum) / 1e3
      assert(math.abs(split - q.latencyS) < 0.02 + 0.1 * q.latencyS,
        f"construct + plan + materialize = $split%.4f s, latency ${q.latencyS}%.4f s")
    }

    test("a wrong result fails the output check") {
      val queries = small.queries(o.data, 1L)
      val sum = queries.find(_.name == "native_kf").get
      val right = sum.build(spark)
      assert(small.check(spark, sum, right).isEmpty, "the right result failed its check")
      val wrong = right.withColumn("long_max",
        expr("transform(long_max, (x, i) -> IF(i = 3, x + 1, x))"))
      assert(small.check(spark, sum, wrong).nonEmpty, "an off-by-one cell passed the check")
      val sketches = queries.find(_.name == "sketches").get
      val good = sketches.build(spark)
      small.check(spark, sketches, good)
        .foreach(r => assert(false, s"the right sketches failed: $r"))
      val off = good.withColumn("hll",
        expr("named_struct('_1', hll._1, '_2', hll._2, '_3', hll._3 * 2)"))
      assert(small.check(spark, sketches, off).nonEmpty, "a doubled HLL estimate passed")
      val reg = new Iterative(Map("fixed_shape" -> (10L, BigDecimal(0))))
      assert(reg.check(spark, fixed, fixed.build(spark)).nonEmpty,
        "a wrong recorded checksum passed")
    }

    test("a throwing query counts as failed and is not sampled") {
      val boom = Query("boom", _ => throw new IllegalStateException("boom"))
      val before = r.failures.size
      val p = r.runPass(Seq(fixed, boom), 300, check = false, traced = false)
      assert(p.queries.count(!_.ok) == 1, s"failed: ${p.queries.count(!_.ok)}")
      assert(p.queries.find(_.name == "boom").exists(_.error.exists(_.contains("boom"))),
        "the error is not recorded")
      assert(p.queries.filter(_.ok).map(_.name) == Seq("fixed_shape"), "boom was sampled")
      assert(r.failures.size == before + 1, "the failure is not reported")
    }

    test("a persist nobody reads raises the live heap") {
      val before = Main.liveHeapMb()
      // 2 M rows of two random doubles: ~32 MB that no encoding shrinks
      val held = spark.range(0, 2000000, 1, 4).selectExpr("rand(7) AS a", "rand(8) AS b")
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_ONLY)
      held.write.format("noop").mode("overwrite").save()
      val after = Main.liveHeapMb()
      held.unpersist(blocking = true)
      val released = Main.liveHeapMb()
      println(f"#    live heap $before%.1f MB, $after%.1f MB with the persist, " +
        f"$released%.1f MB after release")
      assert(after - before > 24, f"the persist added only ${after - before}%.1f MB")
      assert(after - released > 24, f"releasing it freed only ${after - released}%.1f MB")
    }

    test("quantiles and interval unions") {
      assert(Main.quantile(Seq(1.0, 2.0, 3.0, 4.0), 0.5) == 2.5, "median of 1..4")
      assert(Main.quantile(Seq(5.0), 0.9) == 5.0, "p90 of one sample")
      assert(Trace.union(Seq((0.0, 2.0), (1.0, 3.0), (5.0, 6.0))) == 4.0, "union")
    }

    spark.stop()
    println(if (failed == 0) "selftest passed" else s"selftest: $failed failed")
    if (failed == 0) 0 else 1
  }
}
