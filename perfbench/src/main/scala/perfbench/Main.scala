package perfbench

import java.io.{File, PrintWriter}
import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Command line of the benchmark JVM (see `perfbench/run.py`). */
final case class Opts(
    mode: String = "run",
    workload: String = "",
    seed: Long = 1L,
    seconds: Double = 10.0,
    trace: Boolean = false,
    data: String = "",
    out: String = "",
    expected: String = "")

object Opts {
  def parse(args: Seq[String]): Opts = args match {
    case Seq() => Opts()
    case "--mode" +: v +: rest => parse(rest).copy(mode = v)
    case "--workload" +: v +: rest => parse(rest).copy(workload = v)
    case "--seed" +: v +: rest => parse(rest).copy(seed = v.toLong)
    case "--seconds" +: v +: rest => parse(rest).copy(seconds = v.toDouble)
    case "--trace" +: v +: rest => parse(rest).copy(trace = v == "1")
    case "--data" +: v +: rest => parse(rest).copy(data = v)
    case "--out" +: v +: rest => parse(rest).copy(out = v)
    case "--expected" +: v +: rest => parse(rest).copy(expected = v)
    case other => throw new IllegalArgumentException(s"bad arguments: $other")
  }
}

object Main {
  def main(argv: Array[String]): Unit = {
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime.toDouble
    val o = Opts.parse(argv.toSeq)
    val code =
      try o.mode match {
        case "run" => new Runner(o).run(jvmStartMs)
        case "record" => new Runner(o).record()
        case "selftest" => SelfTest.run(o)
        case m => throw new IllegalArgumentException(s"unknown mode $m")
      } catch {
        case NonFatal(e) =>
          e.printStackTrace()
          2
      }
    System.out.flush()
    sys.exit(code)
  }

  /** The one session configuration every run uses: `graft.Bench`'s, on
    * `local[4]`, with whole-stage codegen off as there (twelve iterative
    * queries at sf0.01 compiled ~1,500 classes a pass with it on, ~740
    * with it off, and ran 37.6 s against 35.4 s).
    */
  def session(): SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", 4)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.codegen.wholeStage", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear interpolation between closest ranks (numpy's default). */
  def quantile(xs: Seq[Double], q: Double): Double = {
    if (xs.isEmpty) return Double.NaN
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  private def mb(bytes: Long): Double = bytes / 1048576.0

  /** Heap in use after a full collection, in MB. */
  def liveHeapMb(): Double = {
    System.gc()
    mb(ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed)
  }

  /** Memory the program holds, in MB: the live heap, plus the JVM's own
    * memory outside the heap (metaspace, JIT code) and NIO buffers.
    */
  def heldMb(): Seq[(String, Double)] = {
    val nonHeap = ManagementFactory.getMemoryPoolMXBeans.asScala.toSeq
      .filter(_.getType == java.lang.management.MemoryType.NON_HEAP)
      .map(p => (p.getName, mb(p.getUsage.getUsed)))
    val buffers = ManagementFactory.getPlatformMXBeans(
      classOf[java.lang.management.BufferPoolMXBean]).asScala.toSeq
      .map(b => (b.getName, mb(b.getMemoryUsed)))
    (("heap", liveHeapMb()) +: nonHeap) ++ buffers
  }

  /** Seconds since this JVM started. */
  def uptimeS(): Double = ManagementFactory.getRuntimeMXBean.getUptime / 1e3

  /** Waits, untimed, until the JIT compilers have been idle for `quietMs`
    * (at most `maxMs`). While four task threads keep the four cores busy,
    * compilations queue up and a workload kept running ~15% slower for
    * passes on end; with this wait between passes it reaches its plateau
    * within a few passes.
    */
  def settleJit(quietMs: Long = 500, maxMs: Long = 3000): Unit = {
    val jit = ManagementFactory.getCompilationMXBean
    val t0 = System.nanoTime()
    var last = jit.getTotalCompilationTime
    var lastChange = t0
    def ms(since: Long) = (System.nanoTime() - since) / 1000000
    while (ms(lastChange) < quietMs && ms(t0) < maxMs) {
      Thread.sleep(50)
      val now = jit.getTotalCompilationTime
      if (now != last) { last = now; lastChange = System.nanoTime() }
    }
  }

  def gcSeconds(): Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime.max(0L)).sum / 1e3

  def codegen(): (Long, Double) = (
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount,
    org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator.compileTime / 1e6)
}

/** What one query execution left behind. */
final case class QueryRun(
    name: String,
    constructS: Double,
    materializeS: Double,
    releaseS: Double,
    error: Option[String],
    layer: Map[String, Double] = Map.empty) {
  def latencyS: Double = constructS + materializeS
  def ok: Boolean = error.isEmpty
}

final case class PassRun(index: Int, traced: Boolean, queries: Seq[QueryRun],
    gcS: Double, codegenCompiles: Long, codegenMs: Double) {
  /** Wall time of the timed parts: construct, materialize and release. */
  def wallS: Double = queries.map(q => q.constructS + q.materializeS + q.releaseS).sum
}

/** Runs one workload: set-up, warm-up passes (the first one checked), then
  * steady passes until the time budget is spent.
  */
final class Runner(o: Opts, makeWorkload: Option[() => Workload] = None) {
  import Main._

  private val setupReps = 3
  private lazy val errors = ErrorCounter.attach()
  private[perfbench] var spark: SparkSession = _
  private var wl: Workload = _
  private[perfbench] val trace = new Trace
  private var probe: JobProbe = _
  private var planProbe: PlanProbe = _
  private[perfbench] val failures = mutable.ArrayBuffer.empty[String]
  /** Most memory held at the end of a query of the checked first pass, in
    * MB. Later passes would add Spark's record of every job run so far,
    * which it trims in steps once it holds 1,000.
    */
  private var peakHeldMb = 0.0
  private var peakHeld: Seq[(String, Double)] = Nil
  private def sampleHeld(): Unit = {
    val h = heldMb()
    if (h.map(_._2).sum > peakHeldMb) { peakHeldMb = h.map(_._2).sum; peakHeld = h }
  }

  private def expected: Map[String, (Long, BigDecimal)] = {
    val f = new File(o.expected)
    if (!f.exists()) Map.empty
    else {
      val src = scala.io.Source.fromFile(f)
      try src.getLines().filter(l => l.nonEmpty && !l.startsWith("#")).map { l =>
        val Array(n, rows, sum) = l.split("\t")
        n -> (rows.toLong, BigDecimal(sum))
      }.toMap
      finally src.close()
    }
  }

  /** Session, table registration, base-table cache and input generation.
    * The set-up after the session is repeated; the returned time is session
    * start-up plus the median repetition.
    */
  private[perfbench] def setup(jvmStartMs: Double): (Double, Double) = {
    errors
    val root = session()
    val sessionS = (Clock.ms - jvmStartMs) / 1e3
    wl = makeWorkload.map(_()).getOrElse(Workload(o.workload, expected))
    val reps = (1 to setupReps).map { i =>
      if (i > 1) root.catalog.clearCache()
      val s = root.newSession()
      val t0 = Clock.ms
      graft.sources.Tables.load(s, o.data)
      val t1 = Clock.ms
      wl.prepare(s, o.seed)
      val t2 = Clock.ms
      spark = s
      println(f"# [${uptimeS()}%.1f s] set-up $i: load ${(t1 - t0) / 1e3}%.3f s, " +
        f"inputs ${(t2 - t1) / 1e3}%.3f s")
      ((t1 - t0) / 1e3, (t2 - t0) / 1e3)
    }
    (sessionS + median(reps.map(_._2)), median(reps.map(_._1)))
  }

  private def baseRelations(): Seq[org.apache.spark.sql.execution.columnar.InMemoryRelation] = {
    val cm = spark.sharedState.cacheManager
    (graft.sources.Tables.names.map(spark.table) ++
      (if (spark.catalog.tableExists("mono")) Seq(spark.table("mono")) else Nil))
      .flatMap(df => cm.lookupCachedData(df.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]])
        .map(_.cachedRepresentation))
  }

  private def storageMb(): Double =
    spark.sparkContext.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum / 1048576.0

  /** Construct, materialize (every column, to the `noop` sink) and release
    * one query. With `check`, the output is checked untimed between
    * materialize and release, while the query's persists are still there.
    */
  private def runQuery(q: Query, pass: Int, check: Boolean, traced: Boolean,
      parent: Int): QueryRun = {
    wl.beforeQuery(spark)
    val sc = spark.sparkContext
    val group = s"${q.name}#$pass"
    def phase(p: String): Unit = if (traced) sc.setJobGroup(s"$group:$p", p)
    val rddsBefore = if (traced) sc.getPersistentRDDs.keySet else Set.empty[Int]
    val errBefore = errors.count.get()
    if (traced) {
      // phases of the untimed jobs before this query are not its own
      org.apache.spark.perfbench.Bus.drain(sc)
      planProbe.drainSeen()
    }
    var error: Option[String] = None
    val t0 = Clock.ms
    phase("construct")
    val df: Option[DataFrame] =
      try Some(q.build(spark))
      catch { case NonFatal(e) => error = Some(s"construct: $e"); None }
    val t1 = Clock.ms
    phase("materialize")
    df.foreach { d =>
      try d.write.format("noop").mode("overwrite").save()
      catch { case NonFatal(e) => error = Some(s"materialize: $e") }
    }
    val t2 = Clock.ms
    var storagePeak = 0.0
    var persists = 0
    if (traced) {
      storagePeak = storageMb()
      persists = (sc.getPersistentRDDs.keySet -- rddsBefore).size
    }
    // what the query holds before release (its persists included), after a
    // full collection; untimed, in the checked pass only
    if (check) sampleHeld()
    if (check && error.isEmpty) {
      phase("check")
      val c0 = Clock.ms
      try wl.check(spark, q, df.get).foreach(r => error = Some(s"check: $r"))
      catch { case NonFatal(e) => error = Some(s"check: $e") }
      println(f"# checked ${q.name} in ${(Clock.ms - c0) / 1e3}%.3f s")
    }
    phase("release")
    val t3 = Clock.ms
    graft.operators.Caching.releaseCheckpoints(blocking = true)
    val t4 = Clock.ms
    if (traced) sc.clearJobGroup()
    error.foreach(e => failures += s"${q.name} (pass $pass): $e")
    val run = QueryRun(q.name, (t1 - t0) / 1e3, (t2 - t1) / 1e3,
      (t4 - t3) / 1e3, error)
    if (!traced) run
    else run.copy(layer = traceQuery(q, group, parent, t0, t1, t2, t3, t4,
      storagePeak, persists, errors.count.get() - errBefore))
  }

  /** Spans and per-layer counts of one traced query. */
  private def traceQuery(q: Query, group: String, parent: Int, t0: Double,
      t1: Double, t2: Double, t3: Double, t4: Double,
      storagePeak: Double, persists: Int, errorEvents: Long): Map[String, Double] = {
    org.apache.spark.perfbench.Bus.drain(spark.sparkContext)
    val all = planProbe.drainSeen()
    val writePhases = all.filter(_.start >= t1)
    val qSpan = trace.add(parent, "query", "query", q.name, t0, t4)
    val cSpan = trace.add(qSpan, "construct", "operators", q.name, t0, t1)
    // the write's own analysis/optimization/planning, placed where Spark's
    // phase tracker saw it inside the materialize call
    val planEnd = writePhases.map(_.end).filter(e => e >= t1 && e <= t2)
      .reduceOption(_ max _).getOrElse(t1)
    val planStart = writePhases.map(_.start).filter(s => s >= t1 && s <= planEnd)
      .reduceOption(_ min _).getOrElse(t1)
    trace.add(qSpan, "plan", "catalyst", q.name, planStart, planEnd)
    val mSpan = trace.add(qSpan, "materialize", "scheduler", q.name, planEnd, t2)
    val rSpan = trace.add(qSpan, "release", "storage", q.name, t3, t4)
    val phaseSpan = Map("construct" -> cSpan, "materialize" -> mSpan, "release" -> rSpan)
    val jobSpan = mutable.Map.empty[Int, Int]
    probe.synchronized {
      probe.jobs.filter(_.group.startsWith(group + ":")).foreach { j =>
        phaseSpan.get(j.group.stripPrefix(group + ":")).foreach { p =>
          jobSpan(j.id) = trace.add(p, s"job ${j.id}", "job", q.name, j.start, j.end)
        }
      }
      probe.stages.filter(_.group.startsWith(group + ":")).foreach { s =>
        jobSpan.get(s.parent).foreach(js =>
          trace.add(js, s"stage ${s.id}", "stage", q.name, s.start, s.end))
      }
    }
    val c = probe.countsUnder(group + ":")
    val cons = probe.countsUnder(group + ":construct")
    val jobIv = probe.synchronized(probe.jobs.filter(_.group.startsWith(group + ":"))
      .map(j => (j.start, j.end)).toSeq)
    Map(
      "operators.construct_s" -> (t1 - t0) / 1e3,
      "operators.construct_jobs" -> cons.jobs.toDouble,
      "operators.construct_tasks" -> cons.tasks.toDouble,
      "catalyst.analysis_ms" -> all.map(_.analysisMs).sum.toDouble,
      "catalyst.optimize_ms" -> all.map(_.optimizeMs).sum.toDouble,
      "catalyst.plan_ms" -> all.map(_.planMs).sum.toDouble,
      "scheduler.jobs" -> c.jobs.toDouble,
      "scheduler.stages" -> c.stages.toDouble,
      "scheduler.tasks" -> c.tasks.toDouble,
      "scheduler.execute_s" -> Trace.union(jobIv) / 1e3,
      "scheduler.task_busy_s" -> c.taskBusyMs / 1e3,
      "scheduler.task_cpu_s" -> c.taskCpuNs / 1e9,
      "shuffle.write_bytes" -> c.shuffleWrite.toDouble,
      "shuffle.read_bytes" -> c.shuffleRead.toDouble,
      "shuffle.fetch_wait_s" -> c.fetchWaitMs / 1e3,
      "shuffle.spill_bytes" -> c.spill.toDouble,
      "storage.persists_created" -> persists.toDouble,
      "storage.cache_scans" -> all.map(_.cacheScans).sum.toDouble,
      "storage.peak_mb" -> storagePeak,
      "storage.release_s" -> (t4 - t3) / 1e3,
      "engine.error_events" -> errorEvents.toDouble)
  }

  private[perfbench] def runPass(qs: Seq[Query], index: Int, check: Boolean,
      traced: Boolean): PassRun = {
    if (traced) startTracing()
    val gc0 = gcSeconds()
    val (cg0, cgMs0) = codegen()
    val start = Clock.ms
    val passSpan = if (traced) trace.add(-1, s"pass $index", "pass", "", start, start) else -1
    val runs = qs.map(q => runQuery(q, index, check, traced, passSpan))
    if (traced) {
      stopTracing()
      trace.setEnd(passSpan, Clock.ms)
    }
    val (cg1, cgMs1) = codegen()
    val p = PassRun(index, traced, runs, gcSeconds() - gc0, cg1 - cg0, cgMs1 - cgMs0)
    println(f"# [${uptimeS()}%.1f s] pass $index${if (traced) " (traced)" else ""}: ${p.wallS}%.3f s, " +
      f"${runs.count(!_.ok)} failed, gc ${p.gcS}%.3f s, codegen ${p.codegenCompiles} compiles")
    p
  }

  private def startTracing(): Unit = {
    if (probe == null) {
      probe = new JobProbe
      planProbe = new PlanProbe(() => baseRelations())
    }
    spark.sparkContext.addSparkListener(probe)
    spark.listenerManager.register(planProbe)
  }

  private def stopTracing(): Unit = {
    org.apache.spark.perfbench.Bus.drain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(probe)
    spark.listenerManager.unregister(planProbe)
  }

  private def detail(passes: Seq[PassRun]): Unit = {
    new File(o.out).mkdirs()
    val tag = s"${o.workload}-seed${o.seed}-trace${if (o.trace) 1 else 0}"
    val w = new PrintWriter(new File(o.out, s"detail-$tag.jsonl"))
    try passes.foreach { p =>
      w.println(f"""{"pass":${p.index},"traced":${p.traced},"wall_s":${Json.num(p.wallS)},""" +
        f""""gc_s":${Json.num(p.gcS)},"codegen_compiles":${p.codegenCompiles},""" +
        f""""codegen_ms":${Json.num(p.codegenMs)}}""")
      p.queries.foreach { q =>
        val layer = q.layer.toSeq.sortBy(_._1)
          .map { case (k, v) => s""""$k":${Json.num(v)}""" }.mkString(",")
        w.println(s"""{"pass":${p.index},"query":"${q.name}",""" +
          s""""construct_s":${Json.num(q.constructS)},"materialize_s":${Json.num(q.materializeS)},""" +
          s""""release_s":${Json.num(q.releaseS)},"error":${q.error.map(e =>
            "\"" + Json.esc(e) + "\"").getOrElse("null")}""" +
          (if (layer.isEmpty) "}" else s",$layer}"))
      }
    } finally w.close()
    if (o.trace) {
      val t = new PrintWriter(new File(o.out, s"trace-$tag.json"))
      try t.write(trace.json) finally t.close()
    }
  }

  def run(jvmStartMs: Double): Int = {
    val (setupS, loadS) = setup(jvmStartMs)
    val qs = wl.queries(o.data, o.seed)
    println(f"# [${uptimeS()}%.1f s] ${o.workload}: setup $setupS%.3f s, ${qs.size} queries")
    // warm-up: the first pass pays codegen compiles and JIT warm-up, and
    // checks every output (untimed)
    // each pass is followed by an untimed wait for the JIT to settle
    def pass(index: Int, check: Boolean, traced: Boolean): PassRun = {
      val p = runPass(qs, index, check, traced)
      settleJit()
      p
    }
    val first = pass(1, check = true, traced = false)
    val warm = (2 to wl.warmupPasses).map(i => pass(i, check = false, traced = false))
    val steady = mutable.ArrayBuffer.empty[PassRun]
    val t0 = Clock.ms
    // closed loop over a fixed number of steady passes; `--seconds` only
    // caps them. A traced run alternates untraced and traced passes so the
    // two see the same drift
    val minPasses = if (o.trace) 2 else 1
    while (steady.size < wl.steadyPasses &&
        (steady.size < minPasses || (Clock.ms - t0) / 1e3 < o.seconds)) {
      val traced = o.trace && steady.size % 2 == 1
      steady += pass(wl.warmupPasses + steady.size + 1, check = false, traced)
    }
    if (steady.size < wl.steadyPasses)
      println(s"# --seconds ${o.seconds} cut the steady passes to ${steady.size} " +
        s"of ${wl.steadyPasses}")
    val all = (first +: warm) ++ steady.toSeq
    detail(all)
    val attempted = all.map(_.queries.size).sum
    val failed = all.map(_.queries.count(!_.ok)).sum
    val metrics: Seq[(String, Double, String)] =
      if (!o.trace) endToEnd(setupS, first, steady.toSeq, qs.size)
      else perLayer(loadS, first, steady.toSeq, failed.toDouble / attempted)
    failures.take(20).foreach(f => println(s"# FAILED $f"))
    if (errors.count.get() > 0)
      errors.messages.asScala.take(5).foreach(m => println(s"# engine ERROR $m"))
    val correct = failed == 0
    val m = metrics.map { case (k, v, u) =>
      s""""$k":{"value":${Json.num(v)},"unit":"$u"}"""
    }.mkString(",")
    println(f"# [${uptimeS()}%.1f s] stopping")
    spark.stop()
    println(s"""{"correct":$correct,"attempted":$attempted,"failed":$failed,"metrics":{$m}}""")
    if (correct) 0 else 1
  }

  private def endToEnd(setupS: Double, first: PassRun, steady: Seq[PassRun],
      nQueries: Int): Seq[(String, Double, String)] = {
    val lat = steady.flatMap(_.queries.filter(_.ok).map(_.latencyS))
    val passS = median(steady.map(_.wallS))
    println(f"# ${steady.size} steady passes, ${lat.size} query samples, " +
      f"peak held $peakHeldMb%.1f MB (" +
      peakHeld.map { case (n, v) => f"$n $v%.1f" }.mkString(", ") + ")")
    Seq(
      ("setup_s", setupS, "s"),
      ("first_pass_s", first.wallS, "s"),
      ("pass_s", passS, "s"),
      ("query_p50_s", quantile(lat, 0.5), "s"),
      ("query_p90_s", quantile(lat, 0.9), "s"),
      ("rows_per_s", wl.inputRows(spark) * nQueries / passS, "rows/s"),
      ("peak_rss_mb", peakHeldMb, "MB"))
  }

  private def perLayer(loadS: Double, first: PassRun, steady: Seq[PassRun],
      errorRate: Double): Seq[(String, Double, String)] = {
    val traced = steady.filter(_.traced)
    val plain = steady.filterNot(_.traced)
    def perPass(k: String): Double =
      median(traced.map(_.queries.map(_.layer.getOrElse(k, 0.0)).sum))
    def perPassMax(k: String): Double =
      median(traced.map(_.queries.map(_.layer.getOrElse(k, 0.0)).max))
    val execute = perPass("scheduler.execute_s")
    val busy = perPass("scheduler.task_busy_s")
    val persists = perPass("storage.persists_created")
    val scans = perPass("storage.cache_scans")
    val self = trace.selfSecondsByLayer
    val nTraced = traced.size.toDouble
    val counts = Seq(
      "operators.construct_jobs", "operators.construct_tasks",
      "scheduler.jobs", "scheduler.stages", "scheduler.tasks").map(k => (k, perPass(k), "count"))
    Seq(
      ("sources.load_s", loadS, "s"),
      ("operators.construct_s", perPass("operators.construct_s"), "s")) ++ counts ++ Seq(
      ("catalyst.analysis_ms", perPass("catalyst.analysis_ms"), "ms"),
      ("catalyst.optimize_ms", perPass("catalyst.optimize_ms"), "ms"),
      ("catalyst.plan_ms", perPass("catalyst.plan_ms"), "ms"),
      ("catalyst.codegen_compiles", median(traced.map(_.codegenCompiles.toDouble)), "count"),
      ("catalyst.codegen_ms", median(traced.map(_.codegenMs)), "ms"),
      ("catalyst.first_pass_codegen_compiles", first.codegenCompiles.toDouble, "count"),
      ("catalyst.first_pass_codegen_ms", first.codegenMs, "ms"),
      ("scheduler.execute_s", execute, "s"),
      ("scheduler.task_busy_s", busy, "s"),
      ("scheduler.task_cpu_s", perPass("scheduler.task_cpu_s"), "s"),
      ("scheduler.gc_s", median(traced.map(_.gcS)), "s"),
      ("scheduler.idle_frac", if (execute > 0) 1 - busy / (4 * execute) else 0.0, "ratio"),
      ("shuffle.write_bytes", perPass("shuffle.write_bytes"), "bytes"),
      ("shuffle.read_bytes", perPass("shuffle.read_bytes"), "bytes"),
      ("shuffle.fetch_wait_s", perPass("shuffle.fetch_wait_s"), "s"),
      ("shuffle.spill_bytes", perPass("shuffle.spill_bytes"), "bytes"),
      ("storage.persists_created", persists, "count"),
      ("storage.cache_scans", scans, "count"),
      ("storage.reuse_ratio", if (persists > 0) scans / persists else 0.0, "ratio"),
      ("storage.peak_mb", perPassMax("storage.peak_mb"), "MB"),
      ("storage.release_s", perPass("storage.release_s"), "s"),
      ("engine.error_events", errors.count.get().toDouble, "count"),
      ("error_rate", errorRate, "ratio"),
      ("trace.pass_s", median(traced.map(_.wallS)), "s"),
      ("trace.untraced_pass_s", median(plain.map(_.wallS)), "s"),
      ("trace.overhead_s", median(traced.map(_.wallS)) - median(plain.map(_.wallS)), "s")) ++
      Seq("query", "operators", "catalyst", "scheduler", "job", "stage", "storage").map(l =>
        (s"trace.self_s.$l", self.getOrElse(l, 0.0) / nTraced, "s")) ++
      Kernels.run()
  }

  /** Re-records the expected row counts and checksums of a registry
    * workload from one cold pass of the current code.
    */
  def record(): Int = {
    setup(Clock.ms)
    val qs = wl.queries(o.data, o.seed)
    val rec = qs.map { q =>
      wl.beforeQuery(spark)
      val df = q.build(spark)
      val (rows, sum) = Checksum.of(df)
      graft.operators.Caching.releaseCheckpoints(blocking = true)
      println(s"# ${q.name}\t$rows\t$sum")
      q.name -> (rows, sum)
    }.toMap
    val merged = expected ++ rec
    val w = new PrintWriter(new File(o.expected))
    try {
      w.println(s"# query\trows\tchecksum (perfbench/run.py --record ${o.workload})")
      merged.toSeq.sortBy(_._1).foreach { case (n, (r, s)) => w.println(s"$n\t$r\t$s") }
    } finally w.close()
    spark.stop()
    0
  }
}
