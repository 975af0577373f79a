package perfbench

import scala.util.Random

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** One query of a workload: `build` is the `fn(spark, sf)` call that
  * constructs the result (eager jobs included).
  */
final case class Query(name: String, build: SparkSession => DataFrame)

/** A benchmark workload. Everything but `queries`' timed runs is untimed:
  * `prepare` is billed to `setup_s`, `beforeQuery` and `check` to nothing.
  */
trait Workload {
  /** Input generation beyond loading the base tables. */
  def prepare(spark: SparkSession, seed: Long): Unit
  def queries(dataDir: String, seed: Long): Seq[Query]
  /** Cache state a query starts from; runs untimed before each query. */
  def beforeQuery(spark: SparkSession): Unit
  /** `None` when the output is right, else the reason it is wrong. */
  def check(spark: SparkSession, q: Query, df: DataFrame): Option[String]
  /** Input rows one query is given, for `rows_per_s`. */
  def inputRows(spark: SparkSession): Long
  /** Passes before the steady ones, the checked first pass included. */
  def warmupPasses: Int = 1
  /** Steady passes measured: a fixed count, so that two versions of the
    * code are compared over the same passes of the warm-up curve.
    */
  def steadyPasses: Int = 2
}

object Workload {
  def apply(name: String, expected: => Map[String, (Long, BigDecimal)]): Workload =
    name match {
      case "monoid_agg" => new MonoidAgg
      case "iterative" => new Iterative(expected)
      case other => throw new IllegalArgumentException(
        s"unknown workload '$other' (monoid_agg, iterative)")
    }

  /** The base tables, cached and materialized (one job per table,
    * submitted together).
    */
  def cacheBaseTables(spark: SparkSession): Unit = {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    import scala.concurrent.duration.Duration
    val tables = graft.sources.Tables.names.map { n => spark.table(n).cache(); spark.table(n) }
    Await.result(Future.traverse(tables)(t => Future(t.count())), Duration.Inf)
  }
}

/** Iterative registry operators with the most Spark jobs, each run cold:
  * the cache is cleared and the base tables re-cached before every query,
  * so no query reads what another wrote. The seed sets the order. Outputs
  * are checked by row count and an order-independent checksum recorded
  * from a known-good commit.
  */
final class Iterative(expected: => Map[String, (Long, BigDecimal)]) extends Workload {
  def prepare(spark: SparkSession, seed: Long): Unit =
    Workload.cacheBaseTables(spark)

  def queries(dataDir: String, seed: Long): Seq[Query] = {
    val registry = graft.SparkEntry.queries
    new Random(seed).shuffle(Iterative.names).map { n =>
      val fn = registry.getOrElse(n,
        throw new IllegalStateException(s"query $n is not in the registry"))
      Query(n, s => fn(s, dataDir))
    }
  }

  def beforeQuery(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    Workload.cacheBaseTables(spark)
  }

  def check(spark: SparkSession, q: Query, df: DataFrame): Option[String] =
    expected.get(q.name) match {
      case None => Some(s"no recorded output for ${q.name}")
      case Some(want) =>
        val got = Checksum.of(df)
        if (got == want) None
        else Some(s"rows/checksum ${got._1}/${got._2} != recorded ${want._1}/${want._2}")
    }

  def inputRows(spark: SparkSession): Long =
    graft.sources.Tables.names.map(n => spark.table(n).count()).sum

  /** Pass 2 runs ~10-20% slower than pass 3 with the same ~140 compiles
    * and GC (JIT). With pass 2 as a steady pass, the middle query's latency
    * (`query_p50_s`) spread 22% between ten seeds; so two warm-up passes,
    * and the two steady passes (3 and 4) sit on the end of that slope.
    */
  override def warmupPasses: Int = 2
}

object Iterative {
  /** The three with the most jobs, nearly all of them run while the
    * DataFrame is built (dbscan 71, scc 65, hits 58 at sf0.1). All twelve
    * of the heaviest take ~29 s a pass even on the smallest tables, more
    * than one run may spend.
    */
  val names: Seq[String] = Seq("q_embed_dbscan", "q_graph_scc", "q_graph_hits")
}

/** The paper's operator on a generated table: bigint and double arrays
  * `width` wide, a few-groups key and a many-groups key, and scalar columns
  * for the sketches. Four queries each run every reducer of both array
  * types under one key, on the native or the `Aggregator` path; a fifth runs
  * the five sketches. The seed sets the data; the query order is fixed.
  */
final class MonoidAgg(rows: Long = MonoidAgg.rows) extends Workload {
  import MonoidAgg._

  def prepare(spark: SparkSession, seed: Long): Unit = {
    val df = generate(spark, rows, seed)
    df.cache()
    df.count()
    df.createOrReplaceTempView("mono")
  }

  def inputRows(spark: SparkSession): Long = rows

  /** Pass 2 still compiles (~5-10 classes) and passes 3-4 run ~10% slower
    * than the plateau, with no compiles and flat GC (JIT). Three warm-up
    * passes; the five steady passes that follow reach the plateau, the same
    * passes in every run. With five queries, the p50 of 25 samples is the
    * middle query's median.
    */
  override def warmupPasses: Int = 3
  override def steadyPasses: Int = 5

  def beforeQuery(spark: SparkSession): Unit = ()

  def queries(dataDir: String, seed: Long): Seq[Query] = {
    val arrays = for {
      key <- Seq("kf", "km")
      path <- Seq("native", "udaf")
    } yield {
      val calls = for ((col, et) <- arrayCols; op <- ops(et)) yield {
        val fn = if (path == "native") s"array_reduce_${op}_native"
          else s"array_reduce_${op}_$et"
        s"$fn($col) AS ${et}_$op"
      }
      Query(s"${path}_$key", s => s.sql(
        s"SELECT $key AS k, ${calls.mkString(", ")} FROM mono GROUP BY $key"))
    }
    val sketches = Query("sketches", s => s.sql(
      s"SELECT ks AS k, ${sketchCalls.map { case (n, c) => s"$c AS $n" }.mkString(", ")} " +
        "FROM mono GROUP BY ks"))
    arrays :+ sketches
  }

  def check(spark: SparkSession, q: Query, df: DataFrame): Option[String] =
    q.name.split("_").toList match {
      case "sketches" :: Nil =>
        // cached, so the query runs once more for all five checks
        val cached = df.cache()
        val truth = Exact(spark)
        try sketchCalls.iterator.flatMap { case (kind, _) =>
          checkSketch(kind, truth, cached.select(col("k"), col(kind).as("s")))
            .map(r => s"$kind: $r")
        }.nextOption()
        finally cached.unpersist(blocking = true)
      case _ :: key :: Nil => checkArrays(spark, key, df)
      case _ => Some(s"no check for ${q.name}")
    }

  /** The result columns of the array queries: `<element type>_<reducer>`. */
  private val arrayResults: Seq[String] =
    for ((_, et) <- arrayCols; op <- ops(et)) yield s"${et}_$op"

  /** The plain-SQL reduction, collected: (key, group) -> column -> cells. */
  private var oracleCells: Map[(String, Int), Map[String, Seq[Double]]] = _

  /** Plain-SQL per-position reduction: one aggregate per (array, reducer,
    * position) under both keys, in one query shared by every array check.
    * (Exploding the elements with `posexplode` and aggregating per position
    * gives the same values, ~1 s slower at 240,000 rows.) The product is
    * exp(sum(ln)), exact to ~1e-12 for values near 1.
    */
  private def oracle(spark: SparkSession): Map[(String, Int), Map[String, Seq[Double]]] = {
    if (oracleCells == null) {
      val aggs = for ((arr, et) <- arrayCols; op <- ops(et)) yield {
        val cells = (0 until width).map { i =>
          val v = s"$arr[$i]"
          if (op == "product") s"exp(sum(ln($v)))" else s"$op($v)"
        }
        s"array(${cells.map(c => s"CAST($c AS DOUBLE)").mkString(", ")}) AS ${et}_$op"
      }
      oracleCells = spark.sql(
        s"""SELECT kf, km, CAST(grouping(km) AS INT) AS by_kf, ${aggs.mkString(", ")}
           |FROM mono GROUP BY GROUPING SETS ((kf), (km))""".stripMargin)
        .collect().map { r =>
          val key = if (r.getAs[Int]("by_kf") == 1) "kf" else "km"
          (key, r.getAs[Int](key)) ->
            arrayResults.map(n => n -> r.getSeq[Double](r.fieldIndex(n))).toMap
        }.toMap
    }
    oracleCells
  }

  /** Every (group, position) cell of every reducer against the plain-SQL
    * reduction: exact for bigint and for max/min, 1e-9 relative for double
    * sums and products, whose rounding depends on the fold order.
    */
  private def checkArrays(spark: SparkSession, key: String, df: DataFrame): Option[String] = {
    val want = oracle(spark).collect { case ((`key`, k), cells) => k -> cells }
    val got = df.collect().map(r => r.getInt(0) -> r).toMap
    if (got.keySet != want.keySet)
      return Some(s"${got.size} groups, the plain-SQL reduction has ${want.size}")
    got.iterator.flatMap { case (k, r) =>
      arrayResults.iterator.flatMap { n =>
        val g = r.getSeq[Any](r.fieldIndex(n)).map {
          case l: Long => l.toDouble
          case d: Double => d
        }
        val w = want(k)(n)
        val tol = if (n == "double_sum" || n == "double_product") 1e-9 else 0.0
        if (g.size == w.size && g.zip(w).forall { case (a, b) =>
            math.abs(a - b) <= tol * math.max(1.0, math.abs(b)) }) None
        else Some(s"$n of group $k differs from the plain-SQL reduction")
      }
    }.nextOption()
  }

  private def groups(df: DataFrame): Map[Int, Row] =
    df.collect().map(r => r.getInt(0) -> r.getStruct(1)).toMap

  /** Exact values of each sketch group, shared by the sketch checks. */
  private final case class Exact(distinct: Map[Int, Long], sortedX: Map[Int, Array[Double]],
      counts: Map[Int, Map[String, Long]])

  private object Exact {
    private def byGroup[T](spark: SparkSession, sql: String)(f: Row => T): Map[Int, T] =
      spark.sql(sql).collect().map(r => r.getInt(0) -> f(r)).toMap

    def apply(spark: SparkSession): Exact = Exact(
      byGroup(spark, "SELECT ks, count(DISTINCT u) FROM mono GROUP BY ks")(_.getLong(1)),
      byGroup(spark, "SELECT ks, sort_array(collect_list(x)) FROM mono GROUP BY ks")(
        _.getSeq[Double](1).toArray),
      byGroup(spark,
        "SELECT ks, map_from_entries(collect_list(struct(item, c))) FROM " +
          "(SELECT ks, item, count(*) AS c FROM mono GROUP BY ks, item) GROUP BY ks")(
        _.getMap[String, Long](1).toMap))
  }

  /** Each sketch against exact values, within its stated error bound. */
  private def checkSketch(kind: String, truth: Exact, df: DataFrame): Option[String] = {
    def fail(k: Int, what: String) = Some(s"group $k: $what")
    kind match {
      case "hll" =>
        // p = 12: relative standard error 1.04 / sqrt(4096) = 1.6%; allow 5σ
        groups(df).collectFirst(Function.unlift { case (k, s) =>
          val err = math.abs(s.getLong(2).toDouble / truth.distinct(k) - 1.0)
          if (err > 5 * 1.04 / 64) fail(k, f"HLL relative error $err%.4f") else None
        })
      case "kmv" =>
        // k = 256: relative standard error 1 / sqrt(k - 2); allow 4σ
        groups(df).collectFirst(Function.unlift { case (k, s) =>
          val est = 255.0 * math.pow(2, 60) / s.getLong(1).toDouble
          val err = math.abs(est / truth.distinct(k) - 1.0)
          if (err > 4 / math.sqrt(254)) fail(k, f"KMV relative error $err%.4f") else None
        })
      case "kll" =>
        // a uniform sample of n values: rank error at quantile q has
        // standard deviation sqrt(q(1-q)/n); allow 4σ plus one rank step
        groups(df).collectFirst(Function.unlift { case (k, s) =>
          val n = s.getLong(1).toDouble
          val all = truth.sortedX(k)
          Seq(0.5, 0.9, 0.99).zip(s.getSeq[Double](2)).collectFirst(Function.unlift {
            case (q, est) =>
              val rank = MonoidAgg.upperRank(all, est).toDouble / all.length
              val bound = 4 * math.sqrt(q * (1 - q) / n) + 1 / n
              if (math.abs(rank - q) > bound)
                fail(k, f"KLL q=$q rank $rank%.4f outside ±$bound%.4f")
              else None
          })
        })
      case "cms" =>
        // never under-counts; the median over-count stays within e·n/width
        df.collect().map(r => r.getInt(0) -> r.getSeq[Long](1)).collectFirst(
          Function.unlift { case (k, sk) =>
            val n = truth.counts(k).values.sum
            val over = truth.counts(k).toSeq.map { case (item, c) =>
              graft.functions.CountMin.estimate(sk, item, 3, 64) - c
            }.sorted
            if (over.head < 0) fail(k, s"CMS under-counts by ${-over.head}")
            else if (over(over.size / 2) > math.E * n / 64)
              fail(k, s"CMS median over-count ${over(over.size / 2)}")
            else None
          })
      case "topk" =>
        // Misra-Gries with k counters never over-counts; anything above
        // 1.5·n/(k+1) must be reported, short by at most 2·n/(k+1)
        df.collect().map(r => r.getInt(0) ->
          r.getSeq[Row](1).map(t => t.getString(0) -> t.getLong(1)).toMap)
          .collectFirst(Function.unlift { case (k, top) =>
            val exactK = truth.counts(k)
            val n = exactK.values.sum.toDouble
            val slack = n / 11
            val missing = exactK.collectFirst {
              case (item, c) if c > 1.5 * slack && !top.contains(item) => item
            }
            val off = top.collectFirst {
              case (item, c) if c > exactK(item) || c < exactK(item) - 2 * slack => item
            }
            missing.map(i => s"group $k: heavy item $i not reported")
              .orElse(off.map(i => s"group $k: count of $i outside bounds"))
          })
      case other => Some(s"no check for sketch $other")
    }
  }
}

object MonoidAgg {
  /** Sized so that per-row array work carries a pass: at 60,000 rows the
    * per-query planning and scheduling cost was ~60% of a pass.
    */
  val rows: Long = 200000L
  val width: Int = 32
  /** The array columns and their element types. */
  val arrayCols: Seq[(String, String)] = Seq("al" -> "long", "ad" -> "double")
  /** The sketch aggregates, all run by one query over the sketch groups. */
  val sketchCalls: Seq[(String, String)] = Seq(
    "hll" -> "hll_sketch_p12(uh)",
    "kll" -> "kll_quantile_k1024(uh, x)",
    "cms" -> "count_min_3x64(item)",
    "kmv" -> "kmv_bottom_k256(uh)",
    "topk" -> "approx_top_k_10(item)")
  val fewGroups: Int = 8
  val manyGroups: Int = 2000
  /** Groups of the sketch queries: few enough that each holds well over
    * 2.5 × 4096 distinct values, where the raw HLL estimate meets its
    * stated error.
    */
  val sketchGroups: Int = 2

  /** The reducers each array type runs; a bigint product of this many
    * values would saturate, so only the double arrays (values near 1) take
    * the product.
    */
  def ops(elementType: String): Seq[String] =
    if (elementType == "long") Seq("sum", "max", "min") else Seq("sum", "product", "max", "min")

  /** Number of values `<= v` in a sorted array. */
  def upperRank(sorted: Array[Double], v: Double): Int = {
    var lo = 0
    var hi = sorted.length
    while (lo < hi) {
      val mid = (lo + hi) >>> 1
      if (sorted(mid) <= v) lo = mid + 1 else hi = mid
    }
    lo
  }

  /** The generated table. Every value is a hash of (row id, seed), so one
    * seed always gives the same table.
    */
  def generate(spark: SparkSession, n: Long, seed: Long): DataFrame = {
    def h(tag: Int, extra: Column*): Column =
      xxhash64((Seq(col("id"), lit(seed), lit(tag)) ++ extra): _*)
    val al = array((0 until width).map(i => pmod(h(3, lit(i)), lit(2001L)) - 1000L): _*)
    val ad = array((0 until width).map(i =>
      lit(1.0) + (pmod(h(4, lit(i)), lit(2001L)) - 1000L).cast("double") * 1e-6): _*)
    val u01 = pmod(h(7), lit(1000000L)).cast("double") / 1e6
    spark.range(0, n, 1, 4).select(
      pmod(h(1), lit(fewGroups.toLong)).cast("int").as("kf"),
      pmod(h(2), lit(manyGroups.toLong)).cast("int").as("km"),
      al.as("al"),
      ad.as("ad"),
      pmod(h(5), lit(4 * n)).as("u"),
      (pmod(h(6), lit(1000000L)).cast("double") / 1e3).as("x"),
      pmod(h(8), lit(sketchGroups.toLong)).cast("int").as("ks"),
      concat(lit("item"), floor(pow(u01, 4) * 1000).cast("string")).as("item"))
      .withColumn("uh", graft.operators.Dedup.portableHash(col("u").cast("string")))
  }
}

/** Order-independent summary of a result: row count and the sum of a
  * 64-bit hash of every row. Floating values are rounded to 6 decimals
  * first, so a different summation order does not change the checksum.
  */
object Checksum {
  private def hasFloat(t: DataType): Boolean = t match {
    case FloatType | DoubleType => true
    case ArrayType(et, _) => hasFloat(et)
    case StructType(fs) => fs.exists(f => hasFloat(f.dataType))
    case MapType(k, v, _) => true
    case _ => false
  }

  private def normalize(c: Column, t: DataType): Column = t match {
    case FloatType | DoubleType => round(c.cast(DoubleType), 6)
    case ArrayType(et, _) if hasFloat(et) => transform(c, x => normalize(x, et))
    case StructType(fs) if hasFloat(t) =>
      struct(fs.map(f => normalize(c.getField(f.name), f.dataType).as(f.name)).toIndexedSeq: _*)
    case MapType(k, v, _) =>
      normalize(array_sort(map_entries(c)), ArrayType(StructType(Seq(
        StructField("key", k), StructField("value", v)))))
    case _ => c
  }

  def of(df: DataFrame): (Long, BigDecimal) = {
    val named = df.toDF(df.columns.indices.map(i => s"c$i"): _*)
    val cols = named.schema.fields.map(f => normalize(col(f.name), f.dataType))
    val r = named.select(xxhash64(cols.toIndexedSeq: _*).as("h"))
      .agg(count(lit(1)), sum(col("h").cast("decimal(38,0)"))).head()
    (r.getLong(0), Option(r.getDecimal(1)).map(BigDecimal(_)).getOrElse(BigDecimal(0)))
  }
}
