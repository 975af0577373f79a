package graft.queries

import graft.operators.{Dedup, Similarity, TextAnalysis}
import graft.sources.Tables
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}

import scala.reflect.runtime.universe.TypeTag

/** Portable sketch queries (SURVEY.md §2c): KMV / HLL distinct,
  * Misra-Gries heavy hitters, Count-Min, KLL-style quantiles
  * (global / grouped / weighted) and the sidecar merge chain.
  *
  * Oracle policy (shared across the query registry): deterministic
  * rational/string computations get full DuckDB oracles
  * (dialect-translated); probabilistic pipelines whose correctness
  * contract is recall vs an exact baseline are covered by ScalaTest
  * brute-force comparisons and registered rows-only.
  */
object ApproxQueries {

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // --- approximate sketches (HLL distinct, quantiles): rows-only —
    // implementation-specific estimates have no cross-engine oracle; error
    // bounds vs exact values are asserted in SketchSpec. Quantiles are
    // emitted as two scalar columns (the driver's comparator can't hash
    // array cells) ---
    "q_approx_sketches" -> ((s, d) => {
      Tables.load(s, d)
      s.sql(
        """SELECT l_returnflag,
          |       approx_count_distinct(l_partkey) AS approx_parts,
          |       element_at(percentile_approx(l_quantity, array(0.5, 0.95), 10000), 1) AS q50,
          |       element_at(percentile_approx(l_quantity, array(0.5, 0.95), 10000), 2) AS q95
          |FROM lineitem GROUP BY l_returnflag""".stripMargin)
    }),

    // --- percentile_approx in its provably-EXACT regime (the q_approx_topk
    // pattern applied to quantile sketches): Greenwald-Khanna summaries
    // retain every sample until the compress threshold (= accuracy), so with
    // per-group rows <= accuracy the "approx" quantile IS the exact
    // order statistic — hash-checked against DuckDB's quantile_disc. The
    // approximate regime keeps its error-bound spec in SketchSpec;
    // approx_count_distinct has no such regime (HLL registers are lossy at
    // any cardinality) and stays rows-only in q_approx_sketches ---
    "q_approx_quantile_exact" -> ((s, d) => {
      Tables.load(s, d)
      s.sql(
        """SELECT l_returnflag,
          |       percentile_approx(CAST(l_quantity AS DOUBLE), 0.5, 10000) AS q50,
          |       percentile_approx(CAST(l_quantity AS DOUBLE), 0.95, 10000) AS q95,
          |       count(*) AS n
          |FROM lineitem WHERE l_orderkey % 100 = 0
          |GROUP BY l_returnflag""".stripMargin)
    }),

    // --- Misra-Gries heavy hitters: k=5 >= 3 distinct values, so the
    // sketch is provably exact and the oracle checks it against plain
    // GROUP BY counts; the approximate regime is bound-tested in SketchSpec
    "q_approx_topk" -> ((s, d) => {
      Tables.load(s, d)
      s.sql(
        """SELECT CAST(pos + 1 AS BIGINT) AS rank, t._1 AS term, t._2 AS cnt
          |FROM (SELECT approx_top_k_5(l_returnflag) AS tk FROM lineitem)
          |LATERAL VIEW posexplode(tk) AS pos, t""".stripMargin)
    }),

    // --- KMV bottom-k distinct sketch: the PORTABLE cardinality
    // estimator — the md5 hash family, bottom-k, and floor-division
    // estimate are all integer-exact, so unlike HLL the ESTIMATE itself
    // is oracle-checked, error and all (exact count rides along) ---
    "q_approx_kmv" -> ((s, d) => {
      Tables.load(s, d)
      graft.operators.Profile.kmvDistinct(
        s.table("lineitem"), "l_orderkey", k = 256)
    }),

    // --- portable HyperLogLog: the industry-standard distinct sketch
    // with md5 registers and a fixed-point raw estimator, so — uniquely
    // for an HLL — the registers AND the estimate hash-match the oracle
    // (the builtin approx_count_distinct stays rows-only-documented in
    // q_approx_sketches; this is the cross-engine answer) ---
    "q_approx_hll" -> ((s, d) => {
      Tables.load(s, d)
      graft.operators.Profile.hllDistinct(
        s.table("lineitem"), "l_orderkey", p = 8)
    }),

    // --- per-group HLL: estimated distinct texts per source — the
    // grouped form of the portable sketch (oracle-checked) ---
    "q_approx_hll_by" -> ((s, d) => {
      Tables.load(s, d)
      graft.operators.Profile.hllDistinctBy(
        s.table("documents"), "source", "text", p = 8)
    }),

    // --- HLL register-algebra source overlap: estimated distinct-text
    // overlap per source pair via element-wise-max register unions +
    // inclusion-exclusion — the sketch-tier q_dedup_overlap, G·m register
    // rows instead of every fingerprint through a join (oracle-checked;
    // gate sources sit in the raw estimator's documented-biased small
    // range, which is fine — the gate checks VALUE replay, the
    // statistical regime is spec-tested at 5k keys) ---
    "q_approx_hll_overlap" -> ((s, d) => {
      Tables.load(s, d)
      graft.operators.Profile.hllOverlap(
        s.table("documents"), "source", "text", p = 8)
    }),

    // --- portable KLL-style quantile sketch: deterministic hash-coin
    // level sampling (the KLL sampler tier), type-1 integer-rank
    // read-offs over the ≤k sample — the last sketch corner
    // (percentile_approx's state is engine-private like
    // approx_count_distinct's; this is its cross-engine twin, estimate
    // hash-checked) ---
    "q_approx_kll" -> ((s, d) => {
      Tables.load(s, d)
      graft.operators.Profile.kllQuantile(
        s.table("lineitem").withColumn("rid",
          concat(col("l_orderkey").cast("string"), lit("_"),
            col("l_linenumber").cast("string"))),
        "l_extendedprice", "rid", k = 1024, qPermille = Seq(100, 500, 900, 990))
    }),

    // --- per-group portable quantile sketch: p50/p90 of quantity per
    // return flag — the grouped form (oracle-checked) ---
    "q_approx_kll_by" -> ((s, d) => {
      Tables.load(s, d)
      graft.operators.Profile.kllQuantileBy(
        s.table("lineitem").withColumn("rid",
          concat(col("l_orderkey").cast("string"), lit("_"),
            col("l_linenumber").cast("string"))),
        "l_returnflag", "l_quantity", "rid", k = 256,
        qPermille = Seq(500, 900))
    }),

    // --- WEIGHTED portable quantile sketch: quantity-weighted price
    // percentiles ("p90 price per unit shipped") via systematic
    // sampling of the weight expansion off the same md5 row coin —
    // integer survivor counts, weighted rank read-off (oracle-checked) ---
    "q_approx_kll_w" -> ((s, d) => {
      Tables.load(s, d)
      graft.operators.Profile.kllQuantileWeighted(
        s.table("lineitem").withColumn("rid",
          concat(col("l_orderkey").cast("string"), lit("_"),
            col("l_linenumber").cast("string"))),
        "l_extendedprice", "l_quantity", "rid", k = 1024,
        qPermille = Seq(500, 900, 990))
    }),

    // --- per-group WEIGHTED quantile sketch: quantity-weighted price
    // percentiles per return flag — "p90 price per unit shipped, per
    // flag", the mixture-audit form (VERDICT r13 item 1); same
    // systematic-sampling survivor math as q_approx_kll_w with one
    // ≤k-row sample per group (oracle-checked) ---
    "q_approx_kll_w_by" -> ((s, d) => {
      Tables.load(s, d)
      graft.operators.Profile.kllQuantileWeightedBy(
        s.table("lineitem").withColumn("rid",
          concat(col("l_orderkey").cast("string"), lit("_"),
            col("l_linenumber").cast("string"))),
        "l_returnflag", "l_extendedprice", "l_quantity", "rid", k = 256,
        qPermille = Seq(500, 900))
    }),

    // --- sketch sidecar merge chain: the corpus split into 3
    // deterministic ingest batches, each batch folded to its sketch
    // Aggregator's state (HLL registers / KMV bottom-k / KLL level
    // sample) and the states merged left-to-right — O(batch) per ingest,
    // and the merged estimates EQUAL the one-shot full-corpus sketches,
    // which is the oracle: the full-corpus DuckDB replays
    // (oracle-checked) ---
    "q_approx_sidecar" -> ((s, d) => {
      Tables.load(s, d)
      val docs = s.table("documents")
      val batches = (0 to 2).map(i =>
        docs.where(pmod(col("doc_id"), lit(3)) === i))
      import graft.functions.{HllSketch, KllSketch, KmvBottomK}
      import graft.operators.SketchSidecar
      def folded[IN: TypeTag, S, OUT](sketch: Aggregator[IN, S, OUT],
          inputs: Column*): DataFrame =
        SketchSidecar.readOff(sketch,
          batches.map(SketchSidecar.state(sketch, _, inputs: _*))
            .reduce(SketchSidecar.merge(sketch))).toDF()
      def hashed(prefix: String, key: String): Column =
        Dedup.portableHash(concat(lit(prefix), col(key).cast("string")))
      val hll = folded(new HllSketch(8), hashed("hll:", "text"))
        .toDF("v_zero", "t_fx", "est_raw")
      val kmv = folded(new KmvBottomK(64), hashed("kmv:", "text"))
        .toDF("n_kept", "h_k")
        .withColumn("est_distinct", KmvBottomK.estimate(64))
      val kll = folded(new KllSketch(256, Seq(500, 900)),
          hashed("kll:", "doc_id"), col("n_chars").cast("double"))
        .select(col("est")(0).as("p500"), col("est")(1).as("p900"),
          col("n_sample"))
      // one pass per sketch: its stats leave as (stat, val) rows
      def stats(df: DataFrame, kind: String, cols: Seq[String]) =
        df.select(explode(array(cols.map(c =>
            struct(lit(c).as("stat"), col(c).cast("long").as("val"))): _*))
          .as("r"))
          .select(lit(kind).as("kind"), col("r.stat"), col("r.val"))
      stats(hll, "hll", Seq("v_zero", "t_fx", "est_raw"))
        .unionByName(stats(kmv, "kmv", Seq("n_kept", "h_k", "est_distinct")))
        .unionByName(stats(kll, "kll", Seq("p500", "p900", "n_sample")))
    }),

    // --- Count-Min sketch point estimates: 3 distinct keys over a 3x64
    // sketch — no key pair collides in every row (checkable, and the spec
    // pins the never-underestimate + merge guarantees), so the estimates
    // are exact and the oracle checks them against plain GROUP BY counts;
    // the approximate regime is bound-tested in SketchSpec ---
    "q_approx_countmin" -> ((s, d) => {
      Tables.load(s, d)
      val sk = s.table("lineitem")
        .agg(expr("count_min_3x64(l_returnflag)").as("sk"))
      val keys = s.table("lineitem").select(col("l_returnflag").as("k")).distinct()
      keys.crossJoin(broadcast(sk))
        .select(col("k"),
          graft.functions.CountMin.estimateCol(col("sk"), col("k"), 3, 64)
            .as("est_n"))
    }),
  )

  val oracleSql: Map[String, String] = Map(
    // exact regime: estimates == true counts (see the query's comment)
    "q_approx_countmin" ->
      """SELECT l_returnflag AS k, count(*) AS est_n
        |FROM lineitem GROUP BY l_returnflag""".stripMargin,

    "q_approx_topk" ->
      """SELECT row_number() OVER (ORDER BY cnt DESC, term) AS rank, term, cnt
        |FROM (SELECT l_returnflag AS term, count(*) AS cnt
        |      FROM lineitem GROUP BY 1)""".stripMargin,

    "q_approx_kmv" -> graft.operators.Profile.kmvOracleSql(
      "lineitem", "l_orderkey", k = 256),

    "q_approx_hll" -> graft.operators.Profile.hllOracleSql(
      "lineitem", "l_orderkey", p = 8),

    "q_approx_hll_overlap" -> graft.operators.Profile.hllOverlapOracleSql(
      "documents", "source", "text", p = 8),

    "q_approx_hll_by" -> graft.operators.Profile.hllDistinctByOracleSql(
      "documents", "source", "text", p = 8),

    "q_approx_kll" -> graft.operators.Profile.kllOracleSql(
      "lineitem", "l_extendedprice",
      "l_orderkey::VARCHAR || '_' || l_linenumber::VARCHAR",
      k = 1024, qPermille = Seq(100, 500, 900, 990)),

    "q_approx_kll_by" -> graft.operators.Profile.kllByOracleSql(
      "lineitem", "l_returnflag", "l_quantity",
      "l_orderkey::VARCHAR || '_' || l_linenumber::VARCHAR",
      k = 256, qPermille = Seq(500, 900)),

    "q_approx_kll_w" -> graft.operators.Profile.kllWeightedOracleSql(
      "lineitem", "l_extendedprice", "l_quantity",
      "l_orderkey::VARCHAR || '_' || l_linenumber::VARCHAR",
      k = 1024, qPermille = Seq(500, 900, 990)),

    "q_approx_kll_w_by" -> graft.operators.Profile.kllWeightedByOracleSql(
      "lineitem", "l_returnflag", "l_extendedprice", "l_quantity",
      "l_orderkey::VARCHAR || '_' || l_linenumber::VARCHAR",
      k = 256, qPermille = Seq(500, 900)),

    "q_approx_sidecar" -> {
      val hll = graft.operators.Profile.hllOracleSql(
        "documents", "text", p = 8)
      val kmv = graft.operators.Profile.kmvOracleSql(
        "documents", "text", k = 64)
      val kll = graft.operators.Profile.kllOracleSql(
        "documents", "n_chars", "doc_id", k = 256,
        qPermille = Seq(500, 900))
      s"""WITH hs AS ($hll), ms AS ($kmv), qs AS ($kll)
         |SELECT 'hll' AS kind, 'v_zero' AS stat, v_zero::BIGINT AS val
         |FROM hs
         |UNION ALL SELECT 'hll', 't_fx', t_fx::BIGINT FROM hs
         |UNION ALL SELECT 'hll', 'est_raw', est_raw::BIGINT FROM hs
         |UNION ALL SELECT 'kmv', 'n_kept', n_kept::BIGINT FROM ms
         |UNION ALL SELECT 'kmv', 'h_k', h_k::BIGINT FROM ms
         |UNION ALL SELECT 'kmv', 'est_distinct', est_distinct::BIGINT
         |FROM ms
         |UNION ALL SELECT 'kll', 'p' || q_pm::VARCHAR, est_v::BIGINT
         |FROM qs
         |UNION ALL SELECT 'kll', 'n_sample', max(n_sample)::BIGINT
         |FROM qs""".stripMargin
    },

    // exact regime: rows-per-group <= GK accuracy → exact order statistics
    "q_approx_quantile_exact" ->
      """SELECT l_returnflag,
        |       quantile_disc(l_quantity::DOUBLE, 0.5) AS q50,
        |       quantile_disc(l_quantity::DOUBLE, 0.95) AS q95,
        |       count(*) AS n
        |FROM lineitem WHERE l_orderkey % 100 = 0
        |GROUP BY l_returnflag""".stripMargin,
  )
}
