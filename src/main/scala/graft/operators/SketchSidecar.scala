package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Dataset, Encoder}
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions.col

import scala.reflect.runtime.universe.TypeTag

/** SKETCH SIDECAR LIFECYCLE — persist a mergeable sketch's state as a
  * parquet table and fold each ingest batch in incrementally, so a
  * corpus-wide distinct/quantile profile updates in O(batch) instead of
  * an O(corpus) rescan (VERDICT r13 item 5 — the `_graft_codebook`
  * sidecar posture from [[Similarity.streamingIvfRefresh]] applied to
  * the sketch rack).
  *
  * There is no sketch-specific code here: the sketch IS its
  * [[org.apache.spark.sql.expressions.Aggregator]] — `zero` and `merge`
  * are the monoid (law-tested in `MonoidLawsSpec`), `reduce` lifts one
  * input into it, `finish` reads it off. The same [[graft.functions
  * .HllSketch]], [[graft.functions.KmvBottomK]] and [[graft.functions
  * .KllSketch]] instances serve the GROUP BY SQL names, the
  * `EventStreams` windows and this sidecar, so the published estimate
  * is by construction the one-shot aggregate's (spec-pinned EQUAL to
  * [[Profile.hllDistinct]] / [[Profile.kmvDistinct]] /
  * [[Profile.kllQuantile]] over the full corpus, which is what makes
  * the merge chain oracle-checkable: the gate replays three
  * deterministic ingest batches through the fold and hash-checks
  * against the FULL-corpus DuckDB replay).
  *
  * State format: a state table is ONE row whose schema is the sketch's
  * `bufferEncoder` — plain parquet columns, no JVM-serialized blobs.
  * HLL is one `binary` column `value` (the 2^p register bytes), KMV one
  * `array<bigint>` column `value` (the ≤ k smallest distinct hashes,
  * ascending), KLL the `KllBuf` fields (`level`, `n`, `lvls` binary,
  * `vs` array<double>). An empty batch yields the sketch's `zero`.
  *
  * Scale shape: a batch state build is one scan of the BATCH (never the
  * corpus) down to the model-sized buffer; a merge moves only state
  * rows. The parquet update is write-to-temp + rename-swap (the
  * [[Similarity.compactIvfIndex]] discipline), so a concurrent reader
  * sees the old state or the new — never a partial table.
  */
object SketchSidecar {

  /** The sketch's own fold with its buffer as the output: `zero` and
    * `merge` are the sketch's, `step` is its `reduce` (building a state
    * from inputs) or its `merge` (folding state rows), `finish` is the
    * identity.
    */
  private class StateFold[IN, S](sketch: Aggregator[_, S, _],
      step: (S, IN) => S) extends Aggregator[IN, S, S] {
    override def zero: S = sketch.zero
    override def reduce(s: S, in: IN): S = step(s, in)
    override def merge(a: S, b: S): S = sketch.merge(a, b)
    override def finish(s: S): S = s
    override def bufferEncoder: Encoder[S] = sketch.bufferEncoder
    override def outputEncoder: Encoder[S] = sketch.bufferEncoder
  }

  private def fold[IN, S](ds: Dataset[IN], agg: StateFold[IN, S]): DataFrame =
    ds.select(agg.toColumn.name("value")).toDF()

  /** State of ONE batch: `inputs` are mapped positionally onto the
    * sketch's input type (e.g. the portable hash for HLL/KMV, the
    * (hash, value) pair for KLL); rows with a null input are dropped
    * first, since the sketches take primitive inputs.
    */
  def state[IN: TypeTag, S](sketch: Aggregator[IN, S, _], batch: DataFrame,
      inputs: Column*): DataFrame = {
    val enc = ExpressionEncoder[IN]()
    val names = enc.schema.fieldNames.toSeq
    val in = batch.select(inputs: _*).toDF(names: _*)
      .where(names.map(n => col(n).isNotNull).reduce(_ && _))
    fold(in.as(enc), new StateFold[IN, S](sketch, sketch.reduce))
  }

  /** Merge two state tables with the sketch's own `merge`. */
  def merge[S](sketch: Aggregator[_, S, _])(a: DataFrame,
      b: DataFrame): DataFrame =
    fold(a.unionByName(b).as(sketch.bufferEncoder),
      new StateFold[S, S](sketch, sketch.merge))

  /** Read a state table off with the sketch's own `finish`. */
  def readOff[S, OUT](sketch: Aggregator[_, S, OUT],
      state: DataFrame): Dataset[OUT] =
    state.as(sketch.bufferEncoder).map(s => sketch.finish(s))(
      sketch.outputEncoder)

  // ---------------------------------------------------- parquet lifecycle

  /** Fold one batch's state into the parquet sidecar at `path` and
    * return the merged state (read back from the published table).
    * First call creates the sidecar; every later call reads the current
    * state, merges, writes to a temp directory and atomically
    * rename-swaps it in (a concurrent reader sees old state or new,
    * never partial; on a failed swap-in the old state is rolled back).
    * O(batch + state) work per ingest — never an O(corpus) rescan.
    */
  def updateSidecar(path: String, batchState: DataFrame,
      merge: (DataFrame, DataFrame) => DataFrame): DataFrame = {
    val spark = batchState.sparkSession
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val target = new org.apache.hadoop.fs.Path(path)
    if (!fs.exists(target)) {
      batchState.write.mode("overwrite").parquet(path)
    } else {
      val merged = merge(spark.read.parquet(path), batchState)
      val tmp = new org.apache.hadoop.fs.Path(path + "_graft_tmp")
      merged.write.mode("overwrite").parquet(tmp.toString)
      val old = new org.apache.hadoop.fs.Path(path + "_graft_old")
      if (fs.exists(old)) fs.delete(old, true)
      if (!fs.rename(target, old))
        throw new java.io.IOException(s"sidecar: cannot swap out $path")
      if (!fs.rename(tmp, target)) {
        fs.rename(old, target) // roll back — old state intact
        throw new java.io.IOException(s"sidecar: cannot swap in $path")
      }
      fs.delete(old, true)
    }
    spark.read.parquet(path)
  }
}
