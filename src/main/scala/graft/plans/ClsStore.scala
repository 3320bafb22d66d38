package graft.plans

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.Classifier

/** Persisted quality-classifier artifact — the serving split for
  * [[graft.operators.Classifier]], following the house frozen-model
  * discipline ([[BpeStore]]/[[LmStore]]/[[Bm25IndexStore]]/
  * [[IvfIndexStore]]): TRAIN once over the reference corpus (the
  * 16-pass gradient loop is the expensive half), save the weight
  * vector, and score every arriving batch under the FROZEN weights.
  * The artifact is #features rows — bytes-scale however many TB it was
  * trained on — so "loading the model" is a driver-side collect and
  * batch scoring is one stateless per-row map (it composes into a
  * structured stream unchanged, like the gopher gate).
  *
  * Frozen weights are what make scores COMPARABLE across batches: a
  * document scores identically whether it arrived in the training run
  * or three ingests later — the same contract as BM25's frozen
  * df/avgdl and the IVF quantizer's frozen centroids. Re-training (to
  * let corpus drift move the boundary) is the documented rebuild knob;
  * [[graft.operators.Quality.corpusDrift]] is the monitor that says
  * when.
  */
object ClsStore {

  def weightsTable(table: String): String = s"${table}_cls_weights"

  /** Train on `corpus` (doc_id, text) and publish the weight vector as
    * (j, w) rows, a fresh version under `path`.
    */
  def build(corpus: DataFrame, table: String, path: String): Unit = {
    val w = Classifier.train(Classifier.features(corpus))
    val spark = corpus.sparkSession
    import spark.implicits._
    Publish.version(spark, path, Seq(weightsTable(table) -> "weights"))(
      _.save(w.toSeq.zipWithIndex.map { case (wj, j) => (j, wj) }
        .toDF("j", "w").coalesce(1), weightsTable(table)))
  }

  /** The saved weight vector — #features rows by construction. */
  def loadWeights(spark: SparkSession, table: String): Array[Double] = {
    val rows = spark.table(weightsTable(table))
      .orderBy("j").collect()
    require(rows.length == Classifier.NumFeatures,
      s"classifier artifact $table has ${rows.length} weights, " +
        s"expected ${Classifier.NumFeatures}")
    rows.map(_.getDouble(1))
  }

  /** Score `docs` (doc_id, text) under the frozen artifact. Output
    * shape equals [[Classifier.scoreCorpus]], and on the training
    * corpus the results are identical (same features, same weights —
    * ClassifierSpec pins served ≡ in-plan), so the served query
    * carries the same oracle.
    */
  def score(
      spark: SparkSession, docs: DataFrame, table: String): DataFrame =
    Classifier.scoreWith(
      Classifier.features(docs), loadWeights(spark, table))
}
