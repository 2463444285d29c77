package org.apache.spark.ml.clustering

import org.apache.spark.mllib.clustering.{KMeansModel => OldKMeansModel}
import org.apache.spark.mllib.linalg.{Vectors => OldVectors}
import org.apache.spark.sql.DataFrame

/** Centers fitted outside MLlib → an ml [[KMeansModel]].
  *
  * The model constructor, its summary constructor and `setSummary` are
  * package-private to `org.apache.spark.ml`, so wrapping centers a
  * caller computed itself needs this one-file adapter inside the
  * package, the same pattern as `org.apache.spark.sql.graftbridge`.
  * Prediction stays MLlib's own closest-center rule.
  */
object KMeansBridge {

  /** A model over `centers` with the params of `estimator` and a
    * training summary over `training`, whose `numIter` and
    * `trainingCost` are the values given here. */
  def model(estimator: KMeans, centers: Array[Array[Double]], numIter: Int,
            trainingCost: Double, training: DataFrame): KMeansModel = {
    val parent = new OldKMeansModel(centers.map(c => OldVectors.dense(c)),
      estimator.getDistanceMeasure, trainingCost, numIter)
    // the estimator's uid makes its params the model's, as KMeans.fit does
    val model = new KMeansModel(estimator.uid, parent)
      .copy(estimator.extractParamMap()).setParent(estimator)
    val summary = new KMeansSummary(model.transform(training),
      model.getPredictionCol, model.getFeaturesCol, model.getK, numIter,
      trainingCost)
    model.setSummary(Some(summary))
  }
}
