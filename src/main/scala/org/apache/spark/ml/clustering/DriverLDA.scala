/** `LDA.fit` for the online optimizer with the mini-batch E-step on the
  * driver: builds the MLlib estimator and wraps its model exactly as `fit`
  * does, but trains through [[org.apache.spark.mllib.clustering.DriverOnlineLDA]]
  * on the dataset's vectors collected partition by partition. Lives in
  * Spark's package for `LDA`'s and `LocalLDAModel`'s package-private
  * members (the technique of `sql/graft/ColumnBridge`). */
package org.apache.spark.ml.clustering

import org.apache.spark.ml.linalg.Vector
import org.apache.spark.mllib.clustering.{DriverOnlineLDA, LDA => OldLDA}
import org.apache.spark.mllib.linalg.{Vector => OldVector, Vectors => OldVectors}
import org.apache.spark.sql.{DataFrame, Dataset}

import scala.collection.mutable.ArrayBuffer

object DriverLDA {

  /** The model `lda.fit(dataset)` returns, bit for bit, for an online `lda`
    * whose features column is a non-null vector column, or None when the
    * vectors hold more than `maxPairs` stored entries ((doc, word) pairs),
    * a corpus to leave to `lda.fit`. One Spark job reads the dataset and
    * counts its pairs as it goes; the iterations run none. */
  def fit(lda: LDA, dataset: Dataset[_], maxPairs: Long): Option[LDAModel] =
    collect(dataset.select(lda.getFeaturesCol), maxPairs).map { partitions =>
      // LDAParams' protected getOldDocConcentration / getOldTopicConcentration
      val oldLDA = new OldLDA()
        .setK(lda.getK)
        .setDocConcentration(
          if (lda.isSet(lda.docConcentration)) OldVectors.dense(lda.getDocConcentration)
          else OldVectors.dense(-1.0))
        .setTopicConcentration(
          if (lda.isSet(lda.topicConcentration)) lda.getTopicConcentration else -1.0)
        .setMaxIterations(lda.getMaxIter)
        .setSeed(lda.getSeed)
        .setCheckpointInterval(lda.getCheckpointInterval)
        .setOptimizer(lda.getOldOptimizer)
      val oldModel = DriverOnlineLDA.run(dataset.sparkSession.sparkContext, oldLDA, partitions)
      new LocalLDAModel(lda.uid, oldModel.vocabSize, oldModel, dataset.sparkSession)
        .copy(lda.extractParamMap())
        .setParent(lda)
    }

  /** The vectors of a one-column `features` frame, partition by partition
    * in order, if they hold at most `maxPairs` stored entries. A task stops
    * reading its partition once that alone is over the budget, and the
    * driver drops what it holds once the running total is, so a corpus
    * over the budget never sits whole on the driver. */
  private def collect(features: DataFrame, maxPairs: Long): Option[Array[Array[OldVector]]] = {
    val rdd = features.rdd.map(_.getAs[Vector](0))
    val partitions = new Array[Array[OldVector]](rdd.getNumPartitions)
    var pairs = 0L
    // a partition's pair count, and its docs unless the count is over
    val readPartition = (rows: Iterator[Vector]) => {
      val docs = ArrayBuffer.empty[OldVector]
      var partitionPairs = 0L
      while (partitionPairs <= maxPairs && rows.hasNext) {
        val v = rows.next()
        partitionPairs += v.numActives
        docs += OldVectors.fromML(v)
      }
      (partitionPairs, if (partitionPairs <= maxPairs) docs.toArray else null)
    }
    // results arrive one task at a time on the scheduler's thread
    rdd.sparkContext.runJob(rdd, readPartition,
      (i: Int, result: (Long, Array[OldVector])) =>
        if (pairs <= maxPairs) {
          pairs += result._1
          if (pairs <= maxPairs) partitions(i) = result._2
          else partitions.indices.foreach(partitions(_) = null)
        })
    if (pairs <= maxPairs) Some(partitions) else None
  }
}
