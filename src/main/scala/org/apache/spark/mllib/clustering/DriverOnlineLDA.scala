/** Runs MLlib's own OnlineLDAOptimizer over a corpus held on the driver,
  * reproducing `LDA.run` on an RDD of the same partition layout bit for bit
  * without a Spark job per iteration. `next()`'s sampling and
  * `submitMiniBatch`'s E-step and combine are replayed on the calling thread;
  * initialization, the lambda and alpha updates and the final model stay
  * MLlib's own code. Lives in Spark's package to reach the optimizer's
  * package-private members (the technique of `sql/graft/ColumnBridge`); the
  * two truly private updates are called by reflection, not re-derived. */
package org.apache.spark.mllib.clustering

import breeze.linalg.{DenseMatrix => BDM, DenseVector => BDV}
import breeze.numerics.exp
import org.apache.spark.SparkContext
import org.apache.spark.mllib.linalg.Vector
import org.apache.spark.util.random.PoissonSampler

object DriverOnlineLDA {

  /** One partition's (or group's) E-step sums, as `submitMiniBatch`
    * aggregates them: topic-word statistics (null in the zero value), the
    * summed Dirichlet expectations of the doc gammas when alpha is
    * optimized, and the count of non-empty docs. */
  private type Stats = (BDM[Double], Option[BDV[Double]], Long)

  /** `LDA.run(docs)` for an online `lda`, where `partitions` holds the docs'
    * vectors partition by partition in the RDD's order (doc ids are not
    * read by the online optimizer). */
  def run(sc: SparkContext, lda: LDA, partitions: Array[Array[Vector]]): LocalLDAModel = {
    val opt = lda.getOptimizer match {
      case o: OnlineLDAOptimizer => o
      case o => throw new IllegalArgumentException(s"not an online optimizer: $o")
    }
    val internals = new Internals(opt)
    // next() samples with replacement, as every optimizer ml.LDA builds
    // does; the Bernoulli sampler of the other setting is not replayed
    require(internals.sampleWithReplacement, "the online optimizer samples without replacement")
    // initialize reads only the doc count and the first doc's size (its
    // `first()` throws on an empty corpus, as on the RDD path); it warns
    // that this stand-in input is not persisted, and nothing reads it again
    val docCount = partitions.map(_.length.toLong).sum
    val head = partitions.iterator.flatten.take(1).toArray
    opt.initialize(sc.parallelize(0L until docCount, 1).map(id => (id, head(0))), lda)

    val iterationTimes = Array.ofDim[Double](lda.getMaxIterations)
    for (iter <- iterationTimes.indices) {
      val start = System.nanoTime()
      next(opt, internals, partitions)
      iterationTimes(iter) = (System.nanoTime() - start) / 1e9
    }
    opt.getLDAModel(iterationTimes).asInstanceOf[LocalLDAModel]
  }

  /** `OnlineLDAOptimizer.next()`: `docs.sample(withReplacement, fraction,
    * nextLong)`, then nothing if the sample is empty, else
    * `submitMiniBatch`. */
  private def next(opt: OnlineLDAOptimizer, internals: Internals,
                   partitions: Array[Array[Vector]]): Unit = {
    val rng = internals.randomGenerator
    // RDD.sample's PartitionwiseSampledRDD: one seed per parent partition,
    // in order
    val partitionSeeds = new java.util.Random(rng.nextLong())
    val fraction = opt.getMiniBatchFraction
    val batch = partitions.map { docs =>
      val sampler = new PoissonSampler[Vector](fraction)
      sampler.setSeed(partitionSeeds.nextLong())
      sampler.sample(docs.iterator).toArray
    }
    if (batch.forall(_.isEmpty)) return

    internals.iteration = internals.iteration + 1
    val k = internals.k
    val vocabSize = internals.vocabSize
    val expElogbeta = exp(LDAUtils.dirichletExpectation(opt.getLambda)).t
    val alpha = opt.getAlpha.asBreeze
    val gammaShape = internals.gammaShape
    val optimizeDocConcentration = opt.getOptimizeDocConcentration
    val seed = rng.nextLong()
    val zero = () => (null: BDM[Double],
      if (optimizeDocConcentration) Some(BDV.zeros[Double](k)) else None, 0L)

    def partitionStats(index: Int): Stats = {
      val stat = BDM.zeros[Double](k, vocabSize)
      val logphatPart = zero()._2
      var nonEmptyDocCount = 0L
      batch(index).iterator.filter(_.numNonzeros > 0).foreach { termCounts =>
        nonEmptyDocCount += 1
        val (gammad, sstats, ids) = OnlineLDAOptimizer.variationalTopicInference(
          termCounts, expElogbeta, alpha, gammaShape, k, seed + index)
        stat(::, ids) := stat(::, ids) + sstats
        logphatPart.foreach(_ += LDAUtils.dirichletExpectation(gammad))
      }
      (stat, logphatPart, nonEmptyDocCount)
    }

    // treeAggregate(depth = 2, finalAggregateOnExecutor = true) over the
    // partitions: partition i folds into group i % groups in index order,
    // then the groups fold in index order. A partition with no sampled doc
    // adds only zeros to these non-negative sums, so it is skipped. Both
    // folds are lazy: at most three k × vocab sums are live at once (the
    // running total, the group's and the partition's).
    val n = batch.length
    val scale = math.max(math.ceil(math.pow(n, 1.0 / 2)).toInt, 2)
    val groups = if (n > scale + math.ceil(n.toDouble / scale)) n / scale else n
    val (statsSum, logphat, nonEmptyDocsN) = (0 until groups).iterator.map { g =>
      (g until n by groups).iterator.filter(batch(_).nonEmpty).map(partitionStats)
        .foldLeft(zero())(elementWiseSum)
    }.foldLeft(zero())(elementWiseSum)
    if (nonEmptyDocsN == 0) return

    val batchResult = statsSum *:* expElogbeta.t
    val batchSize = (fraction * internals.corpusSize).ceil.toInt
    internals.updateLambda(batchResult, batchSize)
    logphat.foreach(_ /= nonEmptyDocsN.toDouble)
    logphat.foreach(internals.updateAlpha(_, nonEmptyDocsN.toDouble))
  }

  /** `submitMiniBatch`'s combine function. */
  private def elementWiseSum(u: Stats, v: Stats): Stats = {
    val vec = if (u._1 == null) v._1 else if (v._1 == null) u._1 else { u._1 += v._1; u._1 }
    u._2.foreach(_ += v._2.get)
    (vec, u._2, u._3 + v._3)
  }

  /** The optimizer's private state and updates, through the accessors
    * scalac generates for its private vars and methods. */
  private final class Internals(opt: OnlineLDAOptimizer) {
    private def method(name: String, types: Class[_]*) = {
      val m = classOf[OnlineLDAOptimizer].getDeclaredMethod(name, types: _*)
      m.setAccessible(true)
      m
    }
    private def get[T](name: String): T = method(name).invoke(opt).asInstanceOf[T]

    def randomGenerator: java.util.Random = get("randomGenerator")
    def sampleWithReplacement: Boolean = get("sampleWithReplacement")
    def k: Int = get("k")
    def vocabSize: Int = get("vocabSize")
    def corpusSize: Long = get("corpusSize")
    def gammaShape: Double = get("gammaShape")
    def iteration: Int = get("iteration")
    def iteration_=(i: Int): Unit =
      method("iteration_$eq", classOf[Int]).invoke(opt, Int.box(i))
    def updateLambda(stat: BDM[Double], batchSize: Int): Unit =
      method("updateLambda", classOf[BDM[_]], classOf[Int]).invoke(opt, stat, Int.box(batchSize))
    def updateAlpha(logphat: BDV[Double], nonEmptyDocsN: Double): Unit =
      method("updateAlpha", classOf[BDV[_]], classOf[Double])
        .invoke(opt, logphat, Double.box(nonEmptyDocsN))
  }
}
