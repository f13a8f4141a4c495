package graft.ml

import graft.operators.Scoring
import org.apache.spark.ml.clustering.{DriverLDA, LDA, LDAModel}
import org.apache.spark.ml.functions.vector_to_array
import org.apache.spark.ml.linalg.Vectors
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, Row}

/** In-JVM topic model replacing the reference's external MPI LDA process
  * (reference: OniLDACWrapper.scala:25-113 — driver dictionaries, model.dat
  * file exchange, ssh/scp corpus distribution, final.beta/final.gamma text
  * parsing). Here the corpus never leaves Spark: word indexing is a join
  * against a bounded driver-built dictionary, training is MLlib's LDA, and
  * the model surfaces as two DataFrames ready for broadcast joins.
  *
  * docConcentration is 2.5 and k defaults to 20, mirroring the reference's
  * operating point (reference: ml_ops.sh:67, OniLDACWrapper.scala:83).
  */
object TopicModel {

  /** doc → topic mixture P(topic|doc); word → per-topic P(word|topic). */
  final case class Model(
      docTopicMix: DataFrame,   // (doc: string, topic_mix: array<double>)
      wordTopicProb: DataFrame, // (word: string, topic_prob: array<double>)
      topicCount: Int)

  /** Largest vocabulary the wordProb build may materialize on the driver:
    * vocabSize × k doubles (2^20 × 20 ≈ 168 MB). Discretized-feature
    * vocabularies are orders of magnitude below this; an open TEXT
    * vocabulary is not, and must fail loudly instead of OOMing the
    * driver mid-train. */
  val MaxDriverVocab: Int = 1 << 20

  /** Largest corpus, in (doc, word) pairs, that [[train]] fits on the
    * driver, set from a measurement. On 4 cores (k = 20, 20 iterations,
    * 32 pairs a doc over 6,000 words, CHANGES.md) the driver fit took
    * 0.5-0.8× the time of `ml.LDA.fit` at 0.5M and 1M pairs, about 1× at
    * 1.5M and 1.2-1.8× at 2M and 4M, where each iteration's serial
    * E-step over its 5% mini-batch outweighs the scheduler's per-task
    * overhead; at 1M pairs of 16 a doc over 30,000 words it took
    * 0.8-0.9×. The driver fit is not known to win above 2^20 pairs, and
    * more cores would move the crossover lower (not measured).
    *
    * Driver memory: the collected corpus, about 12 bytes a pair plus one
    * vector per doc, and in each E-step at most three k × vocab sums
    * beside the optimizer's lambda and expElogbeta, which `ml.LDA.fit`
    * holds on the driver as well. */
  val MaxDriverPairs: Long = 1L << 20

  /** Partition count of the corpus handed to the LDA optimizer.
    * The online optimizer's minibatch sampling (and the doc-id assignment
    * MLlib derives via zipWithIndex) depend on the RDD's partition layout,
    * so a layout inherited from the session (core count → shuffle
    * partitions) makes "same seed" reproducible only within one session
    * config. Training therefore pins its input to a CONSTANT hash layout —
    * `repartition(TrainLayoutPartitions, col("doc"))` +
    * `sortWithinPartitions("doc")` — a pure function of the data, so the
    * same corpus + seed trains the identical model under local[4],
    * local[32], or a 1000-executor cluster.
    *
    * FIXTURE CONTRACT: the committed pipeline goldens
    * (src/test/resources/golden/pipe_*) were trained at this width; any
    * other width trains a numerically different (equally valid) model.
    * The driver fit of [[train]] replays the sampling, per-partition seeds
    * and tree-aggregate order MLlib derives from this layout, so it trains
    * the same bits and the contract holds on either path.
    * 64 was also the fastest fit width measured on 32 cores
    * (BENCH_SCALING.md, r11). */
  val TrainLayoutPartitions: Int = 64

  /** LDA doc concentration, the reference's operating point. */
  private val Alpha: Double = 2.5

  /** The word dictionary, built on the driver as the reference did
    * (OniLDACWrapper.scala:40-49): the distinct non-null `word`s of
    * `words` (a string column) in String order, a word's id being its
    * index. The collect is bounded (limit(cap + 1), the Lineage.cutSmall
    * guard), so a vocabulary over `maxDriverVocab` words fails with an
    * IllegalArgumentException before it reaches the driver. */
  private[ml] def vocabulary(words: DataFrame,
                             maxDriverVocab: Int = MaxDriverVocab): Array[String] = {
    val spark = words.sparkSession
    import spark.implicits._
    val vocab = words.select("word").where(col("word").isNotNull).distinct()
      .limit(maxDriverVocab + 1).as[String].collect().sorted
    require(vocab.length <= maxDriverVocab,
      s"vocabulary has more than $maxDriverVocab distinct words, the " +
        "driver cap for a word dictionary (and the topicsMatrix training " +
        "materializes). This model is designed for DISCRETIZED feature " +
        "vocabularies (bounded by the product of bin counts); cap an open " +
        "text vocabulary first, or raise MaxDriverVocab knowingly.")
    vocab
  }

  /** Train from a (doc, word, count) corpus with MLlib's online
    * (variational minibatch) optimizer on the pinned
    * [[TrainLayoutPartitions]] layout. Rows with a null word are dropped.
    * The vocabulary must be bounded (discretized feature words): more
    * than [[MaxDriverVocab]] distinct words fails with an
    * IllegalArgumentException before any of them reach the driver.
    *
    * Where the fit runs: a corpus of at most [[MaxDriverPairs]] pairs is
    * collected once and fitted on the calling thread by
    * `org.apache.spark.ml.clustering.DriverLDA`, which drives MLlib's own
    * optimizer and reproduces `ml.LDA.fit` on the pinned layout bit for
    * bit. A mini-batch is about 5% of the docs, a few kilobytes for a
    * discretized-feature corpus, so on the scheduler each iteration is a
    * sample job plus a 64-task E-step with two shuffles: per-task
    * overhead around very little arithmetic. One Spark job collects the
    * vectors and counts their pairs as it goes; past the budget it drops
    * them, and `ml.LDA.fit` fits the corpus on the cluster.
    *
    * The optimizer's input (one sparse count vector per doc) is a
    * RELIABLE checkpoint, not a cached frame. `ml.LDA.fit` persists its
    * own deserialized `RDD[(Long, Vector)]` only when its dataset's
    * storage level is NONE; handed a cached frame it persists nothing,
    * and each of its iterations rebuilds that RDD from the SQL cache in
    * every E-step task, which also deserializes the frame's whole plan
    * (join, `collect_list` aggregate, vector map, exchange, sort) per
    * task. The checkpoint gives `fit` a one-step lineage it can persist,
    * and a checkpoint keeps partitions and row order, so the pinned
    * layout, doc ids, minibatch sampling and every model bit are those of
    * the uncut frame. It is reliable (files, recoverable), not local, and
    * taken on the calling thread before any fit job (the deadlock note in
    * [[graft.Lineage]]).
    *
    * Checkpoint-dir contract: the session's context must have one.
    * [[graft.GraftSession]] sets it for every session it builds or
    * adopts (a deployment's `spark.checkpoint.dir`, on a cluster a shared
    * FS, else a scratch dir deleted at JVM exit). The returned `docMix`
    * recomputes from the checkpoint files, so they outlive this call: the
    * context cleaner removes them once the model is gone
    * (`spark.cleaner.referenceTracking.cleanCheckpoints`). Nothing else
    * this call persists stays persisted. */
  def train(wordCounts: DataFrame, topicCount: Int = 20,
            seed: Long = 42L, maxIter: Int = 20): Model =
    trainWithin(MaxDriverPairs, wordCounts, topicCount, seed, maxIter, MaxDriverVocab)

  /** [[train]] under a driver-fit budget of `maxDriverPairs` and a
    * vocabulary cap of `maxDriverVocab`, which a spec sets low to send a
    * small corpus through `ml.LDA.fit` or past the cap. */
  private[graft] def trainWithin(maxDriverPairs: Long, wordCounts: DataFrame, topicCount: Int,
                                 seed: Long, maxIter: Int, maxDriverVocab: Int): Model = {
    val (vocab, docVectors) = corpusVectors(wordCounts, maxDriverVocab)
    val lda = estimator(topicCount, seed, maxIter)
    val ldaModel = DriverLDA.fit(lda, docVectors, maxDriverPairs).getOrElse(lda.fit(docVectors))
    modelFrames(ldaModel, docVectors, vocab)
  }

  /** The dictionary of `wordCounts` and its (doc, features) count vectors
    * on the pinned layout, checkpointed (see [[train]]). */
  private[graft] def corpusVectors(wordCounts: DataFrame,
                                   maxDriverVocab: Int = MaxDriverVocab): (Array[String], DataFrame) = {
    val spark = wordCounts.sparkSession
    import spark.implicits._

    val corpus = wordCounts.select(
      col("doc").cast("string").as("doc"),
      col("word").cast("string").as("word"),
      col("count").cast("double").as("cnt"))
      .cache()

    // the checkpoint files hold everything the fit and docMix read; a
    // vocabulary over the cap releases the cache too
    try {
      // the vocabulary × k topicsMatrix is materialized on the driver
      // anyway, so a vocabulary within that cap costs the driver less than
      // the matrix
      val vocab = vocabulary(corpus, maxDriverVocab)
      val vocabSize = vocab.length
      val dict = vocab.toSeq.zipWithIndex.toDF("word", "word_id")

      val docVectors = corpus.join(dict, "word")
        .groupBy("doc")
        .agg(collect_list(struct(col("word_id"), col("cnt"))).as("pairs"))
        .map { row =>
          val doc = row.getString(0)
          val pairs = row.getSeq[Row](1)
            .map(r => (r.getInt(0), r.getDouble(1)))
            .sortBy(_._1)
          (doc, Vectors.sparse(vocabSize, pairs.map(_._1).toArray, pairs.map(_._2).toArray))
        }.toDF("doc", "features")
        // Pin the optimizer's input to a layout that is a pure function of
        // the data (see [[TrainLayoutPartitions]]): hash-partition on doc,
        // totally ordered within each partition (docs are unique after the
        // groupBy). Explicit numPartitions also keeps AQE from re-coalescing
        // the layout at runtime.
        .repartition(TrainLayoutPartitions, col("doc"))
        .sortWithinPartitions("doc")
        .checkpoint(eager = true)
      (vocab, docVectors)
    } finally corpus.unpersist()
  }

  /** The online LDA estimator at the reference's operating point. */
  private[graft] def estimator(topicCount: Int, seed: Long, maxIter: Int): LDA =
    new LDA()
      .setK(topicCount)
      .setDocConcentration(Alpha)
      .setSeed(seed)
      .setMaxIter(maxIter)
      .setOptimizer("online")
      .setFeaturesCol("features")

  /** The model frames of a fitted `ldaModel` over [[corpusVectors]]. */
  private[graft] def modelFrames(ldaModel: LDAModel, docVectors: DataFrame,
                                 vocab: Array[String]): Model = {
    val spark = docVectors.sparkSession
    import spark.implicits._
    val topicCount = ldaModel.getK
    val vocabSize = vocab.length

    // Materialize the (bounded) model frames: scoring only ever touches
    // docMix/wordProb.
    val docMix = ldaModel.transform(docVectors)
      .select(col("doc"), vector_to_array(col("topicDistribution")).cast("array<double>").as("topic_mix"))
      .cache()
    docMix.count()

    // topicsMatrix is vocabSize x k; for the online optimizer it is the
    // unnormalized variational topic-term matrix, so normalize each topic
    // column to a proper P(word|topic) distribution. Row w belongs to
    // vocab(w).
    val tm = ldaModel.topicsMatrix
    val colSums = (0 until topicCount).map { t =>
      val s = (0 until vocabSize).map(w => tm(w, t)).sum
      if (s == 0.0) 1.0 else s
    }
    val rows = (0 until vocabSize).map { w =>
      (vocab(w), (0 until topicCount).map(t => tm(w, t) / colSums(t)).toArray)
    }
    val wordProb = rows.toDF("word", "topic_prob").cache()
    wordProb.count()
    Model(docMix, wordProb, topicCount)
  }

  /** Corpus perplexity under the model's scoring distribution
    * P(word|doc) = Σ_t P(t|doc)·P(word|t), which is
    * [[graft.operators.Scoring.score]] itself (unseen docs and words take
    * its uniform 1/k default): exp( -Σ cnt·ln P / Σ cnt ), lower is
    * better; a uniform model scores exactly the vocabulary size.
    * Probabilities are floored at 1e-300 so a zero-gamma doc (the
    * reference's empty-doc case) degrades to a huge-but-finite penalty
    * instead of -Inf. Fully relational — the scoring joins and one
    * aggregate — so it runs at corpus scale; this is the regression
    * metric TopicModelSpec pins (LDA training has no exact oracle, but
    * its QUALITY is measurable). */
  def perplexity(model: Model, wordCounts: DataFrame): Double = {
    val cnt = col("count").cast("double")
    val r = Scoring.score(wordCounts, col("doc"), col("word"), model)
      .agg(sum(cnt * log(greatest(col("score"), lit(1e-300)))).as("ll"), sum(cnt).as("n"))
      .head()
    math.exp(-r.getDouble(0) / r.getDouble(1))
  }

  /** Training-quality tripwire shared by every LDA pipeline gate: the
    * trained model's [[perplexity]] on its own corpus must not exceed
    * `maxRatio` × the uniform baseline (= vocabulary size — a uniform
    * model scores exactly |vocab|). A trained model can only be WORSE
    * than knowing nothing through a genuine defect (zeroed gammas,
    * shuffled joins, degenerate topics), so the bound catches silent
    * training regressions without pinning optimizer noise. Throws
    * IllegalStateException → a driver rows-only gate records a non-null
    * err instead of passing on row count alone. Returns the measured
    * [[qualityRatio]], so a gate can also emit it as evidence. */
  def assertQuality(model: Model, wordCounts: DataFrame,
                    maxRatio: Double = 1.0, label: String = "LDA"): Double = {
    val ratio = qualityRatio(model, wordCounts, label)
    if (ratio > maxRatio) throw new IllegalStateException(
      f"$label training-quality regression: perplexity ratio $ratio%.4f " +
        f"exceeds the $maxRatio%.3f x uniform-baseline bound")
    ratio
  }

  /** The measured quality ratio behind [[assertQuality]]: trained
    * [[perplexity]] / uniform baseline (= vocabulary size). < 1.0 means
    * the model beats knowing nothing. */
  def qualityRatio(model: Model, wordCounts: DataFrame,
                   label: String = "LDA"): Double = {
    val vocab = wordCounts.select("word").distinct().count().toDouble
    val pp = perplexity(model, wordCounts)
    System.err.println(f"[lda] $label perplexity=$pp%.4f uniform=$vocab%.0f " +
      f"ratio=${pp / vocab}%.4f")
    pp / vocab
  }
}
