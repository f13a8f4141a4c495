package graft.operators

import graft.functions.VectorOps
import graft.ml.TopicModel
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame}

/** Event scoring against a trained topic model:
  * score(doc, word) = Σ_t P(topic t | doc) · P(word | topic t),
  * with a uniform 1/k default when the doc or word was unseen.
  *
  * Reference: SuspiciousConnectsScoreFunction.scala:11-23 +
  * FlowPostLDA.scala:94-126. The reference does one shuffle join for the
  * doc mix and a driver-collected broadcast Map for word probs; here the
  * word side is a broadcast hash join (bounded by the discretized
  * vocabulary) and the doc side is SIZE-GATED: docs = distinct IPs can
  * reach tens of millions at scale (k=20 doubles × 10⁷ docs ≈ 1.6 GB —
  * past any sane broadcast), so the hint is applied only when Catalyst's
  * size estimate fits under a bound, else the plan is left to AQE, which
  * still picks a broadcast at runtime when the actual size allows (the
  * reference deliberately shuffle-joined this side, FlowPostLDA.scala:94).
  * The dot product is `VectorOps.dot_product`, a codegen'd native fold —
  * no UDF, no driver collect.
  */
object Scoring {

  /** Broadcast-hint bound for the doc-mix side, bytes (Catalyst estimate). */
  val DefaultMixBroadcastBytes: Long = 64L << 20

  /** Broadcast hint applied only when Catalyst's size estimate fits under
    * `maxBytes`; otherwise the frame is returned unhinted and the join
    * plans as a shuffle (AQE can still pick a broadcast at runtime from
    * the ACTUAL size). Use for join sides whose cardinality is
    * input-dependent — doc mixes (distinct IPs), user-agent counts
    * (distinct UA strings) — where an unconditional hint would force a
    * multi-GB broadcast at 100 TB. Unknown estimates default to Long.Max
    * in Catalyst, so "don't know" safely means "don't hint". */
  def sizeGatedBroadcast(df: DataFrame,
                         maxBytes: Long = DefaultMixBroadcastBytes): DataFrame = {
    val estimate = df.queryExecution.optimizedPlan.stats.sizeInBytes
    if (estimate <= BigInt(maxBytes)) broadcast(df) else df
  }

  /** Join the model and add a `score` column. [[DefaultMixBroadcastBytes]]
    * gates the doc-mix broadcast hint (see object doc); an unknown/huge
    * estimate (Catalyst defaults derived frames to Long.Max) means no hint. */
  def score(events: DataFrame, doc: Column, word: Column,
            model: TopicModel.Model): DataFrame = {
    val k = model.topicCount
    val uniform = array((0 until k).map(_ => lit(1.0 / k)): _*)
    val mixes = model.docTopicMix.withColumnRenamed("doc", "__doc")
    val probs = model.wordTopicProb.withColumnRenamed("word", "__word")
    val mixSide = sizeGatedBroadcast(mixes)
    events
      .join(mixSide, doc.cast("string") === col("__doc"), "left")
      .join(broadcast(probs), word.cast("string") === col("__word"), "left")
      .withColumn("score",
        VectorOps.dot_product(coalesce(col("topic_mix"), uniform),
                              coalesce(col("topic_prob"), uniform)))
      .drop("__doc", "__word", "topic_mix", "topic_prob")
  }

  /** Threshold + ascending top-k (most suspicious first). A bounded k
    * plans orderBy+limit as TakeOrderedAndProject — no driver
    * materialization, no global sort (reference collected top-k via
    * RDD.takeOrdered: DNSPostLDA.scala:51-69, DataFrameUtils.scala:21-38).
    *
    * An unbounded k (`topK < 0`) is a global sort, whose range exchange
    * samples its input in a job of its own before the sort runs. Sampling
    * straight off the filter would evaluate the whole upstream (scan,
    * featurize, model joins, score) twice. The hash exchange on `score`
    * in front of it makes the rows that pass the threshold a shuffle stage
    * that AQE materializes once; the sample job and the sort both read
    * that stage's output instead of re-running the upstream. The trade
    * (one more shuffle of the passing rows for one less upstream run)
    * also wins when every row passes (threshold 1.0, the CLI default). */
  def suspicious(scored: DataFrame, threshold: Double, topK: Int,
                 tiebreak: Seq[Column] = Nil): DataFrame = {
    val filtered = scored.where(col("score") <= threshold)
    val order = asc("score") +: tiebreak
    if (topK >= 0) filtered.orderBy(order: _*).limit(topK)
    else filtered.repartition(col("score")).orderBy(order: _*)
  }
}
