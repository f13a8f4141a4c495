package graft.pipelines

import graft.functions.{Binning, Domains, Entropy, TimeFunctions}
import graft.ml.TopicModel
import graft.operators.{Corpus, Quantiles, Scoring}
import graft.sources.Feedback
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Proxy suspicious-connects pipeline.
  *
  * Reference dataflow: proxy/ProxySuspiciousConnectsModel.scala +
  * ProxyWordCreation.scala. Word = topDomain_timeBin_method_
  * uriEntropyBin_topLevelContentType_agentCountBin_respCodeFirstChar;
  * document = client IP. The reference collects user-agent counts to a
  * driver Map and looks them up in a UDF
  * (ProxySuspiciousConnectsModel.scala:45-48, ProxyWordCreation.scala:48);
  * here agent counts stay distributed as a broadcast-joined aggregate.
  */
object ProxyPipeline {

  final case class Cuts(time: Array[Double], entropy: Array[Double], agent: Array[Double])

  /** The popularity list is carried as a DISTRIBUTED (domain) frame (see
    * [[DnsPipeline.Model]] — same rationale: no driver funnel at any list
    * size). */
  final case class Model(cuts: Cuts, popular: DataFrame,
                         topics: TopicModel.Model, topicCount: Int)

  /** Persist a trained model (train-once-score-later; [[ModelStore]]). */
  def save(model: Model, path: String): Unit =
    ModelStore.save(path, model.topics, model.topicCount, Seq(
      "time_cuts" -> model.cuts.time, "entropy_cuts" -> model.cuts.entropy,
      "agent_cuts" -> model.cuts.agent), Some(model.popular))

  def load(spark: SparkSession, path: String): Model = {
    val m = ModelStore.load(spark, path, withPopular = true)
    Model(Cuts(m.cuts("time_cuts"), m.cuts("entropy_cuts"), m.cuts("agent_cuts")),
      m.popular.get, m.topics, m.topicCount)
  }

  def validRows(proxy: DataFrame): DataFrame =
    proxy.where(col("p_date").isNotNull && col("p_time").isNotNull &&
      col("clientip").isNotNull)

  /** Adds seconds-of-day, URI entropy, and the per-agent event count.
    * The agent-frequency side is bounded by DISTINCT USER-AGENT STRINGS,
    * which is unbounded in real proxy logs (version churn puts tens of
    * millions of distincts in 100 TB), so the broadcast hint is
    * SIZE-GATED on the Catalyst estimate ([[Scoring.sizeGatedBroadcast]])
    * exactly like the doc-mix side of scoring — small inputs broadcast,
    * big inputs shuffle (or AQE-broadcast from the runtime size). */
  def withFeatures(proxy: DataFrame): DataFrame = {
    val agentCounts = proxy.groupBy(col("useragent"))
      .agg(count(lit(1)).as("agent_count"))
    proxy
      .withColumn("time_of_day", TimeFunctions.seconds_of_day(col("p_time")))
      .withColumn("uri_entropy", Entropy.string_entropy(col("fulluri")))
      .join(Scoring.sizeGatedBroadcast(agentCounts), Seq("useragent"), "left")
  }

  /** All three cut-sets in ONE scan+shuffle (reference:
    * ProxySuspiciousConnectsModel.scala:106-118 ran one pass each). */
  def computeCuts(withFeats: DataFrame): Cuts = {
    val cuts = Quantiles.computeCutSets(withFeats, Seq(
      Quantiles.CutSpec("time", col("time_of_day"), Quantiles.Deciles),
      Quantiles.CutSpec("entropy", col("uri_entropy"), Quantiles.Quintiles),
      Quantiles.CutSpec("agent", col("agent_count"), Quantiles.Quintiles)))
    Cuts(time = cuts("time"), entropy = cuts("entropy"), agent = cuts("agent"))
  }

  /** 7-component word (reference: ProxyWordCreation.scala:30-51); the
    * top-domain class of the host's domain comes from a broadcast join
    * against `popular` ([[Domains.withTopDomainClass]]). */
  def featurizeWithLookup(withFeats: DataFrame, cuts: Cuts, popular: DataFrame): DataFrame =
    Domains.withTopDomainClass(
        withFeats.withColumn("__dom", Domains.extract_domain(col("host"))),
        col("__dom"), popular)
      .drop("__dom")
      .withColumn("word", concat_ws("_",
        col("top_domain"),
        Binning.binCol(col("time_of_day"), cuts.time.toSeq),
        col("reqmethod"),
        Binning.binCol(col("uri_entropy"), cuts.entropy.toSeq),
        split(col("resconttype"), "/").getItem(0),
        Binning.binCol(col("agent_count").cast("double"), cuts.agent.toSeq),
        substring(col("respcode"), 1, 1)))

  /** Train, optionally folding in analyst feedback (proxy columns + a
    * `weight` column from [[graft.sources.Feedback]]): weights multiply
    * corpus counts instead of physically duplicating rows
    * (reference: ProxyFeedback.scala:53-68 flatMap ×N). `popular` is the
    * distributed popularity list ([[DnsPipeline.popularFrame]] for a
    * literal one). */
  def train(proxy: DataFrame, popular: DataFrame,
            topicCount: Int = 20, seed: Long = 42L, maxIter: Int = 20,
            feedback: Option[DataFrame] = None): Model = {
    val feats0 = withFeatures(Feedback.weighted(proxy, feedback, validRows))
    val cuts = computeCuts(feats0)
    val feats = featurizeWithLookup(feats0, cuts, popular)
    val wc = Corpus.wordCounts(feats, col("clientip"), col("word"), col("__w"))
    Model(cuts, popular, TopicModel.train(wc, topicCount, seed = seed,
      maxIter = maxIter), topicCount)
  }

  /** The words a model scores: [[featurizeWithLookup]] of the valid rows
    * under the model's cuts and popularity list. */
  private def features(proxy: DataFrame, model: Model): DataFrame =
    featurizeWithLookup(withFeatures(validRows(proxy)), model.cuts, model.popular)

  def score(proxy: DataFrame, model: Model): DataFrame =
    Scoring.score(features(proxy, model), col("clientip"), col("word"), model.topics)

  /** The corpus a model scores, the one its training-quality tripwire
    * measures ([[TopicModel.assertQuality]]). */
  def scoringCorpus(proxy: DataFrame, model: Model): DataFrame =
    Corpus.wordCounts(features(proxy, model), col("clientip"), col("word"))

  /** Reference-shaped results (ProxySuspiciousConnectsAnalysis.scala:45-52):
    * the ORIGINAL input columns + word + score, ascending, top-K;
    * `tiebreak` columns order equal scores. */
  def results(proxy: DataFrame, model: Model,
              threshold: Double, topK: Int,
              tiebreak: Seq[Column] = Nil): DataFrame =
    Scoring.suspicious(score(proxy, model), threshold, topK, tiebreak)
      .select(proxy.columns.map(col) :+ col("word") :+ col("score"): _*)

  /** Pinned training-quality band ([[TopicModel.assertQuality]] ratio
    * bound): seeded healthy ratio measured 0.8470 on the sf0.01 gate
    * corpus; the band sits at the midpoint to uniform, so a model that
    * loses half the learned structure — including a 0.95×-uniform
    * "mild regression" the old ≤-uniform bound accepted — flips the
    * gate err non-null. */
  val PerplexityBand: Double = 0.92
}
