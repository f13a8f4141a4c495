package graft.pipelines

import graft.functions.{Binning, Domains, Entropy, TimeFunctions}
import graft.operators.{Quantiles, Scoring}
import graft.pipelines.SuspiciousConnects.Perspective
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

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
object ProxyPipeline extends SuspiciousConnects {

  val name = "proxy"

  def validRows(proxy: DataFrame): DataFrame =
    proxy.where(col("p_date").isNotNull && col("p_time").isNotNull &&
      col("clientip").isNotNull)

  override def prepare(proxy: DataFrame): DataFrame = withFeatures(proxy)

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

  /** Three cut-sets (reference: ProxySuspiciousConnectsModel.scala:106-118
    * ran one pass each). */
  def cutSpecs: Seq[Quantiles.CutSpec] = Seq(
    Quantiles.CutSpec("time", col("time_of_day"), Quantiles.Deciles),
    Quantiles.CutSpec("entropy", col("uri_entropy"), Quantiles.Quintiles),
    Quantiles.CutSpec("agent", col("agent_count"), Quantiles.Quintiles))

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
        Binning.binCol(col("time_of_day"), cuts("time").toSeq),
        col("reqmethod"),
        Binning.binCol(col("uri_entropy"), cuts("entropy").toSeq),
        split(col("resconttype"), "/").getItem(0),
        Binning.binCol(col("agent_count").cast("double"), cuts("agent").toSeq),
        substring(col("respcode"), 1, 1)))

  val perspectives: Seq[Perspective] = Seq(Perspective("clientip", "word", "score"))

  /** The ORIGINAL input columns + word + score
    * (reference: ProxySuspiciousConnectsAnalysis.scala:45-52). */
  def resultColumns(proxy: DataFrame): Seq[String] = proxy.columns.toSeq :+ "word" :+ "score"

  /** Pinned training-quality band: seeded healthy ratio measured 0.8470 on
    * the sf0.01 gate corpus; the band sits at the midpoint to uniform, so
    * a model that loses half the learned structure — including a
    * 0.95×-uniform "mild regression" the old ≤-uniform bound accepted —
    * flips the gate err non-null. */
  val PerplexityBand: Double = 0.92

  /** Reference: ProxyFeedback.scala:28-38. */
  override def feedbackSchema: Option[StructType] = Some(StructType(Seq(
    StructField("p_date", StringType), StructField("p_time", StringType),
    StructField("clientip", StringType), StructField("host", StringType),
    StructField("reqmethod", StringType), StructField("useragent", StringType),
    StructField("resconttype", StringType), StructField("respcode", StringType),
    StructField("fulluri", StringType), StructField("sev", IntegerType))))

  override def takesPopular: Boolean = true
}
