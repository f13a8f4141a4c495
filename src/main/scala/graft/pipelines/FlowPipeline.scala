package graft.pipelines

import graft.functions.{Binning, FlowWords, TimeFunctions}
import graft.ml.TopicModel
import graft.operators.Quantiles
import graft.pipelines.SuspiciousConnects.{Perspective, popularFrame}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Netflow suspicious-connects pipeline.
  *
  * Reference dataflow: netflow/FlowPreLDA.scala + FlowWordCreation.scala +
  * FlowPostLDA.scala. Each flow is two documents' word: the source's
  * (sip, src_word) and the destination's (dip, dst_word); its score is the
  * least of the two.
  */
object FlowPipeline extends SuspiciousConnects {

  val name = "flow"

  /** Sanity filter: hour/minute/second in valid ranges
    * (reference: FlowPreLDA.scala:107-109). */
  def validRows(flows: DataFrame): DataFrame =
    flows.where(col("trhour").between(0, 23) &&
      col("trminute").between(0, 59) && col("trsec").between(0, 59))

  /** Three cut-sets (the reference ran a full distributed pass per
    * cut-set: FlowWordCreation.scala:26-49). */
  def cutSpecs: Seq[Quantiles.CutSpec] = Seq(
    Quantiles.CutSpec("time",
      TimeFunctions.fractional_hour(col("trhour"), col("trminute"), col("trsec")),
      Quantiles.Deciles),
    Quantiles.CutSpec("ibyt", col("ibyt"), Quantiles.Deciles),
    Quantiles.CutSpec("ipkt", col("ipkt"), Quantiles.Quintiles))

  /** Adds num_time, the three bins, and the four word columns — all
    * codegen'd column expressions (the reference rebuilds rows through an
    * RDD: FlowWordCreation.scala:64-85). Flow classes no domains. */
  def featurizeWithLookup(flows: DataFrame, cuts: Cuts, popular: DataFrame): DataFrame = {
    val withBins = flows
      .withColumn("num_time",
        TimeFunctions.fractional_hour(col("trhour"), col("trminute"), col("trsec")))
      .withColumn("ibyt_bin", Binning.binCol(col("ibyt").cast("double"), cuts("ibyt").toSeq))
      .withColumn("ipkt_bin", Binning.binCol(col("ipkt").cast("double"), cuts("ipkt").toSeq))
      .withColumn("time_bin", Binning.binCol(col("num_time"), cuts("time").toSeq))
    val (portWord, ipPair, srcWord, dstWord) = FlowWords.flowWordCols(
      col("sip"), col("dip"), col("dport"), col("sport"),
      col("ipkt_bin"), col("ibyt_bin"), col("time_bin"))
    withBins
      .withColumn("port_word", portWord)
      .withColumn("ip_pair", ipPair)
      .withColumn("src_word", srcWord)
      .withColumn("dst_word", dstWord)
  }

  /** Each flow is a (sip, src_word) and a (dip, dst_word) document entry
    * (reference: FlowPreLDA.scala:131-139). */
  val perspectives: Seq[Perspective] = Seq(
    Perspective("sip", "src_word", "src_score"),
    Perspective("dip", "dst_word", "dst_score"))

  /** The ORIGINAL input columns + src_score + dst_score; the least of the
    * two ranks the row but is not written (`dropRight(1)` in the
    * reference: FlowPostLDA.scala:79-80). */
  def resultColumns(flows: DataFrame): Seq[String] =
    flows.columns.toSeq :+ "src_score" :+ "dst_score"

  /** Pinned training-quality band: seeded healthy ratio measured 0.4158 on
    * the sf0.01 gate corpus; the band sits at the midpoint to uniform, so
    * a model that loses half the learned structure — including a
    * 0.95×-uniform "mild regression", which the old ≤-uniform bound
    * accepted — flips the gate err non-null. */
  val PerplexityBand: Double = 0.71

  /** Reference: FlowPreLDA.scala:60-98 (same fields, named instead of
    * indexed). */
  override def feedbackSchema: Option[StructType] = Some(StructType(Seq(
    StructField("trhour", IntegerType), StructField("trminute", IntegerType),
    StructField("trsec", IntegerType), StructField("sip", StringType),
    StructField("dip", StringType), StructField("sport", IntegerType),
    StructField("dport", IntegerType), StructField("ipkt", LongType),
    StructField("ibyt", LongType), StructField("sev", IntegerType))))

  // ---- aliases perfbench/scala compiles against; they go together with
  // perfbench/scala/Layered.scala, its hand-composed traced pass ----
  // `topicCount` is `topics.topicCount`; the parameter stays for perfbench
  def Model(cuts: Cuts, topics: TopicModel.Model, topicCount: Int): Model =
    SuspiciousConnects.Model(cuts, popularFrame(topics.docTopicMix.sparkSession, Set.empty), topics)
  def validTimes(flows: DataFrame): DataFrame = validRows(flows)
  def featurize(flows: DataFrame, cuts: Cuts): DataFrame =
    featurizeWithLookup(flows, cuts, popularFrame(flows.sparkSession, Set.empty))
}
