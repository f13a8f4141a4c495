package graft.pipelines

import graft.ml.TopicModel
import graft.operators.{Corpus, Quantiles, Scoring}
import graft.sources.Feedback
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.{Column, DataFrame, SparkSession}

/** The suspicious-connects dataflow the pipelines share (the reference's
  * pipelines "share one pattern": SuspiciousConnects.scala:45-50): valid
  * rows → prepare → quantile cuts → words → per-(doc, word) counts → LDA →
  * P(word | doc) → threshold → ascending top-k.
  *
  * A pipeline is a declaration: an object that defines the members under
  * "declaration". The composition below it — train, score, scoringCorpus,
  * ranked, results, save, load — is written once, here. The cuts computed
  * at train time are carried in the model and reused at score time (the
  * reference re-derives them from the scored data, FlowPostLDA.scala:30-64,
  * which drifts).
  */
abstract class SuspiciousConnects {

  type Model = SuspiciousConnects.Model
  type Cuts = SuspiciousConnects.Cuts

  // ---- declaration --------------------------------------------------------

  /** The `--analysis` name. */
  val name: String

  /** The input rows the pipeline trains on and scores. */
  def validRows(input: DataFrame): DataFrame

  /** The derived columns the cuts and the words read (none by default). */
  def prepare(rows: DataFrame): DataFrame = rows

  /** The quantile cut-sets, all computed in one scan + shuffle. */
  def cutSpecs: Seq[Quantiles.CutSpec]

  /** Adds the word column(s) of `prepared` rows under `cuts`. `popular` is
    * the popularity list the top-domain class reads; a pipeline that takes
    * none is handed an empty one. */
  def featurizeWithLookup(prepared: DataFrame, cuts: Cuts, popular: DataFrame): DataFrame

  /** The (doc, word) views of a row. A single one is scored as `score`;
    * with two (flow), each is scored into its own column and `score` is
    * their least. */
  def perspectives: Seq[SuspiciousConnects.Perspective]

  /** The columns of a written result row, given the input's. */
  def resultColumns(input: DataFrame): Seq[String]

  /** Columns that always order equal scores (none by default). */
  def tiebreakBy: Seq[Column] = Nil

  /** [[TopicModel.assertQuality]] bound on the trained perplexity over the
    * uniform baseline. */
  val PerplexityBand: Double

  /** The feedback TSV schema: the columns the words read + `sev`. Only a
    * pipeline with one is a CLI analysis. */
  def feedbackSchema: Option[StructType] = None

  /** Whether the model stores its popularity list (DNS, proxy). */
  def takesPopular: Boolean = false

  /** LDA iterations when the caller names none. */
  def trainIterations: Int = 20

  // ---- composition --------------------------------------------------------

  final def computeCuts(prepared: DataFrame): Cuts = Quantiles.computeCutSets(prepared, cutSpecs)

  /** Per-(doc, word) counts over every perspective; each row counts
    * `weight` times. */
  final def corpus(worded: DataFrame, weight: Column = lit(1L)): DataFrame = perspectives match {
    case Seq(p) => Corpus.wordCounts(worded, col(p.doc), col(p.word), weight)
    case Seq(a, b) => Corpus.dualPerspective(worded,
      col(a.doc), col(a.word), col(b.doc), col(b.word), weight)
  }

  /** Train, optionally folding in analyst feedback (the input's columns
    * plus a `weight` column, from [[graft.sources.Feedback.load]]):
    * feedback rows enter the corpus with their ×N weight instead of being
    * physically duplicated (reference: FlowPreLDA.scala:83-98,
    * DNSPreLDA.scala:70-86, ProxyFeedback.scala:53-68 flatMap ×N — same
    * corpus counts, none of the shuffle volume), and count once in the
    * cuts. `popular` is the distributed popularity list. */
  final def train(input: DataFrame,
            popular: DataFrame = SuspiciousConnects.popularFrame(SparkSession.active, Set.empty),
            topicCount: Int, seed: Long = 42L, maxIter: Int = trainIterations,
            feedback: Option[DataFrame] = None): Model = {
    val rows = prepare(Feedback.weighted(input, feedback, validRows))
    val cuts = computeCuts(rows)
    val topics = TopicModel.train(corpus(featurizeWithLookup(rows, cuts, popular), col("__w")),
      topicCount, seed = seed, maxIter = maxIter)
    SuspiciousConnects.Model(cuts, popular, topics)
  }

  /** The worded rows a model scores. */
  private def features(input: DataFrame, model: Model): DataFrame =
    featurizeWithLookup(prepare(validRows(input)), model.cuts, model.popular)

  /** The worded rows plus `score` = P(word | doc) under the model (with
    * two perspectives, each one's score too: reference
    * FlowPostLDA.scala:74-80,115-126). */
  final def score(input: DataFrame, model: Model): DataFrame = {
    val worded = features(input, model)
    perspectives match {
      case Seq(p) => Scoring.score(worded, col(p.doc), col(p.word), model.topics)
      case ps =>
        ps.foldLeft(worded) { (df, p) =>
          Scoring.score(df, col(p.doc), col(p.word), model.topics)
            .withColumnRenamed("score", p.score)
        }.withColumn("score", least(ps.map(p => col(p.score)): _*))
    }
  }

  /** The corpus a model scores, the one its training-quality tripwire
    * measures ([[TopicModel.assertQuality]]). */
  final def scoringCorpus(input: DataFrame, model: Model): DataFrame = corpus(features(input, model))

  /** The scored rows at or under `threshold`, ascending, top-K, with
    * [[tiebreakBy]] and then `tiebreak` ordering equal scores (the
    * reference's takeOrdered left ties arbitrary; a deterministic gate
    * needs a total order). */
  final def ranked(input: DataFrame, model: Model, threshold: Double, topK: Int,
             tiebreak: Seq[Column] = Nil): DataFrame =
    Scoring.suspicious(score(input, model), threshold, topK, tiebreakBy ++ tiebreak)

  /** Reference-shaped results: [[ranked]] with [[resultColumns]]. */
  final def results(input: DataFrame, model: Model, threshold: Double, topK: Int,
              tiebreak: Seq[Column] = Nil): DataFrame =
    ranked(input, model, threshold, topK, tiebreak).select(resultColumns(input).map(col): _*)

  /** Persist a trained model (train-once-score-later; [[ModelStore]]). */
  final def save(model: Model, path: String): Unit = ModelStore.save(this, model, path)

  final def load(spark: SparkSession, path: String): Model = ModelStore.load(this, spark, path)
}

object SuspiciousConnects {

  /** Cut-set name ([[Quantiles.CutSpec.name]]) → cutoffs. */
  type Cuts = Map[String, Array[Double]]

  /** The popularity list is carried as a DISTRIBUTED (domain) frame — a
    * top-1m list never funnels through the driver (train, score and
    * persistence all stay distributed; classing is a broadcast join). */
  final case class Model(cuts: Cuts, popular: DataFrame, topics: TopicModel.Model)

  /** One (doc, word) view of a row, scored into the `score` column. */
  final case class Perspective(doc: String, word: String, score: String)

  /** A literal list as a popularity frame. */
  def popularFrame(spark: SparkSession, domains: Set[String]): DataFrame = {
    import spark.implicits._
    domains.toSeq.sorted.toDF("domain")
  }

  /** Every pipeline; the CLI's are those with a feedback schema. */
  lazy val all: Seq[SuspiciousConnects] =
    Seq(FlowPipeline, DnsPipeline, ProxyPipeline, EventsPipeline)

  def apply(name: String): SuspiciousConnects = all.find(_.name == name)
    .getOrElse(throw new IllegalArgumentException(s"no pipeline named $name"))
}
