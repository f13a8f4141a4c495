package graft.ml

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** Legacy topic-model exchange formats, for cross-validating against the
  * reference engine's artifacts (reference: OniLDACWrapper.scala:121-195 —
  * `final.beta` per-topic log-prob lines, `final.gamma` per-doc
  * unnormalized weights, `model.dat` sparse corpus lines). The in-JVM
  * [[TopicModel]] replaces the file exchange; these exist for import of
  * reference-produced models and for corpus export in the same format.
  */
object ModelIO {

  /** One `final.beta` line (space-separated log P(word|topic)) →
    * exp-normalized probabilities over the vocabulary. */
  def parseBetaLine(line: String): Array[Double] = {
    val exps = line.trim.split(" ").map(v => math.exp(v.toDouble))
    val total = exps.sum
    exps.map(_ / total)
  }

  /** One `final.gamma` line (space-separated unnormalized topic weights) →
    * normalized topic mix; an all-zero-sum line yields the zero vector. */
  def parseGammaLine(line: String): Array[Double] = {
    val vals = line.trim.split(" ").map(_.toDouble)
    val total = vals.sum
    if (total == 0.0) Array.fill(vals.length)(0.0) else vals.map(_ / total)
  }

  /** Per-topic beta lines → word → per-topic probability vector
    * (normalize each topic line over words, then transpose). */
  def wordProbsFromBeta(topicLines: Array[String],
                        wordIndex: Map[String, Int]): Map[String, Array[Double]] = {
    val normalized = topicLines.map(parseBetaLine)
    wordIndex.map { case (word, idx) =>
      word -> normalized.map(topicRow => topicRow(idx))
    }
  }

  /** One `model.dat` corpus line: `<distinctWordCount> <idx>:<count> ...`. */
  def corpusLine(pairs: Seq[(Int, Long)]): String =
    s"${pairs.length} " + pairs.map { case (i, c) => s"$i:$c" }.mkString(" ")

  /** Export of a (doc, word, count) corpus to model.dat lines plus the
    * word dictionary used — the reference built both on the driver
    * (OniLDACWrapper.scala:40-68); here the dictionary is the one
    * [[TopicModel.train]] builds (bounded by [[TopicModel.MaxDriverVocab]],
    * dense ids in String order, null words dropped) and the lines one
    * distributed group-concat pass.
    * Returns (lines: (doc, line), dict: (word, word_id)). */
  def exportCorpus(wordCounts: DataFrame): (DataFrame, DataFrame) = {
    val spark = wordCounts.sparkSession
    import spark.implicits._
    val dict = TopicModel.vocabulary(
        wordCounts.select(col("word").cast("string").as("word")))
      .toSeq.zipWithIndex.toDF("word", "word_id")
    val lines = wordCounts.join(dict, "word")
      .groupBy("doc")
      .agg(sort_array(collect_list(struct(col("word_id"), col("count")))).as("pairs"))
      .select(col("doc"),
        concat_ws(" ", size(col("pairs")).cast("string"),
          concat_ws(" ", transform(col("pairs"),
            p => concat(p.getField("word_id").cast("string"), lit(":"),
              p.getField("count").cast("string"))))).as("line"))
    (lines, dict)
  }

  /** The reference's out-of-vocabulary sentinel word: its beta files carry
    * one extra trailing column mapped to this token
    * (OniLDACWrapper.scala:175-180 adds it at index vocabSize). */
  val SentinelWord = "0_0_0_0_0"

  /** log-prob rendered finitely: exp(-745) underflows to ~5e-324 ≈ 0, so a
    * zero-probability cell round-trips to 0 without emitting "-Infinity"
    * (which the reference's text parsers never produced). */
  private def logText(p: Double): String =
    if (p <= 0.0) "-745.0" else math.log(p).toString

  /** WRITE the reference's `final.beta`: one line per topic, columns =
    * log P(word|topic) in lexicographic word order, plus the trailing
    * sentinel column (near-zero probability). Returns (lines, wordIndex);
    * `importLegacyModel(_, _, lines, wordIndex)` reproduces the model —
    * the per-line exp-normalize is a fixpoint because each topic's
    * probabilities already sum to 1. Driver-side by design: the matrix is
    * k × vocabulary, bounded for discretized vocabularies, and the target
    * is a local text artifact for the reference's tooling. */
  def exportBetaLines(model: TopicModel.Model,
                      includeSentinel: Boolean = true): (Seq[String], Map[String, Int]) = {
    val rows = model.wordTopicProb.select("word", "topic_prob").collect()
      .map(r => (r.getString(0), r.getSeq[Double](1)))
      .sortBy(_._1)
    val wordIndex = rows.map(_._1).zipWithIndex.toMap
    val lines = (0 until model.topicCount).map { t =>
      val vals = rows.map { case (_, p) => logText(p(t)) }
      (if (includeSentinel) vals :+ logText(0.0) else vals).mkString(" ")
    }
    (lines.toSeq, wordIndex)
  }

  /** WRITE the reference's `final.gamma` as a distributed (doc, line)
    * frame: one line per document of space-separated topic weights
    * (OniLDACWrapper.scala:88-99 — line order defines the doc index, so
    * callers materialize with an explicit doc ordering). The mixes are
    * already normalized; `parseGammaLine`'s re-normalize is a fixpoint. */
  def exportGammaLines(model: TopicModel.Model): DataFrame =
    model.docTopicMix.select(col("doc"),
      concat_ws(" ", transform(col("topic_mix"), x => x.cast("string"))).as("line"))

  /** Import a reference-format model from parsed lines: gamma lines in
    * `docs` order, beta lines per topic. Returns a [[TopicModel.Model]]
    * backed by DataFrames, ready for [[graft.operators.Scoring]]. */
  def importLegacyModel(spark: org.apache.spark.sql.SparkSession,
                        docs: Seq[String], gammaLines: Seq[String],
                        betaLines: Seq[String],
                        wordIndex: Map[String, Int]): TopicModel.Model = {
    import spark.implicits._
    val mixes = docs.zip(gammaLines.map(parseGammaLine))
      .toDF("doc", "topic_mix")
    val probs = wordProbsFromBeta(betaLines.toArray, wordIndex).toSeq
      .toDF("word", "topic_prob")
    TopicModel.Model(mixes, probs, topicCount = betaLines.length)
  }
}
