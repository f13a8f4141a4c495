package graft

import graft.pipelines.EventsPipeline
import org.apache.spark.sql.functions._

/** The quality tripwire for the driver's rows-only LDA gates
  * (`pipe_events_suspicious` and the `pipe_*_golden` runs call
  * [[graft.ml.TopicModel.assertQuality]] on the pipeline's scoring corpus
  * under its band): LDA has no SQL twin, so without this the gate passes
  * on row count alone. */
class EventsQualitySpec extends SparkSpec {

  import spark.implicits._

  private lazy val events =
    Tables.load(spark, "/root/testdata/sf0.001", "events")

  /** The events gates' tripwire: the model on its own scoring corpus,
    * under the events band. */
  private def assertEventsQuality(model: EventsPipeline.Model): Double =
    graft.ml.TopicModel.assertQuality(model.topics,
      EventsPipeline.scoringCorpus(events, model), EventsPipeline.PerplexityBand,
      "events LDA")

  "EventsPipeline.assertQuality" should
    "accept the genuinely trained model (perplexity <= uniform baseline)" in {
    val model = EventsPipeline.train(events, topicCount = 10)
    val wc = EventsPipeline.scoringCorpus(events, model)
    val vocab = wc.select("word").distinct().count().toDouble
    val pp = graft.ml.TopicModel.perplexity(model.topics, wc)
    info(f"trained perplexity = $pp%.4f, uniform baseline = $vocab%.0f, " +
      f"ratio = ${pp / vocab}%.4f")
    noException should be thrownBy assertEventsQuality(model)
  }

  it should "throw on an injected quality regression (the driver gate's err path)" in {
    val model = EventsPipeline.train(events, topicCount = 10)
    // the injected regression: topic_prob mass concentrated on ONE word —
    // every other word's P(word|doc) collapses toward the 1e-300 floor and
    // perplexity explodes past the uniform baseline
    val badProbs = model.topics.wordTopicProb
      .withColumn("topic_prob",
        transform(col("topic_prob"), _ =>
          when(col("word") === "purchase_0_0", lit(1.0)).otherwise(lit(1e-12))))
    val bad = model.copy(topics = model.topics.copy(wordTopicProb = badProbs))
    val e = the[IllegalStateException] thrownBy assertEventsQuality(bad)
    e.getMessage should include("LDA training-quality regression")
  }

  it should "reject a mild regression the old <=uniform bound accepted" in {
    // blend the healthy model's word probabilities 95% toward uniform:
    // perplexity lands strictly BETWEEN healthy and uniform (concavity:
    // pp_blend <= pp_model^a * V^(1-a) < V), i.e. a model that has lost
    // most — not all — of its learned structure. The r6 bound (ratio <=
    // 1.0) accepts it; the pinned band must not.
    val model = EventsPipeline.train(events, topicCount = 10)
    val wc = EventsPipeline.scoringCorpus(events, model)
    val vocab = wc.select("word").distinct().count().toDouble
    val blended = model.topics.wordTopicProb.withColumn("topic_prob",
      transform(col("topic_prob"), p => p * 0.05 + lit(0.95 / vocab)))
    val mild = model.copy(topics = model.topics.copy(wordTopicProb = blended))
    val pp = graft.ml.TopicModel.perplexity(mild.topics, wc)
    info(f"blended ratio = ${pp / vocab}%.4f " +
      f"(band = ${EventsPipeline.PerplexityBand})")
    (pp / vocab) should be < 1.0 // the old bound would have passed it
    (pp / vocab) should be > EventsPipeline.PerplexityBand
    the[IllegalStateException] thrownBy assertEventsQuality(mild)
  }

  "the pinned per-pipeline bands" should
      "flip on a 0.95x-uniform mild regression (flow/proxy) and a " +
      "learned-nothing model (dns)" in {
    import graft.ml.TopicModel
    // exact-ratio construction: every word's blended probability is
    // 1/(r·V), so P(word|doc) = 1/(r·V) everywhere and perplexity is
    // EXACTLY r·V — the ratio is r by construction, no training noise
    val V = 20
    val wc = (0 until V).map(w => ("d1", s"w$w", 1L)).toDF("doc", "word", "count")
    val mixes = Seq(("d1", Seq(0.5, 0.5))).toDF("doc", "topic_mix")
    def modelAt(r: Double) = TopicModel.Model(mixes,
      (0 until V).map(w => (s"w$w", Seq(1.0 / (r * V), 1.0 / (r * V))))
        .toDF("word", "topic_prob"), 2)
    val mild = modelAt(0.95)
    // ratio 0.95 sails through the r6 bound...
    noException should be thrownBy
      TopicModel.assertQuality(mild, wc, maxRatio = 1.0)
    // ...and errs under the pinned flow/proxy bands
    the[IllegalStateException] thrownBy TopicModel.assertQuality(
      mild, wc, graft.pipelines.FlowPipeline.PerplexityBand, "flow LDA")
    the[IllegalStateException] thrownBy TopicModel.assertQuality(
      mild, wc, graft.pipelines.ProxyPipeline.PerplexityBand, "proxy LDA")
    // dns's nearly-flat corpus only supports a thin band (0.999): a model
    // that learned NOTHING (ratio 0.9995) errs where 1.0 accepted it
    val nothing = modelAt(0.9995)
    noException should be thrownBy
      TopicModel.assertQuality(nothing, wc, maxRatio = 1.0)
    the[IllegalStateException] thrownBy TopicModel.assertQuality(
      nothing, wc, graft.pipelines.DnsPipeline.PerplexityBand, "dns LDA")
  }

  "SparkEntry.entry" should "produce rows (the driver's smoke check)" in {
    SparkEntry.entry(spark).count() should be > 0L
  }

  // The SHARED tripwire every LDA gate calls (each golden run and
  // pipe_events_suspicious): hand-built models make the bound's two sides exact —
  // uniform perplexity == |vocab| (allowed at maxRatio 1.0), degenerate
  // mass > |vocab| (throws → the driver gate's err goes non-null).
  "TopicModel.assertQuality" should
    "accept a uniform model and reject a degenerate one on the same corpus" in {
    val wc = Seq(("d1", "a", 3L), ("d1", "b", 1L), ("d2", "b", 2L))
      .toDF("doc", "word", "count")
    val mixes = Seq(("d1", Seq(0.5, 0.5)), ("d2", Seq(0.5, 0.5)))
      .toDF("doc", "topic_mix")
    val uniform = graft.ml.TopicModel.Model(mixes,
      Seq(("a", Seq(0.5, 0.5)), ("b", Seq(0.5, 0.5))).toDF("word", "topic_prob"), 2)
    // P(word|doc) = 0.5 everywhere = 1/|vocab| → perplexity exactly 2.0
    noException should be thrownBy
      graft.ml.TopicModel.assertQuality(uniform, wc, label = "flow LDA")
    // all probability mass on "a": docs that emit "b" collapse to ~0 and
    // perplexity blows past the uniform baseline
    val degenerate = uniform.copy(wordTopicProb =
      Seq(("a", Seq(1.0, 1.0)), ("b", Seq(1e-12, 1e-12))).toDF("word", "topic_prob"))
    val e = the[IllegalStateException] thrownBy
      graft.ml.TopicModel.assertQuality(degenerate, wc, label = "flow LDA")
    e.getMessage should include("flow LDA training-quality regression")
  }
}
