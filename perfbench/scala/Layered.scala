package perfbench

import graft.{Main, Tables}
import graft.ml.TopicModel
import graft.operators.{Corpus, Scoring}
import graft.pipelines.{DnsPipeline, FlowPipeline}
import graft.sources.{Feedback, Lookups, Sinks}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{AnalysisException, DataFrame, SparkSession}
import org.apache.spark.storage.StorageLevel

/** The traced decomposition of one analyst run: `Main.runAnalysis` +
  * `Sinks.writeTsv` re-composed from each module's public functions, one
  * span per call, in the order `runAnalysis` composes them.
  *
  * Spark evaluates lazily, so a layer that only builds a plan (the input
  * scans, featurize, corpus, score) would have its work run inside
  * whichever later layer triggers it. Such a layer's frame is therefore
  * persisted and counted in its own span, and the next layer reads the
  * cached rows. The output must hash the same as the untraced run's (the
  * harness checks it); the cost of the extra materialization shows as
  * `trace_overhead_s`. */
object Layered {

  private def materialize(df: DataFrame): DataFrame = {
    val m = df.persist(StorageLevel.MEMORY_AND_DISK)
    m.count()
    m
  }

  /** `Main.runAnalysis`'s stored-model rule: load when present, else None. */
  private def tryLoad[M](load: => M): Option[M] =
    try Some(load) catch { case _: AnalysisException => None }

  /** Runs the analysis layer by layer; returns the result's columns. */
  def run(spark: SparkSession, c: Main.Config, rec: Trace.Recorder): Seq[String] = {
    val input = rec.span("sources") { materialize(Tables.loadPaths(spark, c.input)) }
    val fb = rec.span("sources") {
      c.feedback.map(p => materialize(Feedback.load(spark, p, Main.feedbackSchema(c.analysis),
        sevCol = "sev", sev = 3, duplicationFactor = c.dupFactor)))
    }
    val result = c.analysis match {
      case "flow" => flow(spark, c, input, fb, rec)
      case "dns" => dns(spark, c, input, fb, rec)
      case other => sys.error(s"no traced decomposition for $other")
    }
    rec.span("sinks") {
      Sinks.writeTsv(result, c.scored, singleFile = c.maxResults >= 0, sep = c.delimiter)
    }
    result.columns.toSeq
  }

  /** `FlowPipeline.train` + `FlowPipeline.results`. */
  private def flow(spark: SparkSession, c: Main.Config, input: DataFrame,
                   fb: Option[DataFrame], rec: Trace.Recorder): DataFrame = {
    val stored = c.model.flatMap(p => rec.span("modelio") { tryLoad(FlowPipeline.load(spark, p)) })
    val model = stored.getOrElse {
      val (combined, cuts) = rec.span("quantiles") {
        val base = FlowPipeline.validTimes(input).withColumn("__w", lit(1L))
        val combined = fb match {
          case Some(f) => base.unionByName(
            FlowPipeline.validTimes(f).withColumn("__w", col("weight")).drop("weight"),
            allowMissingColumns = true)
          case None => base
        }
        (combined, FlowPipeline.computeCuts(combined))
      }
      val wc = rec.span("corpus") {
        materialize(FlowPipeline.corpus(FlowPipeline.featurize(combined, cuts), col("__w")))
      }
      val topics = rec.span("topicmodel") { TopicModel.train(wc, c.topicCount, seed = c.seed) }
      wc.unpersist()
      val m = FlowPipeline.Model(cuts, topics, c.topicCount)
      c.model.foreach(p => rec.span("modelio") { FlowPipeline.save(m, p) })
      m
    }
    val feats = rec.span("corpus") {
      materialize(FlowPipeline.featurize(FlowPipeline.validTimes(input), model.cuts))
    }
    rec.span("scoring") {
      val src = Scoring.score(feats, col("sip"), col("src_word"), model.topics)
        .withColumnRenamed("score", "src_score")
      val both = Scoring.score(src, col("dip"), col("dst_word"), model.topics)
        .withColumnRenamed("score", "dst_score")
      val scored = both.withColumn("score", least(col("src_score"), col("dst_score")))
      materialize(Scoring.suspicious(scored, c.threshold, c.maxResults)
        .select(input.columns.map(col) :+ col("src_score") :+ col("dst_score"): _*))
    }
  }

  /** `DnsPipeline.trainWithLookup` + `DnsPipeline.results`. */
  private def dns(spark: SparkSession, c: Main.Config, input: DataFrame,
                  fb: Option[DataFrame], rec: Trace.Recorder): DataFrame = {
    lazy val popular = rec.span("sources") {
      c.topDomains
        .orElse(Some("top-1m.csv").filter(p => new java.io.File(p).exists))
        .map(p => materialize(Lookups.topDomainsDF(spark, p)))
        .getOrElse(DnsPipeline.popularFrame(spark, Set.empty))
    }
    val stored = c.model.flatMap(p => rec.span("modelio") { tryLoad(DnsPipeline.load(spark, p)) })
    val model = stored.getOrElse {
      val pop = popular
      val withSub = rec.span("corpus") {
        val base = DnsPipeline.validRows(input).withColumn("__w", lit(1L))
        val combined = fb match {
          case Some(f) => base.unionByName(
            DnsPipeline.validRows(f).withColumn("__w", col("weight")).drop("weight"),
            allowMissingColumns = true)
          case None => base
        }
        materialize(DnsPipeline.withSubdomains(combined))
      }
      val cuts = rec.span("quantiles") { DnsPipeline.computeCuts(withSub) }
      val wc = rec.span("corpus") {
        materialize(Corpus.wordCounts(DnsPipeline.featurizeWithLookup(withSub, cuts, pop),
          col("ip_dst"), col("word"), col("__w")))
      }
      val topics = rec.span("topicmodel") { TopicModel.train(wc, c.topicCount, seed = c.seed) }
      wc.unpersist()
      withSub.unpersist()
      val m = DnsPipeline.Model(cuts, pop, topics, c.topicCount)
      c.model.foreach(p => rec.span("modelio") { DnsPipeline.save(m, p) })
      m
    }
    val feats = rec.span("corpus") {
      materialize(DnsPipeline.featurizeWithLookup(
        DnsPipeline.withSubdomains(DnsPipeline.validRows(input)), model.cuts, model.popular))
    }
    rec.span("scoring") {
      materialize(Scoring.suspicious(
        Scoring.score(feats, col("ip_dst"), col("word"), model.topics),
        c.threshold, c.maxResults))
    }
  }
}
