package graft

import graft.pipelines.EventsPipeline

/** End-to-end drive of the flagship pipeline on harness testdata. */
object Demo {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.001"
    val spark = GraftSession.fromEnv(defaultCores = "8")
    spark.sparkContext.setLogLevel("ERROR")
    val events = Tables.load(spark, sfDir, "events")
    println(s"events rows: ${events.count()}")
    val out = EventsPipeline.run(events, threshold = 1.0, topK = 20, topicCount = 5)
    out.show(20, false)

    // same model as a spark.ml Pipeline stage over (doc, word) columns
    import org.apache.spark.ml.Pipeline
    import org.apache.spark.sql.functions.col
    val docsWords = events.select(col("user_id").cast("string").as("doc"),
      col("event_type").as("word"))
    val pipeModel = new Pipeline().setStages(Array(
      new graft.ml.SuspiciousConnectsEstimator().setTopicCount(3).setMaxIter(5)))
      .fit(docsWords)
    println("spark.ml pipeline scores:")
    pipeModel.transform(docsWords).show(5, false)
    spark.stop()
  }
}
