package graft

import graft.pipelines.EventsPipeline

/** End-to-end drive of the flagship pipeline on harness testdata. */
object Demo {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.001"
    val spark = GraftSession.fromEnv()
    spark.sparkContext.setLogLevel("ERROR")
    val events = Tables.load(spark, sfDir, "events")
    println(s"events rows: ${events.count()}")
    val out = EventsPipeline.results(events,
      EventsPipeline.train(events, topicCount = 5), threshold = 1.0, topK = 20)
    out.show(20, false)
    spark.stop()
  }
}
