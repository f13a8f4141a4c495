package graft.pipelines

import graft.ml.TopicModel
import graft.sources.Sinks
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._
import org.apache.spark.sql.{DataFrame, Row, SparkSession}

/** The stored form of a trained flow, DNS or proxy model
  * (train-once-score-later), one directory per model:
  *   - `topics/`: [[TopicModel.save]];
  *   - `meta/`: one parquet row, the pipeline's named cut-sets as
  *     array<double> columns in the order given, then `topic_count`. Cuts
  *     can hold +Infinity, which JSON cannot carry; parquet keeps the exact
  *     doubles;
  *   - `popular/` (DNS and proxy): the popularity list as a distributed
  *     (domain) parquet, so a million-domain list never reaches the driver.
  */
private[pipelines] object ModelStore {

  /** A loaded model's parts; `cuts` reads a meta column by name. */
  final case class Stored(meta: Row, topics: TopicModel.Model,
                          popular: Option[DataFrame]) {
    def cuts(name: String): Array[Double] = meta.getAs[Seq[Double]](name).toArray
    def topicCount: Int = meta.getAs[Int]("topic_count")
  }

  def save(path: String, topics: TopicModel.Model, topicCount: Int,
           cuts: Seq[(String, Array[Double])],
           popular: Option[DataFrame] = None): Unit = {
    TopicModel.save(topics, s"$path/topics")
    // popular may be the lazily-read frame loaded from this very path
    // (load-then-save-to-same-path): swap via a temp dir, never overwrite
    // a directory mid-read
    popular.foreach(p => Sinks.overwriteParquetSafely(
      p.select(col("domain").cast("string").as("domain")), s"$path/popular"))
    // the schema a Seq-of-tuples `toDF` gives these values
    val schema = StructType(
      cuts.map { case (name, _) =>
        StructField(name, ArrayType(DoubleType, containsNull = false)) } :+
        StructField("topic_count", IntegerType, nullable = false))
    val row = Row.fromSeq(cuts.map { case (_, c) => c.toSeq } :+ topicCount)
    val spark = topics.docTopicMix.sparkSession
    spark.createDataFrame(java.util.List.of(row), schema)
      .write.mode("overwrite").parquet(s"$path/meta")
  }

  /** Reads what [[save]] wrote; `popular` only when `withPopular`. */
  def load(spark: SparkSession, path: String, withPopular: Boolean): Stored = {
    val meta = spark.read.parquet(s"$path/meta")
    val m = meta.head()
    // models saved before the popularity list moved to its own parquet
    // carried it as a meta column: migrate on read instead of crashing
    // the train-once-score-later path on a stored model
    val popular =
      if (!withPopular) None
      else if (meta.columns.contains("popular_domains"))
        Some(DnsPipeline.popularFrame(spark, m.getAs[Seq[String]]("popular_domains").toSet))
      else Some(spark.read.parquet(s"$path/popular"))
    Stored(m, TopicModel.load(spark, s"$path/topics"), popular)
  }
}
