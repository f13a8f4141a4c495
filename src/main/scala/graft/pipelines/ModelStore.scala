package graft.pipelines

import graft.ml.TopicModel
import org.apache.hadoop.fs.Path
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

  /** Writes every part into a sibling temp dir, then swaps that dir in for
    * `path` with one rename, so `path` holds the old model or the whole
    * new one, never a mix of the two. All parts are written before the old
    * dir goes, so a model loaded from `path` (its frames read it lazily)
    * can be saved back to it. A failed write removes the temp dir and
    * leaves `path` as it was; a failed rename keeps the temp dir, the only
    * copy of the new model left. */
  def save(path: String, topics: TopicModel.Model, topicCount: Int,
           cuts: Seq[(String, Array[Double])],
           popular: Option[DataFrame] = None): Unit = {
    val spark = topics.docTopicMix.sparkSession
    val target = new Path(path)
    val tmp = new Path(path + ".__tmp_swap")
    val fs = target.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(tmp, true) // left by a save whose rename failed
    // the schema a Seq-of-tuples `toDF` gives these values
    val schema = StructType(
      cuts.map { case (name, _) =>
        StructField(name, ArrayType(DoubleType, containsNull = false)) } :+
        StructField("topic_count", IntegerType, nullable = false))
    val row = Row.fromSeq(cuts.map { case (_, c) => c.toSeq } :+ topicCount)
    try {
      TopicModel.save(topics, s"$tmp/topics")
      popular.foreach(_.select(col("domain").cast("string").as("domain"))
        .write.parquet(s"$tmp/popular"))
      spark.createDataFrame(java.util.List.of(row), schema).write.parquet(s"$tmp/meta")
    } catch { case e: Throwable => fs.delete(tmp, true); throw e }
    if (fs.exists(target)) fs.delete(target, true)
    if (!fs.rename(tmp, target))
      throw new java.io.IOException(s"rename $tmp -> $target failed")
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
