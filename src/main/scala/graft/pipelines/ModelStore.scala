package graft.pipelines

import graft.ml.TopicModel
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._
import org.apache.spark.sql.{Row, SparkSession}

/** The stored form of a trained model (train-once-score-later), one
  * directory per model:
  *   - `topics/doc_topic_mix`, `topics/word_topic_prob`: the two
  *     [[TopicModel.Model]] frames as parquet, which keeps the exact
  *     doubles, so a reloaded model scores bit-identically (the reference
  *     shipped them as `final.gamma`/`final.beta` text,
  *     OniLDACWrapper.scala:88-104);
  *   - `meta/`: one parquet row, the pipeline's cut-sets as array<double>
  *     columns in its [[SuspiciousConnects.cutSpecs]] order, then
  *     `topic_count`, the model's one stored topic count. Cuts can hold
  *     +Infinity, which JSON cannot carry; parquet keeps the exact doubles;
  *   - `popular/` (DNS and proxy, [[SuspiciousConnects.takesPopular]]): the
  *     popularity list as a distributed (domain) parquet, so a
  *     million-domain list never reaches the driver.
  *
  * Models stored by earlier versions also hold a JSON `topics/meta` with
  * the same topic count; it is not read.
  */
private[pipelines] object ModelStore {

  /** The meta column of a cut-set: `<name>_cuts`, except that DNS's
    * `periods` has been stored as `num_periods_cuts` since the first
    * stored model. */
  private def column(cut: String): String =
    if (cut == "periods") "num_periods_cuts" else s"${cut}_cuts"

  /** Writes every part into a sibling temp dir, then swaps that dir in for
    * `path` with one rename, so `path` holds the old model or the whole
    * new one, never a mix of the two. All parts are written before the old
    * dir goes, so a model loaded from `path` (its frames read it lazily)
    * can be saved back to it. A failed write removes the temp dir and
    * leaves `path` as it was; a failed rename keeps the temp dir, the only
    * copy of the new model left. */
  def save(p: SuspiciousConnects, model: SuspiciousConnects.Model, path: String): Unit = {
    val spark = model.topics.docTopicMix.sparkSession
    // the normalized path: `m/` names `m`, and its sibling is `m.__tmp_swap`
    val target = new Path(path)
    val tmp = target.suffix(".__tmp_swap")
    val fs = target.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(tmp, true) // left by a save whose rename failed
    // the schema a Seq-of-tuples `toDF` gives these values
    val cuts = p.cutSpecs.map(_.name)
    val schema = StructType(
      cuts.map(c => StructField(column(c), ArrayType(DoubleType, containsNull = false))) :+
        StructField("topic_count", IntegerType, nullable = false))
    val row = Row.fromSeq(cuts.map(model.cuts(_).toSeq) :+ model.topics.topicCount)
    try {
      model.topics.docTopicMix.write.parquet(s"$tmp/topics/doc_topic_mix")
      model.topics.wordTopicProb.write.parquet(s"$tmp/topics/word_topic_prob")
      if (p.takesPopular) model.popular.select(col("domain").cast("string").as("domain"))
        .write.parquet(s"$tmp/popular")
      spark.createDataFrame(java.util.List.of(row), schema).write.parquet(s"$tmp/meta")
    } catch { case e: Throwable => fs.delete(tmp, true); throw e }
    if (fs.exists(target)) fs.delete(target, true)
    if (!fs.rename(tmp, target))
      throw new java.io.IOException(s"rename $tmp -> $target failed")
  }

  /** Reads what [[save]] wrote; a pipeline that stores no popularity list
    * gets an empty one. */
  def load(p: SuspiciousConnects, spark: SparkSession, path: String): SuspiciousConnects.Model = {
    val meta = spark.read.parquet(s"$path/meta")
    val m = meta.head()
    val topics = TopicModel.Model(spark.read.parquet(s"$path/topics/doc_topic_mix"),
      spark.read.parquet(s"$path/topics/word_topic_prob"), m.getAs[Int]("topic_count"))
    // models saved before the popularity list moved to its own parquet
    // carried it as a meta column: migrate on read instead of crashing
    // the train-once-score-later path on a stored model
    val popular =
      if (!p.takesPopular) SuspiciousConnects.popularFrame(spark, Set.empty)
      else if (meta.columns.contains("popular_domains"))
        SuspiciousConnects.popularFrame(spark, m.getAs[Seq[String]]("popular_domains").toSet)
      else spark.read.parquet(s"$path/popular")
    SuspiciousConnects.Model(
      p.cutSpecs.map(c => c.name -> m.getAs[Seq[Double]](column(c.name)).toArray).toMap,
      popular, topics)
  }
}
