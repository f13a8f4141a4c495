package graft.sources

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Analyst-feedback source: a headered delimited file of previously scored
  * rows, filtered to severity==3 ("confirmed false positive") and weighted
  * ×duplicationFactor so they bias the next model.
  *
  * Reference: FlowPreLDA.scala:73-98 / DNSPreLDA.scala:56-88 /
  * ProxyFeedback.scala:22-72 read the file on the driver with
  * scala.io.Source and physically duplicate rows with flatMap. Here it is
  * a schema'd distributed CSV read and the duplication factor is carried
  * as a `weight` column (multiplied into corpus counts downstream) —
  * identical corpus, no duplicated shuffle rows.
  */
object Feedback {

  /** Read a TSV feedback file; returns rows with severity==sev plus a
    * constant `weight` column. Returns an empty frame (same schema) when
    * the file is absent — mirroring ProxyFeedback.scala:70. */
  def load(spark: SparkSession, path: String, schema: StructType,
           sevCol: String, sev: Int = 3, duplicationFactor: Int = 1000): DataFrame = {
    // Attempt the distributed read and fall back to empty on a missing
    // path — a driver-local File.exists() check would wrongly report
    // false for hdfs:///s3:// paths and silently drop all feedback.
    val base =
      try {
        val df = spark.read
          .option("sep", "\t").option("header", "true")
          // a malformed, short or long row, or a header naming the
          // columns in another order, fails the read instead of being
          // nulled, truncated or read by position
          .option("mode", "FAILFAST").option("enforceSchema", "false")
          .schema(schema)
          .csv(path)
        df.queryExecution.assertAnalyzed()
        df
      } catch { case _: org.apache.spark.sql.AnalysisException =>
        spark.createDataFrame(
          spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
      }
    base.where(col(sevCol) === sev)
      .withColumn("weight", lit(duplicationFactor.toLong))
  }

  /** A pipeline's training rows with a `__w` corpus-weight column: 1 for
    * each row of `rows`, `weight` for each row of `feedback` (from
    * [[load]]), both passed through the pipeline's row filter `valid`.
    * A column only one side has is null on the other. */
  def weighted(rows: DataFrame, feedback: Option[DataFrame],
               valid: DataFrame => DataFrame): DataFrame = {
    val base = valid(rows).withColumn("__w", lit(1L))
    feedback match {
      case Some(fb) => base.unionByName(
        valid(fb).withColumn("__w", col("weight")).drop("weight"),
        allowMissingColumns = true)
      case None => base
    }
  }
}
