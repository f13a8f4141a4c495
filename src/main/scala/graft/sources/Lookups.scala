package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Small lookup-file sources (reference: TopDomains.scala:9-13 — the
  * Alexa `rank,domain` CSV read on the driver into a broadcast Set). The
  * read is a distributed CSV scan, and the list stays a distributed frame:
  * the DNS and proxy pipelines' `featurizeWithLookup` classes domains by a
  * broadcast join against it, so a million-string list is never collected
  * on the driver. */
object Lookups {

  /** `rank,domain` CSV as a distributed (domain) frame — first label of
    * the domain, matching the reference's `split('.')(0)` normalization. */
  def topDomainsDF(spark: SparkSession, path: String): DataFrame =
    spark.read.csv(path)
      .select(split(col("_c1"), "\\.").getItem(0).as("domain"))
      .where(col("domain").isNotNull && col("domain") =!= "")
      .distinct()
}
