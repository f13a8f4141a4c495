package graft.sources

import org.apache.spark.sql.DataFrame

/** Result sinks. Reference: row.mkString("\t") + saveAsTextFile
  * (FlowPostLDA.scala:80, DNSPostLDA.scala:69-70). Expressed as the CSV
  * writer with a tab separator; `coalesce(1)` only when a single file is
  * requested (top-k results are small by construction). */
object Sinks {

  def writeTsv(df: DataFrame, path: String, singleFile: Boolean = true,
               sep: String = "\t"): Unit = {
    val out = if (singleFile) df.coalesce(1) else df
    out.write.mode("overwrite").option("sep", sep).option("header", "false").csv(path)
  }

  def writeParquet(df: DataFrame, path: String, partitionCols: Seq[String] = Nil): Unit = {
    val w = df.write.mode("overwrite")
    (if (partitionCols.nonEmpty) w.partitionBy(partitionCols: _*) else w).parquet(path)
  }

  /** JSONL (one JSON object per line) — the interchange format of LLM
    * training corpora. Spark's native json writer IS JSONL (one object
    * per line per file part); `compression` ("gzip" | "zstd" | "none")
    * trades scan CPU for storage, and parts stay independently
    * splittable files for downstream distributed reads. */
  def writeJsonl(df: DataFrame, path: String,
                 compression: String = "none"): Unit =
    df.write.mode("overwrite").option("compression", compression).json(path)

  /** Read a JSONL corpus WITH a caller-supplied schema: at 100 TB,
    * schema inference is a full extra pass over the data and silently
    * unions drifting shapes — an explicit schema makes both impossible.
    * `columnNameOfCorruptRecord` rows surface in `_corrupt_record`
    * (PERMISSIVE) rather than killing the read; count that column to
    * gate ingest quality. */
  def readJsonl(spark: org.apache.spark.sql.SparkSession, path: String,
                schema: org.apache.spark.sql.types.StructType,
                keepCorrupt: Boolean = false): DataFrame = {
    val withCorrupt = if (keepCorrupt)
      schema.add("_corrupt_record", org.apache.spark.sql.types.StringType)
    else schema
    val df = spark.read.schema(withCorrupt)
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt_record")
      .json(path)
    if (keepCorrupt) df else df.drop("_corrupt_record")
  }

  /** ORC — the other first-class columnar format (Spark ships the
    * reader/writer natively; warehouses with Hive lineage are ORC-first).
    * Same predicate-pushdown/column-pruning contract as parquet — ORC
    * carries min/max/bloom row-group indexes the scan uses — so a corpus
    * landed by an ORC-first upstream needs no convert-to-parquet pass.
    * Optional `partitionCols` for the same y=/m=/d= pruning layout as
    * [[writeParquet]]. */
  def writeOrc(df: DataFrame, path: String, partitionCols: Seq[String] = Nil,
               compression: String = "zstd"): Unit = {
    val w = df.write.mode("overwrite").option("compression", compression)
    (if (partitionCols.nonEmpty) w.partitionBy(partitionCols: _*) else w).orc(path)
  }

  def readOrc(spark: org.apache.spark.sql.SparkSession, path: String): DataFrame =
    spark.read.orc(path)
}
