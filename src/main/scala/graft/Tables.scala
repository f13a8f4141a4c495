package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, SparkSession}
import scala.util.control.NonFatal

/** Harness testdata loader: `<sfDir>/<name>.parquet`.
  *
  * The `events` table carries a nanosecond parquet timestamp, which Spark's
  * parquet reader rejects ([PARQUET_TYPE_ILLEGAL]); we read it as raw nanos
  * (legacy nanosAsLong conf) and surface a standard microsecond
  * TimestampType column — hour/minute/second semantics are unchanged.
  * The conf is a session-build default ([[GraftSession]]; a session built
  * elsewhere gets it from [[GraftSession.adopt]]); a load only reads
  * session state, it never sets it.
  */
object Tables {

  def load(spark: SparkSession, sfDir: String, name: String): DataFrame =
    if (name == "events") events(spark, sfDir)
    else spark.read.parquet(s"$sfDir/$name.parquet")

  /** The unique-id column per harness table, for hash-spreading. */
  private val SpreadKeys = Map(
    "documents" -> "doc_id", "embeddings" -> "vec_id",
    "events" -> "event_id")

  /** [[load]], hash-spread to session parallelism when the scan
    * under-splits it. The sf fixtures are single-row-group parquet —
    * unsplittable, so every scan is ONE task and all pre-shuffle per-row
    * work (tokenize, vector math, fixture fabrication) runs serially no
    * matter the core count (guide §2.5 input skew, the
    * one-unsplittable-file case). When the scan has fewer partitions than
    * `spark.sql.shuffle.partitions`, repartition by HASH of the table's
    * unique id: a pure function of the data (layout-invariant), even
    * spread, and — unlike round-robin — no sort-before-repartition pass
    * (measured: round-robin's local binary sort of array/text rows per
    * scan regressed the repeat-scan PQ queries 2-3x). On production
    * inputs with enough row groups the condition is false and this is
    * [[load]]. */
  def loadSpread(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    val df = load(spark, sfDir, name)
    if (sys.env.get("SPARK_GRAFT_SPREAD").contains("0")) return df
    SpreadKeys.get(name) match {
      case Some(key) =>
        val p = spark.conf.get("spark.sql.shuffle.partitions", "200").toInt
        if (df.rdd.getNumPartitions < p) df.repartition(p, col(key)) else df
      case None => df
    }
  }

  /** Multi-path scan: all paths in one read (the reference silently
    * dropped every path after the first — DNSPreLDA.scala:91
    * `inputPath.split(",")(0)`; reading the full list is the fix). */
  def loadPaths(spark: SparkSession, paths: Seq[String]): DataFrame =
    spark.read.parquet(paths: _*)

  def events(spark: SparkSession, sfDir: String): DataFrame = {
    // Integral `div`, NOT `/`: Divide on longs casts to double, and epoch
    // nanos (~1.7e18) exceed double's 2^53 integer range — the quotient
    // can land 1us low after truncation (observed on ~1.5% of rows).
    val path = s"$sfDir/events.parquet"
    val raw = try spark.read.parquet(path) catch {
      // without the key a nanosecond timestamp fails as a bare parquet
      // type error; name the missing setting (the cause stays attached)
      case NonFatal(e) if !spark.conf.get(GraftSession.NanosAsLong, "false")
          .toBoolean => throw new IllegalStateException(
        s"cannot read $path in a session with ${GraftSession.NanosAsLong} " +
          "off; if its ts is a nanosecond timestamp, build the session " +
          "with GraftSession or pass it through GraftSession.adopt", e)
    }
    raw.schema("ts").dataType match {
      // the harness's nanosecond representation, read as raw nanos
      case org.apache.spark.sql.types.LongType =>
        raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      // already a timestamp (e.g. a replica whose parquet writer emits
      // MICROS, surfacing as TimestampType, or TIMESTAMP_NS, surfacing as
      // TimestampNTZType under a UTC session) — same values the nanos path
      // surfaces (30x-replica-verified: 0 of 3M rows differ), nothing to
      // convert
      case org.apache.spark.sql.types.TimestampType |
           org.apache.spark.sql.types.TimestampNTZType => raw
      // anything else is a data-generation mistake; fail HERE with the
      // observed type instead of letting downstream gates mis-bind
      case other => throw new IllegalStateException(
        s"events.ts: expected nanos-as-long or a timestamp type, got " +
          s"$other in $sfDir/events.parquet")
    }
  }
}
