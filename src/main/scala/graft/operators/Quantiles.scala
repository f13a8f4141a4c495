package graft.operators

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame}

/** Distributed exact quantiles via the empirical CDF.
  *
  * Semantics match the reference engine (reference:
  * utilities/Quantiles.scala:21-94): the quantile at threshold t is the
  * MINIMUM data value x with ECDF(x) >= t, and an empty input yields
  * +Infinity for every threshold.
  *
  * One ECDF implementation serves [[ecdf]], [[computeQuantiles]] and
  * [[computeCutSets]] — a range-bucketed two-pass prefix sum, no global
  * window:
  *   1. `groupBy(feature, value).count()` — map-side partial aggregation;
  *      one row per DISTINCT value from here on.
  *   2. a cheap bounds pass (one `percentile_approx` aggregate over the
  *      distinct values, collected: < 32 doubles per feature) fixes
  *      range-bucket boundaries as plan literals, so bucket assignment is
  *      deterministic under recomputation — no cache required for
  *      correctness.
  *   3. running sums are windowed PER (feature, bucket) (parallel, bounded
  *      frames) and shifted by per-bucket offsets computed in-plan from the
  *      tiny bucket-total frame, broadcast back.
  * Every value lands in exactly one bucket and buckets are range-ordered,
  * so local-cumsum + offset-of-lower-buckets is the exact global ECDF: the
  * same integer prefix sums over the same total whatever the bounds are.
  * [[computeCutSets]] caches the distinct-value counts across its two
  * actions (bounds and cutoffs); AQE does not reuse an exchange across
  * actions.
  */
object Quantiles {

  val Deciles: Array[Double] = Array(0.1, 0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9, 1.0)
  val Quintiles: Array[Double] = Array(0.2, 0.4, 0.6, 0.8, 1.0)

  /** Range buckets per feature in the ECDF window stage. */
  private val Buckets = 32

  /** Range-bucket id from fixed boundary literals: bucket i holds values in
    * (bounds(i-1), bounds(i)]; the last bucket is open above. Equal values
    * always share a bucket, and buckets are ordered by value. */
  private def bucketCol(v: Column, bounds: Array[Double]): Column =
    if (bounds.isEmpty) lit(0)
    else {
      val first: Column = when(v <= bounds(0), lit(0))
      bounds.indices.drop(1).foldLeft(first) { (acc, i) =>
        acc.when(v <= bounds(i), lit(i))
      }.otherwise(lit(bounds.length))
    }

  /** Per-bucket exclusive prefix offsets + the feature's total, computed
    * in-plan from the tiny per-bucket totals frame (a join over <= Buckets²
    * rows per feature, broadcast to the window stage). Input has (feature,
    * bucket, t); output has (feature, bucket, offset, total). */
  private def bucketOffsets(btot: DataFrame): DataFrame = {
    val other = btot.select(col("feature").as("__g_feature"),
      col("bucket").as("__bb"), col("t").as("__bt"))
    btot.join(other, col("feature") === col("__g_feature"))
      .groupBy("feature", "bucket")
      .agg(sum(when(col("__bb") < col("bucket"), col("__bt")).otherwise(0L)).as("offset"),
        sum(col("__bt")).as("total"))
  }

  /** (feature, value, cnt): how often each spec's non-null value occurs,
    * all specs in ONE scan + shuffle. Per-spec filters become null-outs so
    * excluded rows never shuffle. */
  private def distinctCounts(df: DataFrame, specs: Seq[CutSpec]): DataFrame =
    df.select(explode(array(specs.map { s =>
        val v = s.filter match {
          case Some(p) => when(p, s.value.cast("double"))
          case None => s.value.cast("double")
        }
        struct(lit(s.name).as("feature"), v.as("value"))
      }: _*)).as("fv"))
      .select(col("fv.feature").as("feature"), col("fv.value").as("value"))
      .where(col("value").isNotNull)
      .groupBy("feature", "value").agg(count(lit(1)).as("cnt"))

  /** The exact ECDF of each feature in `counts` (from [[distinctCounts]]):
    * adds `ecdf` = the feature's fraction of rows <= value. Runs the bounds
    * job now; the returned frame reads `counts` again. */
  private def ecdfByFeature(counts: DataFrame, features: Seq[String]): DataFrame = {
    // Bounds pass: balance by DISTINCT values (the window stage sees one
    // row per distinct value, so that is the load to spread).
    val probs = (1 until Buckets).map(_.toDouble / Buckets)
    val boundsByFeature: Map[String, Array[Double]] = counts.groupBy("feature")
      .agg(percentile_approx(col("value"), typedlit(probs), lit(10000)).as("bs"))
      .collect()
      .map(r => r.getString(0) -> r.getSeq[Double](1).toArray.distinct.sorted)
      .toMap
    val bucket = features.foldRight(lit(0)) { (f, acc) =>
      when(col("feature") === f,
        bucketCol(col("value"), boundsByFeature.getOrElse(f, Array.empty)))
        .otherwise(acc)
    }
    val withBucket = counts.withColumn("bucket", bucket)
    val btot = withBucket.groupBy("feature", "bucket").agg(sum("cnt").as("t"))
    val wCum = Window.partitionBy("feature", "bucket").orderBy("value")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    withBucket
      .withColumn("local", sum("cnt").over(wCum))
      .join(broadcast(bucketOffsets(btot)), Seq("feature", "bucket"))
      .withColumn("ecdf", (col("local") + col("offset")) / col("total"))
  }

  /** (value, ecdf) per distinct non-null value, ecdf = fraction of rows
    * <= value. The bounds are literals and the counts an exact groupBy, so
    * the frame recomputes to the same rows on every action. */
  def ecdf(df: DataFrame, value: Column): DataFrame = {
    val spec = CutSpec("value", value, Array.empty)
    ecdfByFeature(distinctCounts(df, Seq(spec)), Seq(spec.name))
      .select("value", "ecdf")
  }

  /** Exact quantile cutoffs for thresholds in (0, 1]: one cutoff per
    * threshold; +Infinity for all on empty input. */
  def computeQuantiles(df: DataFrame, value: Column, thresholds: Array[Double]): Array[Double] =
    computeCutSets(df, Seq(CutSpec("value", value, thresholds)))("value")

  /** One cut-set to compute in a fused pass: (feature name, value column,
    * thresholds, optional row predicate — e.g. "only positive lengths"). */
  final case class CutSpec(name: String, value: Column,
                           thresholds: Array[Double], filter: Option[Column] = None)

  /** Fused multi-column exact quantiles: ONE wide scan + shuffle for any
    * number of cut-sets (the reference ran a full pass per cut-set — 3 for
    * flow, 5 for dns: Quantiles.scala:85-94 callers), plus the cheap bounds
    * pass over the distinct-value counts. */
  def computeCutSets(df: DataFrame, specs: Seq[CutSpec]): Map[String, Array[Double]] = {
    // Cache ONLY the bounded distinct-value counts across the bounds action
    // and the final cutoff action; unpersisted before return (recomputation
    // would be deterministic anyway — exact groupBy + literal buckets).
    val counts = distinctCounts(df, specs).cache()
    try {
      val ecdfDF = ecdfByFeature(counts, specs.map(_.name))
      val spark = df.sparkSession
      import spark.implicits._
      val th = specs.flatMap(s => s.thresholds.map(t => (s.name, t)))
        .toDF("feature", "threshold")
      val rows = ecdfDF.join(broadcast(th), "feature")
        .where(col("ecdf") >= col("threshold"))
        .groupBy("feature", "threshold")
        .agg(min("value").as("cutoff"))
        .as[(String, Double, Double)].collect()
      val byFeature = rows.groupBy(_._1).map { case (f, rs) =>
        f -> rs.map(r => (r._2, r._3)).toMap
      }
      specs.map { s =>
        val m = byFeature.getOrElse(s.name, Map.empty[Double, Double])
        s.name -> s.thresholds.map(t => m.getOrElse(t, Double.PositiveInfinity))
      }.toMap
    } finally counts.unpersist(blocking = false)
  }
}
