package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Encoder, Encoders}
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions._

/** Exact quantiles as a single custom AGGREGATE (SURVEY.md §7.3's
  * "custom Aggregator for exact distributed quantiles"): the buffer is a
  * value→count histogram, merged associatively across partitions, and the
  * cutoffs are derived from the sorted ECDF at finish. One hash-aggregate
  * pass — no window, no join — the right shape when the value domain is
  * bounded (discretized features); complements `Quantiles.computeCutSets`
  * (windowed, many columns at once, any domain size).
  *
  * Semantics identical to the reference's ECDF quantiles: cutoff(t) = min
  * value with cdf >= t; empty input → +Infinity everywhere.
  */
class ExactQuantileAggregator(thresholds: Array[Double],
                              maxDistinct: Int = ExactQuantileAggregator.MaxDistinct)
    extends Aggregator[Double, Map[Double, Long], Array[Double]] {

  private def bounded(m: Map[Double, Long]): Map[Double, Long] = {
    if (m.size > maxDistinct)
      throw new IllegalStateException(
        s"ExactQuantileAggregator buffer exceeded $maxDistinct distinct " +
          "values: this aggregate is for BOUNDED (discretized) domains; " +
          "use Quantiles.computeCutSets (bucketed windows) for " +
          "continuous columns.")
    m
  }

  override def zero: Map[Double, Long] = Map.empty

  override def reduce(buf: Map[Double, Long], v: Double): Map[Double, Long] =
    bounded(buf.updated(v, buf.getOrElse(v, 0L) + 1L))

  override def merge(a: Map[Double, Long], b: Map[Double, Long]): Map[Double, Long] =
    if (a.size < b.size) merge(b, a)
    else bounded(b.foldLeft(a) { case (m, (v, c)) => m.updated(v, m.getOrElse(v, 0L) + c) })

  override def finish(buf: Map[Double, Long]): Array[Double] = {
    if (buf.isEmpty) return thresholds.map(_ => Double.PositiveInfinity)
    val sorted = buf.toArray.sortBy(_._1)
    val total = sorted.map(_._2).sum.toDouble
    val cutoffs = Array.fill(thresholds.length)(Double.PositiveInfinity)
    var cum = 0L
    var ti = 0
    val sortedTh = thresholds.zipWithIndex.sortBy(_._1)
    var si = 0
    while (si < sorted.length && ti < sortedTh.length) {
      cum += sorted(si)._2
      val cdf = cum / total
      while (ti < sortedTh.length && cdf >= sortedTh(ti)._1) {
        cutoffs(sortedTh(ti)._2) = sorted(si)._1
        ti += 1
      }
      si += 1
    }
    cutoffs
  }

  override def bufferEncoder: Encoder[Map[Double, Long]] =
    Encoders.kryo[Map[Double, Long]]
  override def outputEncoder: Encoder[Array[Double]] =
    org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Array[Double]]()
}

object ExactQuantileAggregator {
  /** Buffer bound: the value→count histogram lives per grouping key in
    * executor memory; a continuous column would grow it without limit, so
    * it fails loudly at 2^20 distinct values instead of OOMing. */
  val MaxDistinct: Int = 1 << 20
}

object QuantileAgg {

  /** Cutoffs for `value` at `thresholds` in one aggregate pass. */
  def exactQuantiles(df: DataFrame, value: Column,
                     thresholds: Array[Double],
                     maxDistinct: Int = ExactQuantileAggregator.MaxDistinct): Array[Double] = {
    val agg = udaf(new ExactQuantileAggregator(thresholds, maxDistinct), Encoders.scalaDouble)
    df.select(value.cast("double").as("v"))
      .where(col("v").isNotNull)
      .agg(agg(col("v")).as("cuts"))
      .collect()(0).getSeq[Double](0).toArray
  }
}
