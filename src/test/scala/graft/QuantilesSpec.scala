package graft

import graft.operators.Quantiles
import org.apache.spark.sql.functions._

/** Exact-quantile semantics locks (reference: QuantilesTest.scala:16-144):
  * cutoff = min value with ECDF >= threshold; empty input → +Infinity.
  */
class QuantilesSpec extends SparkSpec {

  import spark.implicits._

  "ecdf" should "be the cumulative fraction over distinct values" in {
    val df = (1 to 10).map(_.toDouble).toDF("v")
    val e = Quantiles.ecdf(df, col("v")).orderBy("value")
      .as[(Double, Double)].collect()
    e.map(_._1) shouldBe (1 to 10).map(_.toDouble).toArray
    e.map(_._2).zip((1 to 10).map(_ / 10.0)).foreach { case (g, w) =>
      g shouldBe w +- 1e-12
    }
  }

  it should "handle a 50-50 two-value distribution" in {
    val df = (Seq.fill(5)(1.0) ++ Seq.fill(5)(2.0)).toDF("v")
    val e = Quantiles.ecdf(df, col("v")).orderBy("value")
      .as[(Double, Double)].collect()
    e shouldBe Array((1.0, 0.5), (2.0, 1.0))
  }

  it should "handle a constant distribution" in {
    val df = Seq.fill(7)(3.0).toDF("v")
    Quantiles.ecdf(df, col("v")).as[(Double, Double)].collect() shouldBe
      Array((3.0, 1.0))
  }

  "computeQuantiles" should "give the deciles 1..10 on the list 1..10" in {
    val df = (1 to 10).map(_.toDouble).toDF("v")
    Quantiles.computeQuantiles(df, col("v"), Quantiles.Deciles) shouldBe
      (1 to 10).map(_.toDouble).toArray
  }

  it should "give the quintiles 2,4,6,8,10 on the list 1..10" in {
    val df = (1 to 10).map(_.toDouble).toDF("v")
    Quantiles.computeQuantiles(df, col("v"), Quantiles.Quintiles) shouldBe
      Array(2.0, 4.0, 6.0, 8.0, 10.0)
  }

  it should "return +Infinity for every cutoff on empty input" in {
    val df = Seq.empty[Double].toDF("v")
    Quantiles.computeQuantiles(df, col("v"), Quantiles.Deciles) shouldBe
      Array.fill(10)(Double.PositiveInfinity)
  }

  it should "put every cutoff at the constant for constant input" in {
    val df = Seq.fill(5)(42.0).toDF("v")
    Quantiles.computeQuantiles(df, col("v"), Quantiles.Quintiles) shouldBe
      Array.fill(5)(42.0)
  }

  it should "split a 50-50 distribution at the median threshold" in {
    val df = (Seq.fill(5)(1.0) ++ Seq.fill(5)(2.0)).toDF("v")
    Quantiles.computeQuantiles(df, col("v"), Quantiles.Deciles) shouldBe
      Array(1.0, 1.0, 1.0, 1.0, 1.0, 2.0, 2.0, 2.0, 2.0, 2.0)
  }

  "computeCutSets" should "fuse several cut-sets into one pass, matching per-column results" in {
    val df = (1 to 10).map(i => (i.toDouble, (i * 3).toDouble, -i.toDouble))
      .toDF("a", "b", "c")
    val cuts = Quantiles.computeCutSets(df, Seq(
      Quantiles.CutSpec("a", col("a"), Quantiles.Deciles),
      Quantiles.CutSpec("b", col("b"), Quantiles.Quintiles),
      Quantiles.CutSpec("pos_c", col("c"), Quantiles.Quintiles, Some(col("c") > 0))))
    cuts("a") shouldBe Quantiles.computeQuantiles(df, col("a"), Quantiles.Deciles)
    cuts("b") shouldBe Quantiles.computeQuantiles(df, col("b"), Quantiles.Quintiles)
    cuts("pos_c") shouldBe Array.fill(5)(Double.PositiveInfinity) // filter excludes all
  }

  "the one ECDF path" should "be exact on ties, negatives, nulls and a one-value feature" in {
    // v: -2.0 twice, 0.0, 3.5 seven times, 9.9 twice, 42.0, two nulls
    // (13 non-null rows); w: the constant 5.0 on every row
    val vs = Seq(Some(3.5), Some(-2.0), None, Some(9.9)) ++ Seq.fill(6)(Some(3.5)) ++
      Seq(Some(42.0), Some(0.0), None, Some(-2.0), Some(9.9))
    val df = vs.map(v => (v, 5.0)).toDF("v", "w")
    val e = Quantiles.ecdf(df, col("v"))
    // the frame keeps its lineage: no checkpointed RDD stands in for the input
    e.queryExecution.logical.collectLeaves()
      .exists(_.isInstanceOf[org.apache.spark.sql.execution.LogicalRDD]) shouldBe false
    e.orderBy("value").as[(Double, Double)].collect() shouldBe Array(
      (-2.0, 2.0 / 13), (0.0, 3.0 / 13), (3.5, 10.0 / 13), (9.9, 12.0 / 13), (42.0, 1.0))
    Quantiles.ecdf(df, col("w")).as[(Double, Double)].collect() shouldBe Array((5.0, 1.0))

    val cuts = Quantiles.computeCutSets(df, Seq(
      Quantiles.CutSpec("v", col("v"), Quantiles.Deciles),
      Quantiles.CutSpec("w", col("w"), Quantiles.Quintiles),
      Quantiles.CutSpec("neg_v", col("v"), Quantiles.Quintiles, Some(col("v") < 0))))
    val v = Quantiles.computeQuantiles(df, col("v"), Quantiles.Deciles)
    v shouldBe Array(-2.0, 0.0, 3.5, 3.5, 3.5, 3.5, 3.5, 9.9, 9.9, 42.0)
    cuts("v") shouldBe v
    cuts("w") shouldBe Quantiles.computeQuantiles(df, col("w"), Quantiles.Quintiles)
    cuts("w") shouldBe Array.fill(5)(5.0)
    cuts("neg_v") shouldBe Array.fill(5)(-2.0)
  }

  "QuantileAgg.exactQuantiles" should "match the windowed exact path" in {
    import graft.operators.QuantileAgg
    val df = (1 to 10).map(_.toDouble).toDF("v")
    QuantileAgg.exactQuantiles(df, col("v"), Quantiles.Deciles) shouldBe
      (1 to 10).map(_.toDouble).toArray
    QuantileAgg.exactQuantiles(df, col("v"), Quantiles.Quintiles) shouldBe
      Array(2.0, 4.0, 6.0, 8.0, 10.0)
    // empty input → +Infinity
    QuantileAgg.exactQuantiles(Seq.empty[Double].toDF("v"), col("v"),
      Quantiles.Quintiles) shouldBe Array.fill(5)(Double.PositiveInfinity)
    // agreement on a messy distribution with ties
    val messy = (Seq.fill(7)(3.5) ++ Seq(-2.0, 0.0, 9.9, 9.9, 42.0)).toDF("v")
    QuantileAgg.exactQuantiles(messy, col("v"), Quantiles.Deciles) shouldBe
      Quantiles.computeQuantiles(messy, col("v"), Quantiles.Deciles)
  }

  "ExactQuantileAggregator" should "fail loudly past the distinct-value bound" in {
    import graft.operators.QuantileAgg
    val df = (1 to 100).map(_.toDouble).toDF("v")
    val e = intercept[Exception] {
      QuantileAgg.exactQuantiles(df, col("v"), Quantiles.Deciles, maxDistinct = 10)
    }
    // the task failure wraps the IllegalStateException; check the chain
    def chain(t: Throwable): Seq[String] =
      if (t == null) Nil else t.getMessage +: chain(t.getCause)
    chain(e).mkString("\n") should include("BOUNDED")
  }
}
