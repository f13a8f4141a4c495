package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Quantile-cut binning with the reference engine's semantics
  * (reference: utilities/Quantiles.scala:97-99): the bin of a value is the
  * index of the FIRST cut with value <= cut, and **-1 when the value exceeds
  * every cut** (`indexWhere` miss). The -1 quirk is part of the observable
  * word vocabulary, so it is preserved.
  */
object Binning {

  def bin(value: Double, cuts: Array[Double]): Int =
    cuts.indexWhere(cut => value <= cut)

  /** Column-expression form: one flat CASE WHEN chain,
    * `CASE WHEN value <= c0 THEN 0 WHEN value <= c1 THEN 1 ... ELSE -1 END`.
    * Branches are tried in cut order, so the first cut with `value <= cut`
    * wins; a miss, a NULL value and a NaN value (Spark orders NaN above
    * every double) all fall through to -1. CaseWhen is codegen'd, unlike a
    * `transform` over a cut array, whose lambda runs interpreted per row. */
  def binCol(value: Column, cuts: Seq[Double]): Column =
    if (cuts.isEmpty) lit(-1)
    else cuts.zipWithIndex.tail
      .foldLeft(when(value <= cuts.head, 0)) { case (c, (cut, i)) =>
        c.when(value <= cut, i)
      }
      .otherwise(-1)

  /** SQL fragment with identical semantics for DuckDB oracles:
    * DuckDB's list_position is also 1-based and NULL on miss, so
    * `coalesce(pos, 0) - 1` reproduces the -1 quirk. */
  def binSql(valueExpr: String, cuts: Seq[Double]): String = {
    val arr = cuts.map(c => s"CAST($c AS DOUBLE)").mkString("[", ", ", "]")
    s"(COALESCE(list_position([($valueExpr) <= c for c in $arr], true), 0) - 1)"
  }
}
