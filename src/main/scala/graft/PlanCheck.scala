package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{FormattedMode, SQLExecution}

/** Prints the final AQE physical plans of representative queries, in the
  * engine's own session ([[GraftSession]]) — used to audit
  * pushdown/pruning/join strategy choices (not part of the driver
  * contract). A conf key the session does not set can be tried as a
  * system property, e.g.
  * `JAVA_TOOL_OPTIONS=-Dspark.sql.adaptive.<key>=<v> tools/run.sh graft.PlanCheck j1_equi_join`. */
object PlanCheck {

  /** Runs `df` to completion (rows discarded) and returns the plan that
    * ran: AQE's runtime choices (join conversions, coalesced partitions,
    * skew splits) appear only once the query has executed, so a
    * pre-execution plan (`isFinalPlan=false`) can differ from it. */
  def finalPlan(df: DataFrame): String = {
    val qe = df.queryExecution
    SQLExecution.withNewExecutionId(qe, Some("PlanCheck")) {
      qe.executedPlan.execute().foreach(_ => ())
    }
    qe.explainString(FormattedMode)
  }

  def main(args: Array[String]): Unit = {
    val names = if (args.nonEmpty) args.toSeq
      else Seq("s1_scan_project", "j1_equi_join", "a3_group_sum", "t1_topk",
        "d3_minhash_lsh", "v2_cosine_topk")
    val spark = GraftSession.fromEnv()
    spark.sparkContext.setLogLevel("ERROR")
    // size-gated plan choices (broadcast hints) depend on the actual
    // input, so the audit dir is selectable: a 100× replica shows the
    // post-gate plan a production corpus would get
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    names.foreach { n =>
      println(s"\n========== $n ==========")
      println(finalPlan(SparkEntry.queries(n)(spark, dir)))
    }
    spark.stop()
  }
}
