package graft

/** Structural audit over EVERY gate query's physical plan: no cartesian
  * products or nested-loop joins may appear outside the allowlisted
  * vector-family queries, where a broadcast cross against a tiny
  * centroid/query side is the deliberate design. Guards against an
  * accidental cross join (dropped join key, non-equi condition) slipping
  * into any of the 70+ relational/text/pipeline gates — the kind of plan
  * regression that stays invisible at test scale and detonates at 100 TB.
  */
class PlanAuditSpec extends SparkSpec {

  /** Deliberate bounded cross shapes: brute-force/centroid scoring where
    * one side is a broadcast handful of vectors, and the broadcast
    * inequality range join (j8 — j8b is its bucketed equi twin). */
  private val allowCross = Set(
    "v2_cosine_topk", "v3_ivf_assign", "v4_near_dup", "v4b_cell_near_dup",
    "v4c_scaled_cells", "v5_ivf_search", "v7_kmeans", "v10_semantic_dedup",
    "v11_ivfpq", // cell assignment = broadcast cross vs 8 centroids; the
                 // ADC itself is equi (centroid_id, sub, code) hash joins
    "v11b_ivfpq_indexed", // same assignment shape; the probe join is a
                          // bucket-pruned scan + broadcast equi join
    "v12_ann_recall", // exact ground-truth side = v2's bounded broadcast
                      // cross (10 queries); the recall joins are equi
    "v18_adc_rerank", // embeds v11's search (same 8-centroid assignment
                      // cross); the re-rank itself is broadcast EQUI
                      // joins on cand_id/query_id only
    "v19_binary_hamming", // v2's bounded broadcast-cross shape over
                          // 8-byte codes (10 queries × code scan)
    "x21_temperature_mix", // |classes|-row frame × its broadcast ONE-row
                           // normalizer sum — the scalar-subquery shape
    "a13_cms_counts", // per-type sketch rows × broadcast 10-probe frame —
                      // the point-query shape over a built sketch
    "j10_bloom_semi", // probe rows × the broadcast ONE-row bitset — the
                      // pre-shuffle membership filter shape
    "a15_cms_heavy", // rows × the broadcast ONE-row sketch — j10's shape
    // sketch-row × sketch-row pair join (set_a < set_b): both sides are
    // the per-GROUP sketch frame (5 rows here, #groups at scale), never
    // data-sized — the benign model-object cross like a15
    "a16_kmv_setops",
                     // applied to aggregation (map-side heavy-key prune)
    "j8_range_join")

  /** Full-LDA pipelines train during query construction — minutes of work
    * for no plan information beyond what the fixedmodel gates already
    * audit (same scoring dataflow, frozen model). */
  private val skip = Set("pipe_events_suspicious", "pipe_flow_golden",
    "pipe_dns_golden", "pipe_proxy_golden")

  "every gate plan" should "avoid cross/nested-loop joins outside the vector family" in {
    val sfDir = "/root/testdata/sf0.001"
    SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      if (!skip(name) && !allowCross(name)) {
        val plan = fn(spark, sfDir).queryExecution.executedPlan.toString
        withClue(s"$name plan:\n") {
          plan should not include "CartesianProduct"
          plan should not include "BroadcastNestedLoopJoin"
        }
      }
    }
  }

  "PlanCheck.finalPlan" should "dump the plan AQE finalized at run time" in {
    val df = SparkEntry.queries("j1_equi_join")(spark, "/root/testdata/sf0.001")
    df.queryExecution.executedPlan.toString should include ("isFinalPlan=false")
    PlanCheck.finalPlan(df) should include ("isFinalPlan=true")
  }
}
