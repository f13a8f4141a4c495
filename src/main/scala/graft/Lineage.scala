package graft

import org.apache.spark.sql.DataFrame

/** Lineage management helpers shared by the iterative trainers. */
object Lineage {

  /** Lineage cut for BOUNDED, model-sized frames (PQ codebooks, k-means
    * centroids): collect to the driver and re-create as a local
    * relation.
    *
    * Why not `localCheckpoint`: an eager local checkpoint submits a job
    * from the calling thread while Spark's broadcast-exchange threads
    * may be submitting their own jobs over the SAME checkpoint-marked
    * RDDs, and the two lock paths (`RDDCheckpointData` class lock vs
    * per-RDD monitor) take those locks in opposite orders — a real
    * deadlock observed in this repo's verify run (dag-scheduler blocked
    * on the class lock held by broadcast-exchange-36, which waited on
    * the RDD monitor; jstack "Found one Java-level deadlock"). Small
    * frames that iterate AND get broadcast (exactly the codebook /
    * centroid shape) are the collision surface; re-creating them as a
    * LocalRelation removes every checkpoint lock from their job graphs
    * while keeping plans flat across iterations.
    *
    * Memory discipline: anything small enough to be broadcast (these
    * frames already are, every iteration) is by definition small enough
    * to collect — same object, same place. The row cap is a LOUD guard,
    * not a truncation: exceeding it is a sizing bug upstream (the
    * [[graft.ml.TopicModel.MaxDriverVocab]] convention). The guard
    * bounds the collect ITSELF (`limit(maxRows + 1)`), so a mis-sized
    * frame throws before the driver materializes it, not after an OOM;
    * the default cap is 2^20 — comfortably above every model frame in
    * the repo (codebooks ≤ 2^16, vocab ≤ 2^17) yet far below anything
    * that could stress a driver heap. Values round-trip exactly —
    * doubles and arrays are copied, never re-parsed. */
  def cutSmall(df: DataFrame, maxRows: Int = 1 << 20): DataFrame = {
    val probe = df.limit(maxRows + 1).collect()
    if (probe.length > maxRows) throw new IllegalStateException(
      s"Lineage.cutSmall: frame exceeds the $maxRows-row cap — " +
        "this cut is for bounded model-sized frames only")
    val rows = probe
    df.sparkSession.createDataFrame(
      java.util.Arrays.asList(rows: _*), df.schema)
  }
}
