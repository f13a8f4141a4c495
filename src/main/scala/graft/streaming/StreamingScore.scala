package graft.streaming

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Streaming extensions of the batch engine (SURVEY.md §2.10: the
  * reference is batch-only; these are the §7 extensions expressed with
  * Structured Streaming).
  *
  * The model is batch-trained (TopicModel.train) and applied to a stream
  * by the batch `Scoring.score`: stateless per-row work plus broadcast
  * joins, so it runs unchanged under the streaming planner. Windowed aggregation uses event
  * time + watermark; sessionization uses the built-in session_window.
  */
object StreamingScore {

  /** Tumbling-window suspicious-event counts per doc with a watermark for
    * state cleanup: emits (window, doc, n_events, n_suspicious, min_score).
    */
  def windowedScores(scored: DataFrame, ts: Column, doc: Column,
                     threshold: Double, windowLen: String = "1 hour",
                     watermark: String = "2 hours"): DataFrame =
    scored
      .withColumn("__ts", ts)
      .withWatermark("__ts", watermark)
      .groupBy(window(col("__ts"), windowLen).as("window"), doc.as("doc"))
      .agg(count(lit(1)).as("n_events"),
        count(when(col("score") <= threshold, 1)).as("n_suspicious"),
        min(col("score")).as("min_score"))

  /** Tumbling-window per-key event stats for append-mode sinks (the
    * file-sink-compatible production shape): (window, key, n_events,
    * `agg` sum). A window row is emitted exactly once, when the
    * watermark passes its end — so on a drained stream the output is
    * every CLOSED window, and the final partial window (end > max event
    * time − delay) stays unemitted. That cutoff is deterministic, which
    * is what lets a batch oracle replay this operator: aggregate the
    * same windows and keep those with end ≤ max(ts) − delay.
    *
    * `agg` should be an exact integral column (e.g. cents, counts):
    * integer sums are order-invariant across partitions and retries,
    * where a double sum is not — same discipline as the batch gates. */
  def windowedEventStats(events: DataFrame, ts: Column, key: Column,
                         agg: Column, windowLen: String = "1 hour",
                         watermark: String = "0 seconds",
                         slide: Option[String] = None): DataFrame =
    events
      .withColumn("__ts", ts)
      .withWatermark("__ts", watermark)
      .groupBy(
        slide.fold(window(col("__ts"), windowLen))(s =>
          // sliding windows: each event lands in len/slide open windows,
          // state scales by the same factor; emission rule is unchanged
          // (a window emits when the watermark passes its end)
          window(col("__ts"), windowLen, s)).as("window"),
        key.as("key"))
      .agg(count(lit(1)).as("n_events"), sum(agg).as("agg_sum"))

  /** Gap-based sessionization (built-in session_window): one row per
    * (doc, session) with bounds and event count. */
  def sessionize(events: DataFrame, ts: Column, doc: Column,
                 gap: String = "30 minutes", watermark: String = "2 hours"): DataFrame =
    events
      .withColumn("__ts", ts)
      .withWatermark("__ts", watermark)
      .groupBy(session_window(col("__ts"), gap).as("session"), doc.as("doc"))
      .agg(count(lit(1)).as("n_events"),
        min(col("__ts")).as("first_event"), max(col("__ts")).as("last_event"))

  /** Watermarked tumbling-window DISTINCT-COUNT sketch: the mergeable
    * HyperLogLog aggregator ([[graft.operators.Sketches.HllAggregator]])
    * run as STREAMING aggregation state — per-window register arrays
    * live in the state store (2^p bytes per open window·key) and merge
    * across micro-batches exactly like they merge across partitions in
    * batch, so the drained stream's registers are byte-identical to the
    * batch build over the same rows. The streaming shape every
    * production telemetry pipeline wants: distinct users per window
    * without keeping per-user state. */
  def windowedDistinctSketch(events: DataFrame, ts: Column, key: Column,
                             hash: Column, windowLen: String = "1 hour",
                             watermark: String = "0 seconds",
                             p: Int = 12): DataFrame = {
    val agg = udaf(new graft.operators.Sketches.HllAggregator(p),
      org.apache.spark.sql.Encoders.scalaLong)
    events
      .withColumn("__ts", ts).withColumn("__h", hash)
      .withWatermark("__ts", watermark)
      .groupBy(window(col("__ts"), windowLen).as("window"), key.as("key"))
      .agg(agg(col("__h")).as("hll"))
  }

  /** Watermarked stream-stream INNER interval join: left rows matched to
    * right rows with the same key whose event time falls in
    * [leftTs − lookback, leftTs] — the enrichment join (events × promo /
    * impression × click) run with BOTH sides unbounded. The two
    * watermarks plus the two-sided time condition are what bound the
    * join state: Spark drops right-side state older than
    * watermark + lookback and left-side state past the watermark, so
    * state is O(rate · lookback), never O(stream). Inner-join OUTPUT is
    * watermark-independent (every match emits when its second side
    * arrives), which is what makes the result deterministic and
    * oracle-checkable: the drained stream equals the batch interval
    * join row for row. */
  def streamIntervalJoin(left: DataFrame, right: DataFrame, key: String,
                         leftTs: String, rightTs: String,
                         lookback: String = "1 hour",
                         watermark: String = "0 seconds",
                         joinType: String = "inner"): DataFrame = {
    val l = left.withWatermark(leftTs, watermark).alias("l")
    val r = right
      .withColumnRenamed(key, "__rkey")
      .withWatermark(rightTs, watermark).alias("r")
    l.join(r,
      col(s"l.$key") === col("r.__rkey") &&
        col(s"r.$rightTs") >= col(s"l.$leftTs") - expr(s"INTERVAL $lookback") &&
        col(s"r.$rightTs") <= col(s"l.$leftTs"),
      joinType)
      .drop("__rkey")
  }

  // ---- custom state: consecutive-suspicious-run tracking ----------------

  final case class ScoredEvent(doc: String, score: Double,
                               ts: java.sql.Timestamp)
  final case class RunState(len: Long, minScore: Double)
  /** closed=false rows report the still-open run after a batch. */
  final case class RunUpdate(doc: String, run_length: Long,
                             min_score: Double, closed: Boolean)

  // ---- custom state: streaming exact dedup ------------------------------

  final case class StreamDoc(doc_id: Long, text: String, ts: java.sql.Timestamp)

  /** Content key for streaming dedup state: a 128-bit md5 hex digest, the
    * streaming twin of the batch (xxhash64, md5) keying — the state store
    * holds 32-char keys, never document text. */
  def contentKey(text: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(text.getBytes("UTF-8")).map("%02x".format(_)).mkString

  final case class SeenState(seen: Boolean)

  /** Streaming exact dedup (flatMapGroupsWithState): emit only the FIRST
    * document per distinct text ACROSS micro-batches — the stateful twin of
    * [[graft.operators.Dedup.exactDuplicates]]. Within a batch the winner
    * is min (ts, doc_id), deterministic. State per seen content key is one
    * tiny record with an EVENT-TIME timeout `horizon` past the last
    * occurrence (sliding), so the store is bounded by the dedup horizon
    * rather than the stream lifetime. Event-time timeouts keep replays
    * reproducible — a processing-time timeout would depend on wall-clock
    * batch timing (and, observed on Spark 4.1, stalls the no-data
    * micro-batch loop under MemoryStream tests). */
  def dedupStream(docs: org.apache.spark.sql.Dataset[StreamDoc],
                  watermarkDelay: String = "2 hours",
                  horizonMs: Long = 24L * 3600 * 1000)
      : org.apache.spark.sql.Dataset[StreamDoc] = {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    val spark = docs.sparkSession
    import spark.implicits._
    docs.withWatermark("ts", watermarkDelay)
      .groupByKey(d => contentKey(d.text))
      .flatMapGroupsWithState[SeenState, StreamDoc](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout()) {
        (_: String, events: Iterator[StreamDoc], state: GroupState[SeenState]) =>
          if (state.hasTimedOut) {
            state.remove()
            Iterator.empty
          } else {
            val evs = events.toSeq
            val first =
              if (state.exists) None
              else evs.minByOption(d => (d.ts.getTime, d.doc_id))
            state.update(SeenState(true))
            // sliding horizon past the latest occurrence; the max() guards
            // the must-be-after-watermark contract for very late events
            val maxTs = evs.map(_.ts.getTime).foldLeft(0L)(math.max)
            state.setTimeoutTimestamp(
              math.max(maxTs, state.getCurrentWatermarkMs() + 1) + horizonMs)
            first.iterator
          }
      }
  }

  // ---- custom state: streaming LSH near-dup candidates ------------------

  final case class BandedDoc(band: Int, key: String, doc_id: Long,
                             ts: java.sql.Timestamp)
  final case class BucketState(ids: Seq[Long])
  final case class CandidatePair(id_a: Long, id_b: Long, band: Int, key: String)

  /** Streaming MinHash-LSH near-dup CANDIDATES — the incremental twin of
    * [[graft.operators.Dedup.minHashLshPairs]]: each arriving document is
    * banded with the same signature machinery (stateless column work), and
    * per (band, key) bucket the state holds the ids seen so far; a new doc
    * emits one candidate pair per stored neighbor. Downstream verifies
    * exact similarity and dedups pairs found by several bands, exactly as
    * the batch path does. Buckets cap at `maxBucket` ids (the streaming
    * df-cut: a boilerplate bucket must not emit quadratic pairs) and
    * expire `horizonMs` of EVENT time past their last arrival, so state is
    * bounded by the dedup horizon. In-batch arrival order is normalized to
    * (ts, doc_id), keeping emissions deterministic under replay. */
  def lshCandidateStream(docs: org.apache.spark.sql.Dataset[StreamDoc],
                         n: Int = 5, bands: Int = 4, rowsPerBand: Int = 2,
                         maxBucket: Int = 64,
                         watermarkDelay: String = "2 hours",
                         horizonMs: Long = 24L * 3600 * 1000)
      : org.apache.spark.sql.Dataset[CandidatePair] = {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    val spark = docs.sparkSession
    import spark.implicits._
    val numHashes = bands * rowsPerBand
    val banded = docs.toDF()
      .select(col("doc_id"), col("ts"),
        graft.functions.TextFunctions.minHashSignature(
          graft.functions.ShingleHash.shingle_hashes(col("text"), n),
          numHashes).as("sig"))
      .where(col("sig").getItem(0).isNotNull) // docs with < n tokens band nowhere
      .select(col("doc_id"), col("ts"),
        explode(array((0 until bands).map { b =>
          struct(lit(b).as("band"),
            concat_ws("_", (0 until rowsPerBand).map(r =>
              col("sig").getItem(b * rowsPerBand + r).cast("string")): _*).as("key"))
        }: _*)).as("bk"))
      .select(col("bk.band").as("band"), col("bk.key").as("key"),
        col("doc_id"), col("ts"))
      .withWatermark("ts", watermarkDelay)
      .as[BandedDoc]
    banded.groupByKey(d => s"${d.band}:${d.key}")
      .flatMapGroupsWithState[BucketState, CandidatePair](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout()) {
        (_: String, events: Iterator[BandedDoc], state: GroupState[BucketState]) =>
          if (state.hasTimedOut) {
            state.remove()
            Iterator.empty
          } else {
            val evs = events.toSeq.sortBy(d => (d.ts.getTime, d.doc_id))
            var ids = state.getOption.map(_.ids).getOrElse(Seq.empty)
            val out = collection.mutable.ArrayBuffer[CandidatePair]()
            evs.foreach { d =>
              if (!ids.contains(d.doc_id) && ids.size < maxBucket) {
                ids.foreach { prev =>
                  out += CandidatePair(math.min(prev, d.doc_id),
                    math.max(prev, d.doc_id), d.band, d.key)
                }
                ids = ids :+ d.doc_id
              }
            }
            state.update(BucketState(ids))
            val maxTs = evs.map(_.ts.getTime).foldLeft(0L)(math.max)
            state.setTimeoutTimestamp(
              math.max(maxTs, state.getCurrentWatermarkMs() + 1) + horizonMs)
            out.iterator
          }
      }
  }

  /** Custom arbitrary state (flatMapGroupsWithState): per doc, track the
    * CURRENT run of consecutive suspicious events (score <= threshold)
    * across micro-batches; emit each run when a non-suspicious event
    * closes it, plus the open-run status every batch. This is the shape
    * session_window can't express (state is a reduction, not a window). */
  def suspiciousRuns(scored: org.apache.spark.sql.Dataset[ScoredEvent],
                     threshold: Double)
      : org.apache.spark.sql.Dataset[RunUpdate] = {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    val spark = scored.sparkSession
    import spark.implicits._
    scored.groupByKey(_.doc)
      .flatMapGroupsWithState[RunState, RunUpdate](
        OutputMode.Append, GroupStateTimeout.NoTimeout()) {
        (doc: String, events: Iterator[ScoredEvent], state: GroupState[RunState]) =>
          var cur = state.getOption.getOrElse(RunState(0L, Double.MaxValue))
          val out = collection.mutable.ArrayBuffer[RunUpdate]()
          events.toSeq.sortBy(_.ts.getTime).foreach { e =>
            if (e.score <= threshold) {
              cur = RunState(cur.len + 1, math.min(cur.minScore, e.score))
            } else if (cur.len > 0) {
              out += RunUpdate(doc, cur.len, cur.minScore, closed = true)
              cur = RunState(0L, Double.MaxValue)
            }
          }
          state.update(cur)
          if (cur.len > 0) out += RunUpdate(doc, cur.len, cur.minScore, closed = false)
          out.iterator
      }
  }
}
