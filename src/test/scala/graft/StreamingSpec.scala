package graft

import graft.ml.TopicModel
import graft.operators.Scoring
import graft.streaming.StreamingScore
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import java.sql.Timestamp

/** Structured Streaming behavior: batch-trained model applied to a
  * MemoryStream, windowed aggregation with watermark, sessionization. */
class StreamingSpec extends SparkSpec {

  import spark.implicits._

  private def ts(minute: Int) = Timestamp.valueOf(f"2024-01-01 10:$minute%02d:00")

  "Scoring.score" should "score a MemoryStream with a batch-trained model" in {
    implicit val sqlCtx = spark.sqlContext
    val mixes = Seq(("u1", Seq(1.0, 0.0))).toDF("doc", "topic_mix")
    val probs = Seq(("w1", Seq(0.5, 0.25))).toDF("word", "topic_prob")
    val model = TopicModel.Model(mixes, probs, topicCount = 2)

    val input = MemoryStream[(String, String, Timestamp)]
    input.addData(("u1", "w1", ts(0)), ("u1", "wX", ts(1)), ("uX", "w1", ts(2)))
    val scored = Scoring.score(
      input.toDF().toDF("doc", "word", "ts"), col("doc"), col("word"), model)

    val q = scored.writeStream.format("memory").queryName("scored_out")
      .outputMode("append").start()
    try q.processAllAvailable() finally q.stop()

    val got = spark.table("scored_out")
      .select("doc", "word", "score").as[(String, String, Double)]
      .collect().map { case (d, w, s) => (d, w) -> s }.toMap
    got(("u1", "w1")) shouldBe 0.5 +- 1e-12
    got(("u1", "wX")) shouldBe 0.5 +- 1e-12
    got(("uX", "w1")) shouldBe 0.375 +- 1e-12
  }

  "windowedScores" should "aggregate per tumbling window with watermark" in {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(String, Double, Timestamp)]
    input.addData(("u1", 0.1, ts(5)), ("u1", 0.9, ts(10)), ("u2", 0.2, ts(40)))
    val agg = StreamingScore.windowedScores(
      input.toDF().toDF("doc0", "score", "ts"),
      col("ts"), col("doc0"), threshold = 0.5, windowLen = "30 minutes")

    val q = agg.writeStream.format("memory").queryName("win_out")
      .outputMode("complete").start()
    try q.processAllAvailable() finally q.stop()

    val got = spark.table("win_out")
      .select("doc", "n_events", "n_suspicious").as[(String, Long, Long)]
      .collect().toSet
    got shouldBe Set(("u1", 2L, 1L), ("u2", 1L, 1L))
  }

  "windowedEventStats" should "emit only closed windows in append mode" in {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(String, Long, Timestamp)]
    // two closed 30-min windows + a final partial one (max ts 10:40)
    input.addData(("a", 100L, ts(5)), ("a", 50L, ts(10)), ("b", 10L, ts(20)),
      ("a", 7L, ts(35)), ("b", 3L, ts(40)))
    val agg = StreamingScore.windowedEventStats(
      input.toDF().toDF("k", "cents", "ts"),
      col("ts"), col("k"), col("cents"), windowLen = "20 minutes")
    val q = agg.select(col("window.start").cast("long").as("ws"),
        col("key"), col("n_events"), col("agg_sum"))
      .writeStream.format("memory").queryName("wes_out")
      .outputMode("append").start()
    try q.processAllAvailable() finally q.stop()
    val base = Timestamp.valueOf("2024-01-01 10:00:00").getTime / 1000
    val got = spark.table("wes_out")
      .as[(Long, String, Long, Long)].collect().toSet
    // watermark after the batch = 10:40 → [10:00,10:20) and [10:20,10:40)
    // are closed and emitted; [10:40,11:00) stays in state
    got shouldBe Set(
      (base, "a", 2L, 150L),
      (base + 1200, "b", 1L, 10L),
      (base + 1200, "a", 1L, 7L))
  }

  "sessionize (append)" should "emit only sessions closed at the final watermark" in {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(String, Timestamp)]
    // a: session [10:00,10:10] ends 10:30 < wm → emitted; [10:50] ends
    // 11:10 > wm → held. b: [10:30] ends exactly AT wm 10:50 — pins the
    // inclusive boundary (end <= watermark emits).
    input.addData(("a", ts(0)), ("a", ts(10)), ("a", ts(50)), ("b", ts(30)))
    val sess = StreamingScore.sessionize(
      input.toDF().toDF("k", "ts"), col("ts"), col("k"),
      gap = "20 minutes", watermark = "0 seconds")
    val q = sess.select(col("doc"), col("n_events"),
        col("first_event").cast("long").as("fs"))
      .writeStream.format("memory").queryName("sess_out")
      .outputMode("append").start()
    try q.processAllAvailable() finally q.stop()
    val base = Timestamp.valueOf("2024-01-01 10:00:00").getTime / 1000
    spark.table("sess_out").as[(String, Long, Long)].collect().toSet shouldBe
      Set(("a", 2L, base), ("b", 1L, base + 1800))
  }

  "suspiciousRuns" should "carry run state across micro-batches" in {
    import StreamingScore.{ScoredEvent, RunUpdate}
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[ScoredEvent]
    val runs = StreamingScore.suspiciousRuns(input.toDS(), threshold = 0.5)
    val q = runs.writeStream.format("memory").queryName("runs_out")
      .outputMode("append").start()
    try {
      // batch 1: two suspicious events → open run of 2
      input.addData(ScoredEvent("u1", 0.1, ts(0)), ScoredEvent("u1", 0.3, ts(1)))
      q.processAllAvailable()
      // batch 2: a third suspicious, then a benign event closes the run at 3
      input.addData(ScoredEvent("u1", 0.2, ts(2)), ScoredEvent("u1", 0.9, ts(3)))
      q.processAllAvailable()
    } finally q.stop()
    val got = spark.table("runs_out").as[RunUpdate].collect()
    got.filter(r => r.closed) should contain only
      RunUpdate("u1", 3L, 0.1, closed = true)
    got.filter(r => !r.closed).map(_.run_length) should contain (2L)
  }

  "dedupStream" should "emit only the first occurrence of each text across batches" in {
    import StreamingScore.StreamDoc
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[StreamDoc]
    val deduped = StreamingScore.dedupStream(input.toDS())
    val q = deduped.writeStream.format("memory").queryName("dedup_out")
      .outputMode("append").start()
    try {
      // batch 1: "a" twice (in-batch dup; min ts wins), "b" once
      input.addData(StreamDoc(1L, "a", ts(0)), StreamDoc(2L, "a", ts(1)),
        StreamDoc(3L, "b", ts(2)))
      q.processAllAvailable()
      // batch 2: "a" again (cross-batch dup, dropped), "c" new
      input.addData(StreamDoc(4L, "a", ts(3)), StreamDoc(5L, "c", ts(4)))
      q.processAllAvailable()
    } finally q.stop()
    val got = spark.table("dedup_out").as[StreamDoc].collect()
      .map(d => d.doc_id -> d.text).toSet
    got shouldBe Set(1L -> "a", 3L -> "b", 5L -> "c")
  }

  "Corpus.c4LineFilter" should
    "clean a stream stateless-map-only, matching its batch output" in {
    import StreamingScore.StreamDoc
    implicit val sqlCtx = spark.sqlContext
    val docs = Seq(
      StreamDoc(1L, "One good line ends with a period right here.\n" +
        "Another good line also ends with terminal punctuation!\n" +
        "Does a third line with a question mark count too?", ts(0)),
      StreamDoc(2L, "short.\nno punct", ts(1)))
    val input = MemoryStream[StreamDoc]
    input.addData(docs: _*)
    // the SAME operator call works on the streaming frame — it is pure
    // per-row column expressions, so append mode needs no state/watermark
    val q = graft.operators.Corpus.c4LineFilter(
        input.toDF(), col("doc_id"), col("text"))
      .writeStream.format("memory").queryName("c4_out")
      .outputMode("append").start()
    try q.processAllAvailable() finally q.stop()
    val streamed = spark.table("c4_out")
      .as[(Long, Long, Long, Boolean, Option[String])].collect().toSet
    val batch = graft.operators.Corpus.c4LineFilter(
        docs.toDF(), col("doc_id"), col("text"))
      .as[(Long, Long, Long, Boolean, Option[String])].collect().toSet
    streamed shouldBe batch
    streamed.map(r => r._1 -> r._4).toMap shouldBe Map(1L -> true, 2L -> false)
  }

  "Normalize.normalizeText" should
    "clean a stream stateless-map-only, matching its batch output" in {
    import StreamingScore.StreamDoc
    implicit val sqlCtx = spark.sqlContext
    val docs = Seq(
      StreamDoc(1L, "  Café\t du  monde ", ts(0)),
      StreamDoc(2L, "plain text stays", ts(1)))
    val input = MemoryStream[StreamDoc]
    input.addData(docs: _*)
    def clean(df: org.apache.spark.sql.DataFrame) =
      df.select(col("doc_id"),
        graft.functions.Normalize.normalizeText(col("text")).as("clean"))
    val q = clean(input.toDF()).writeStream.format("memory")
      .queryName("norm_out").outputMode("append").start()
    try q.processAllAvailable() finally q.stop()
    val streamed = spark.table("norm_out").as[(Long, String)].collect().toSet
    streamed shouldBe clean(docs.toDF()).as[(Long, String)].collect().toSet
    streamed shouldBe Set(1L -> "Café du monde", 2L -> "plain text stays")
  }

  "lshCandidateStream" should "pair new docs against bucket history across batches" in {
    import StreamingScore.{CandidatePair, StreamDoc}
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[StreamDoc]
    val cands = StreamingScore.lshCandidateStream(input.toDS(),
      n = 3, bands = 4, rowsPerBand = 2)
    val q = cands.writeStream.format("memory").queryName("lsh_out")
      .outputMode("append").start()
    try {
      input.addData(
        StreamDoc(1L, "the quick brown fox jumps over the lazy dog", ts(0)),
        StreamDoc(4L, "completely different text about spark engines here", ts(1)))
      q.processAllAvailable()
      // identical doc arrives later: must pair with the stored history
      input.addData(
        StreamDoc(2L, "the quick brown fox jumps over the lazy dog", ts(2)))
      q.processAllAvailable()
    } finally q.stop()
    val got = spark.table("lsh_out").as[CandidatePair].collect()
      .map(p => (p.id_a, p.id_b)).toSet
    got should contain((1L, 2L))   // cross-batch duplicate found
    got should not contain ((1L, 4L)) // unrelated docs share no bucket
  }

  // The recovery pair below restarts each stateful stream from its
  // checkpoint (the memory sink refuses recovery, so the sink is
  // foreachBatch into a driver buffer — the production recovery shape).

  "dedupStream" should "recover its seen-set from a checkpoint across a restart" in {
    import StreamingScore.StreamDoc
    implicit val sqlCtx = spark.sqlContext
    val ckpt = java.nio.file.Files.createTempDirectory("dedup_ckpt").toString
    val input = MemoryStream[StreamDoc]
    def start(buf: collection.mutable.ArrayBuffer[StreamDoc]) =
      StreamingScore.dedupStream(input.toDS())
        .writeStream
        .foreachBatch { (ds: org.apache.spark.sql.Dataset[StreamDoc], _: Long) =>
          buf.synchronized { buf ++= ds.collect() }; ()
        }
        .option("checkpointLocation", ckpt)
        .outputMode("append").start()

    val before = collection.mutable.ArrayBuffer[StreamDoc]()
    val q1 = start(before)
    try {
      input.addData(StreamDoc(1L, "x", ts(0)), StreamDoc(2L, "y", ts(1)))
      q1.processAllAvailable()
    } finally q1.stop()
    before.map(_.doc_id).toSet shouldBe Set(1L, 2L)

    // restart from the checkpoint: batch-1 offsets are committed (nothing
    // re-emitted into the fresh buffer) and the seen-set state is intact
    // (the cross-restart duplicate of "x" must stay suppressed)
    val after = collection.mutable.ArrayBuffer[StreamDoc]()
    val q2 = start(after)
    try {
      input.addData(StreamDoc(3L, "x", ts(3)), StreamDoc(4L, "z", ts(4)))
      q2.processAllAvailable()
    } finally q2.stop()
    after.map(_.doc_id).toSet shouldBe Set(4L)
  }

  "lshCandidateStream" should "recover bucket history from a checkpoint across a restart" in {
    import StreamingScore.{CandidatePair, StreamDoc}
    implicit val sqlCtx = spark.sqlContext
    val ckpt = java.nio.file.Files.createTempDirectory("lsh_ckpt").toString
    val text = "the quick brown fox jumps over the lazy dog"
    val input = MemoryStream[StreamDoc]
    def start(buf: collection.mutable.ArrayBuffer[CandidatePair]) =
      StreamingScore.lshCandidateStream(input.toDS(), n = 3, bands = 4,
          rowsPerBand = 2)
        .writeStream
        .foreachBatch { (ds: org.apache.spark.sql.Dataset[CandidatePair], _: Long) =>
          buf.synchronized { buf ++= ds.collect() }; ()
        }
        .option("checkpointLocation", ckpt)
        .outputMode("append").start()

    val before = collection.mutable.ArrayBuffer[CandidatePair]()
    val q1 = start(before)
    try {
      input.addData(StreamDoc(1L, text, ts(0)), StreamDoc(2L, text, ts(1)))
      q1.processAllAvailable()
    } finally q1.stop()
    before.map(p => (p.id_a, p.id_b)).toSet shouldBe Set((1L, 2L))

    // restart: the recovered buckets still hold ids 1 and 2 — a third
    // duplicate pairs against BOTH, and the old (1,2) pair is not re-emitted
    val after = collection.mutable.ArrayBuffer[CandidatePair]()
    val q2 = start(after)
    try {
      input.addData(StreamDoc(3L, text, ts(3)))
      q2.processAllAvailable()
    } finally q2.stop()
    after.map(p => (p.id_a, p.id_b)).toSet shouldBe Set((1L, 3L), (2L, 3L))
  }

  "sessionize" should "split events into gap-based sessions" in {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(String, Timestamp)]
    // u1: 10:00, 10:10 (one session), then 10:55 (new session, gap > 30m)
    input.addData(("u1", ts(0)), ("u1", ts(10)), ("u1", ts(55)))
    val sess = StreamingScore.sessionize(
      input.toDF().toDF("user", "ts"), col("ts"), col("user"), gap = "30 minutes")

    val q = sess.writeStream.format("memory").queryName("sess_out")
      .outputMode("complete").start()
    try q.processAllAvailable() finally q.stop()

    val got = spark.table("sess_out")
      .select("doc", "n_events").as[(String, Long)].collect().toSet
    got shouldBe Set(("u1", 2L), ("u1", 1L))
  }

  it should "produce the same session boundaries as batch Sessions (parity)" in {
    import graft.operators.Sessions
    implicit val sqlCtx = spark.sqlContext
    def sec(h: Int, m: Int, s: Int) = Timestamp.valueOf(f"2024-01-01 $h%02d:$m%02d:$s%02d")
    // the shapes that decide twin-ness:
    //  u1: 10:00 + 10:10 merge; 10:40 is EXACTLY gapSeconds after 10:10 —
    //      session_window MERGES adjacent windows at the boundary (this
    //      test empirically falsified the earlier ">= splits" reading, and
    //      Sessions.assign was aligned to the streaming behavior: only a
    //      STRICTLY larger gap splits); 10:41 merges too → one 4-event run
    //  u2: gaps of 29:59 twice — one 3-event session
    //  u3: a single event
    val fixture = Seq(
      ("u1", sec(10, 0, 0)), ("u1", sec(10, 10, 0)),
      ("u1", sec(10, 40, 0)), ("u1", sec(10, 41, 0)),
      ("u2", sec(9, 0, 0)), ("u2", sec(9, 29, 59)), ("u2", sec(9, 59, 58)),
      ("u3", sec(12, 0, 0)))

    val batch = Sessions.sessions(
        fixture.toDF("user", "ts"), col("user"), col("ts"), col("ts"),
        gapSeconds = 1800L)
      .select(col("key"), col("first_us"), col("last_us"), col("n_events"))
      .as[(String, Long, Long, Long)].collect().toSet

    val input = MemoryStream[(String, Timestamp)]
    input.addData(fixture: _*)
    val sess = StreamingScore.sessionize(
      input.toDF().toDF("user", "ts"), col("ts"), col("user"), gap = "30 minutes")
    val q = sess.writeStream.format("memory").queryName("sess_parity_out")
      .outputMode("complete").start()
    try q.processAllAvailable() finally q.stop()
    val streaming = spark.table("sess_parity_out")
      .select(col("doc"), unix_micros(col("first_event")),
        unix_micros(col("last_event")), col("n_events"))
      .as[(String, Long, Long, Long)].collect().toSet

    // identical (key, first, last, count) per session — the claimed
    // batch/streaming twin-ness, checked instead of asserted in prose
    streaming shouldBe batch
    batch.size shouldBe 3 // u1×1 (the boundary merge held), u2×1, u3×1
  }

  "windowedDistinctSketch" should "merge HLL registers across micro-batches (stream == batch)" in {
    implicit val sqlCtx = spark.sqlContext
    import graft.functions.PolyHash
    import graft.operators.Sketches
    // 400 users in one window, arriving over THREE micro-batches — the
    // state-store register array must merge to the same bytes one batch
    // (or one batch partition) would produce
    val rows = (1 to 400).map(i => (s"u$i", i.toLong, ts(i % 50)))
    val input = MemoryStream[(String, Long, Timestamp)]
    val sketched = StreamingScore.windowedDistinctSketch(
      input.toDF().toDF("user", "uid", "ts")
        .withColumn("h", PolyHash.poly_hash(
          concat(lit("u:"), col("uid").cast("string")), 31L)),
      col("ts"), lit("all"), col("h"))
    val q = sketched.select(col("hll.nonzero"), col("hll.sum_scaled"),
        col("hll.estimate"))
      .writeStream.format("memory").queryName("hll_stream_out")
      .outputMode("complete").start()
    try {
      rows.grouped(150).foreach { batch =>
        input.addData(batch: _*); q.processAllAvailable()
      }
    } finally q.stop()
    val streamed = spark.table("hll_stream_out")
      .as[(Int, Long, Double)].collect().head
    val batch = Sketches.hllDistinct(
        rows.toDF("user", "uid", "ts").withColumn("h", PolyHash.poly_hash(
          concat(lit("u:"), col("uid").cast("string")), 31L)),
        Seq(lit("all")), col("h"))
      .select(col("nonzero"), col("sum_scaled"), col("estimate"))
      .as[(Int, Long, Double)].collect().head
    streamed shouldBe batch
    streamed._3 shouldBe 400.0 +- 20.0
  }

  "streamIntervalJoin" should "match rows ACROSS micro-batches via join state" in {
    implicit val sqlCtx = spark.sqlContext
    val left = MemoryStream[(Long, String, Timestamp)]
    val right = MemoryStream[(Long, String, Timestamp)]
    val joined = StreamingScore.streamIntervalJoin(
      left.toDF().toDF("event_id", "user", "ts"),
      right.toDF().toDF("marker_id", "user", "mts"),
      key = "user", leftTs = "ts", rightTs = "mts",
      lookback = "30 minutes", watermark = "2 hours")
    val q = joined.select(col("event_id"), col("marker_id"))
      .writeStream.format("memory").queryName("ssj_out")
      .outputMode("append").start()
    try {
      // batch 1: a marker arrives FIRST, its events later (and vice versa)
      right.addData((100L, "u1", ts(0)))
      q.processAllAvailable()
      left.addData((1L, "u1", ts(10)), // matches marker 100 (10 min back)
        (2L, "u1", ts(45)), // 45 min back — outside the 30-min lookback
        (3L, "u2", ts(10))) // wrong key
      q.processAllAvailable()
      // batch 3: late-arriving marker must still match event 2 from state
      right.addData((200L, "u1", ts(40)))
      q.processAllAvailable()
    } finally q.stop()
    spark.table("ssj_out").as[(Long, Long)].collect().toSet shouldBe
      Set((1L, 100L), (2L, 200L))
  }

  "MergeSink.mergeBatch" should "fold batches into latest-per-key regardless of split" in {
    import graft.streaming.MergeSink
    val root = java.nio.file.Files.createTempDirectory("merge").toString
    def row(k: String, t: Long, id: Long, v: String) = (k, t, id, v)
    val all = Seq(row("a", 10, 1, "a@10"), row("a", 30, 3, "a@30"),
      row("b", 20, 2, "b@20"), row("a", 20, 5, "a@20"),
      row("b", 40, 4, "b@40"), row("c", 5, 6, "c@5"))
    def read(p: String) = spark.read.parquet(p)
      .select("k", "v").as[(String, String)].collect().toSet
    val want = Set("a" -> "a@30", "b" -> "b@40", "c" -> "c@5")
    // one batch vs three batches (out of time order) converge identically
    val p1 = s"$root/one"
    MergeSink.mergeBatch(spark, all.toDF("k", "t", "id", "v"),
      Seq("k"), Seq("t", "id"), p1, numBuckets = 4)
    read(p1) shouldBe want
    val p3 = s"$root/three"
    all.grouped(2).foreach { chunk =>
      MergeSink.mergeBatch(spark, chunk.toDF("k", "t", "id", "v"),
        Seq("k"), Seq("t", "id"), p3, numBuckets = 4)
    }
    read(p3) shouldBe want
    // re-delivery of an already-applied batch is a no-op (idempotent)
    MergeSink.mergeBatch(spark, all.take(2).toDF("k", "t", "id", "v"),
      Seq("k"), Seq("t", "id"), p3, numBuckets = 4)
    read(p3) shouldBe want
    // an untouched bucket's files survive a batch that doesn't touch it:
    // dynamic overwrite only rewrites the buckets the batch hits
    val filesBefore = new java.io.File(p3).listFiles().map(_.getName).toSet
    val lone = Seq(row("a", 50, 9, "a@50")).toDF("k", "t", "id", "v")
    MergeSink.mergeBatch(spark, lone, Seq("k"), Seq("t", "id"), p3,
      numBuckets = 4)
    val filesAfter = new java.io.File(p3).listFiles().map(_.getName).toSet
    // kb partitions not containing key "a" must still be present
    filesAfter.intersect(filesBefore).size should be >= 1
    read(p3) shouldBe Set("a" -> "a@50", "b" -> "b@40", "c" -> "c@5")
  }

  it should "write one data file per touched bucket per batch" in {
    import graft.streaming.MergeSink
    // r12 layout fix: without the pre-write repartition(kb), every task
    // holding rows of a bucket opened its own writer (≤ tasks × buckets
    // fragments per batch); the state table must stay one-file-per-bucket
    val root = java.nio.file.Files.createTempDirectory("mergef").toString
    val p = s"$root/state"
    // 200 keys spread over every bucket, one batch
    val rows = (1 to 200).map(i => (s"k$i", i.toLong, i.toLong, s"v$i"))
    MergeSink.mergeBatch(spark, rows.toDF("k", "t", "id", "v"),
      Seq("k"), Seq("t", "id"), p, numBuckets = 8)
    val buckets = new java.io.File(p).listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("kb="))
    buckets.length shouldBe 8
    buckets.foreach { d =>
      val dataFiles = d.listFiles().filter(_.getName.endsWith(".parquet"))
      withClue(s"bucket ${d.getName}: ") { dataFiles.length shouldBe 1 }
    }
  }

  "MergeSink.upsertStream" should "drain a MemoryStream into the state table" in {
    import graft.streaming.MergeSink
    implicit val sqlCtx = spark.sqlContext
    val root = java.nio.file.Files.createTempDirectory("mergeq").toString
    val input = MemoryStream[(String, Long, Long, String)]
    input.addData(("a", 10L, 1L, "a@10"), ("b", 20L, 2L, "b@20"))
    val q = MergeSink.upsertStream(
      input.toDF().toDF("k", "t", "id", "v"), Seq("k"), Seq("t", "id"),
      s"$root/state", s"$root/ckpt", numBuckets = 4,
      trigger = org.apache.spark.sql.streaming.Trigger.ProcessingTime(0))
    try {
      q.processAllAvailable()
      input.addData(("a", 30L, 3L, "a@30"), ("c", 5L, 4L, "c@5"))
      q.processAllAvailable()
    } finally q.stop()
    spark.read.parquet(s"$root/state").select("k", "v")
      .as[(String, String)].collect().toSet shouldBe
      Set("a" -> "a@30", "b" -> "b@20", "c" -> "c@5")
  }
}
