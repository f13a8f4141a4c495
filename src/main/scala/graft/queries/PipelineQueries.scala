package graft.queries

import graft.Tables
import graft.functions.{Binning, Entropy, FlowWords, TimeFunctions}
import graft.ml.TopicModel
import graft.operators.Corpus
import graft.pipelines.{DnsPipeline, EventsPipeline, FlowPipeline, ProxyPipeline, SuspiciousConnects}
import graft.pipelines.SuspiciousConnects.popularFrame
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The reference's three word-construction pipelines (SURVEY.md §2.9
  * F8/F9/F10) and the weighted-feedback corpus (§2.7 U1 + §2.8 E1 + §2.4
  * A1), run over fabricated network-shaped projections of the harness
  * tables with FIXED quantile cuts so every step has an exact DuckDB twin.
  * The LDA pipeline itself has no SQL twin → rows-only check.
  */
object PipelineQueries {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    Tables.loadSpread(s, dir, name) // spread under-split scans (Tables doc)

  /** One golden run and the quality ratio its tripwire measured: train on
    * `input` → training-quality tripwire ([[TopicModel.assertQuality]]: LDA
    * has no SQL twin, so the perplexity band turns a silent training
    * regression into a non-null gate err) → the fixture's `columns` of the
    * pipeline's ranked rows, the top 100 with `tiebreak` ordering ties. */
  private def goldenRun(p: SuspiciousConnects, input: DataFrame, popular: Set[String],
                        topicCount: Int, tiebreak: Seq[String],
                        columns: String*): (DataFrame, Double) = {
    val model = p.train(input, popularFrame(input.sparkSession, popular), topicCount)
    val ratio = TopicModel.assertQuality(model.topics, p.scoringCorpus(input, model),
      p.PerplexityBand, s"${p.name} LDA")
    (p.ranked(input, model, threshold = 1.0, topK = 100, tiebreak.map(col))
      .select(columns.map(col): _*), ratio)
  }

  private def eventsRun(s: SparkSession, dir: String): (DataFrame, Double) =
    goldenRun(EventsPipeline, t(s, dir, "events"), Set.empty, 10, Nil,
      "event_id", "user_id", "event_type", "word", "score")

  /** The four golden train+score runs shared by [[graft.GoldenGen]] (which
    * writes the committed fixtures) and the `pipe_*_golden` gates (which
    * re-run fresh and compare): deterministic fabrications of the harness
    * tables, seeded training over [[graft.ml.TopicModel]]'s pinned
    * core-count-independent layout, and a unique-id tiebreak so the
    * top-100 is a TOTAL-order pure function of the corpus — the same run
    * under local[4], local[32], or a cluster must reproduce every line.
    * Each is a [[goldenRun]] keyed `pipe_<pipeline>_sf001`. */
  def goldenRuns: Map[String, (SparkSession, String) => DataFrame] = Map(
    "pipe_events_sf001" -> ((s, dir) => eventsRun(s, dir)._1),
    "pipe_flow_sf001" -> ((s, dir) => goldenRun(FlowPipeline,
      Fabrications.flowInput(t(s, dir, "events")), Set.empty, 5, Seq("event_id"),
      "event_id", "sip", "dip", "src_word", "dst_word", "score")._1),
    "pipe_dns_sf001" -> ((s, dir) => goldenRun(DnsPipeline,
      Fabrications.dnsInput(t(s, dir, "documents")), Fabrications.DnsPopular, 5,
      Seq("doc_id"), "doc_id", "ip_dst", "word", "score")._1),
    "pipe_proxy_sf001" -> ((s, dir) => goldenRun(ProxyPipeline,
      Fabrications.proxyInput(t(s, dir, "events")), Set.empty, 5, Seq("event_id"),
      "event_id", "clientip", "word", "score")._1))

  /** A golden-compare gate body: run the named [[goldenRuns]] entry fresh,
    * compare its rendered rows as a multiset against the committed fixture,
    * and emit one summary row whose values are constants IFF they match
    * (the oracle twin IS those constants). Valid at the driver's sf0.01
    * only (the fixtures are that corpus); the collect is topK=100-bounded. */
  private def goldenGate(fixture: String): (SparkSession, String) => DataFrame =
    (s, dir) => {
      val fresh = goldenRuns(fixture)(s, dir)
        .collect().map(graft.GoldenGen.line).sorted
      val in = getClass.getResourceAsStream(
        s"/graft/fixtures/golden/$fixture.tsv")
      require(in != null, s"missing golden fixture $fixture — run graft.GoldenGen")
      val golden =
        try scala.io.Source.fromInputStream(in, "UTF-8").getLines()
          .filter(_.nonEmpty).toArray.sorted
        finally in.close()
      val gcount = golden.groupBy(identity).view.mapValues(_.length).toMap
      val matching = fresh.groupBy(identity)
        .map { case (k, fs) => math.min(fs.length, gcount.getOrElse(k, 0)) }
        .sum
      import s.implicits._
      Seq((fresh.length.toLong, golden.length.toLong, matching.toLong,
          fresh.length == golden.length && matching == golden.length))
        .toDF("n_fresh", "n_golden", "n_matching", "matches_golden")
    }

  /** The constants a golden gate emits on an exact fixture match. */
  private val GoldenTwin =
    """SELECT 100::BIGINT AS n_fresh, 100::BIGINT AS n_golden,
      |       100::BIGINT AS n_matching, TRUE AS matches_golden""".stripMargin

  private val LenCuts = Fabrications.DnsCuts("frame_len").toSeq
  private val TimeCuts = Fabrications.DnsCuts("time").toSeq
  private val SubLenCuts = Fabrications.DnsCuts("sub_len").toSeq
  private val EntCuts = Fabrications.DnsCuts("entropy").toSeq
  private val PerCuts = Fabrications.DnsCuts("periods").toSeq

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // F9: the 8-component DNS word (reference: DNSWordCreation.scala:215-236).
    "pipe_dns_words" -> ((s, dir) =>
      DnsPipeline.featurizeWithLookup(DnsPipeline.withSubdomains(
          Fabrications.dnsInput(t(s, dir, "documents"))),
          Fabrications.DnsCuts, popularFrame(s, Fabrications.DnsPopular))
        .select("doc_id", "word")),

    // F10: the 7-component proxy word (reference: ProxyWordCreation.scala:
    // 30-51) with the agent-count broadcast-join aggregate (J3/A2).
    "pipe_proxy_words" -> ((s, dir) => {
      val ev = t(s, dir, "events")
        .withColumn("p_time", date_format(col("ts"), "HH:mm:ss"))
        .withColumn("fulluri",
          concat(lit("http://host/"), col("event_type"), lit("?k="), col("props")))
        .withColumn("useragent", col("event_type"))
        .withColumn("respcode", (lit(200) + col("event_id") % 3 * 100).cast("string"))
        .withColumn("resconttype",
          when(col("event_id") % 2 === 0, lit("text/plain")).otherwise(lit("image/png")))
      val agentCounts = ev.groupBy("useragent").agg(count(lit(1)).as("agent_count"))
      ev.join(broadcast(agentCounts), Seq("useragent"))
        .select(col("event_id"), concat_ws("_",
          lit("0"),
          Binning.binCol(TimeFunctions.seconds_of_day(col("p_time")) / lit(100.0),
            TimeCuts),
          col("event_type"),
          Binning.binCol(Entropy.string_entropy(col("fulluri")), EntCuts),
          split(col("resconttype"), "/").getItem(0),
          Binning.binCol(col("agent_count").cast("double") / lit(10.0), LenCuts),
          substring(col("respcode"), 1, 1)).as("word"))}),

    // U1+E1+A1: weighted-feedback corpus — raw events ∪ a "confirmed"
    // subset weighted ×1000, aggregated once (the weight is a count
    // multiplier, not a row explosion).
    "pipe_feedback_corpus" -> ((s, dir) => {
      val ev = t(s, dir, "events")
        .select(col("user_id"), col("event_type"), lit(1L).as("w"))
      val feedback = t(s, dir, "events")
        .where(col("event_id") % 100 === 0)
        .select(col("user_id"), col("event_type"), lit(1000L).as("w"))
      Corpus.wordCounts(ev.union(feedback),
        col("user_id"), col("event_type"), col("w"))}),

    // A4: legacy model.dat corpus export — group-concat of sorted sparse
    // (word_id:count) pairs per doc over TopicModel's driver dictionary.
    "a4_corpus_export" -> ((s, dir) => {
      val wc = Corpus.wordCounts(t(s, dir, "events"),
        col("user_id"), col("event_type"))
      graft.ml.ModelIO.exportCorpus(wc)._1}),

    // Full suspicious-connects pipeline: the events golden run, whose
    // perplexity band makes a training regression a non-null err on this
    // rows-only gate. The result also CARRIES its evidence: the measured
    // perplexity/uniform ratio and the pinned band ride along as constant
    // columns, so the dumped parquet shows how far inside the band the
    // training landed instead of only pass/fail.
    "pipe_events_suspicious" -> ((s, dir) => {
      val (out, ratio) = eventsRun(s, dir)
      out.withColumn("quality_ratio", lit(math.rint(ratio * 1e6) / 1e6))
        .withColumn("quality_band", lit(EventsPipeline.PerplexityBand))}),

    // LDA-TRAINING DETERMINISM, driver-checked: the one property of the
    // no-oracle quartet a SQL twin CAN gate. The trained events pipeline
    // runs twice in-process with the same seed; the gate emits one
    // summary row whose values are constants IFF the two runs are
    // bit-identical (string repr catches any float divergence), and the
    // twin IS those constants — so any nondeterminism in featurize /
    // LDA fit / scoring order hash-reds the gate. Both result sets are
    // topK=100 rows: the collect is bounded by construction.
    "pipe_events_determinism" -> ((s, dir) => {
      def once(): Array[String] =
        goldenRuns("pipe_events_sf001")(s, dir).collect().map(_.toString).sorted
      val a = once()
      val b = once()
      val ca = a.groupBy(identity).view.mapValues(_.size).toMap
      val matching = b.groupBy(identity)
        .map { case (k, bs) => math.min(bs.size, ca.getOrElse(k, 0)) }.sum
      import s.implicits._
      Seq((a.length.toLong, b.length.toLong, matching.toLong,
          a.length == b.length && matching == a.length))
        .toDF("n_run1", "n_run2", "n_matching", "deterministic")}),

    // PINNED-MODEL GOLDENS, driver-checked: committed fixtures of one
    // seeded sf0.01 train+score per pipeline (graft.GoldenGen), each gate
    // re-training fresh and comparing line-for-line (see [[goldenGate]]).
    // Determinism pins same-process repeatability and the perplexity band
    // bounds quality, but only a committed golden output catches a
    // cross-version optimizer change (MLlib upgrade, hyperparameter
    // default drift) that lands inside the band — and the training
    // layout-invariance pin (TopicModel.TrainLayoutPartitions) is what
    // makes the same fixture valid under ANY session core count.
    // Each golden run checks its perplexity band before its result is
    // exact-compared.
    "pipe_events_golden" -> goldenGate("pipe_events_sf001"),
    "pipe_flow_golden" -> goldenGate("pipe_flow_sf001"),
    "pipe_dns_golden" -> goldenGate("pipe_dns_sf001"),
    "pipe_proxy_golden" -> goldenGate("pipe_proxy_sf001")
  )

  private def binSql(e: String, cuts: Seq[Double]): String = Binning.binSql(e, cuts)

  private val entropySqlOf = (e: String) =>
    s"""(SELECT coalesce(sum(-(c::DOUBLE / tot) * log10(c::DOUBLE / tot) / log10(2)), 0.0)
       | FROM (SELECT count(*) AS c, sum(count(*)) OVER () AS tot
       |       FROM (SELECT unnest(string_split($e, '')) AS ch) GROUP BY ch))""".stripMargin

  // NOTE: these oracles assume the harness generator's ASCII-only synthetic
  // text (the char-hash/entropy twins iterate code points identically only
  // for ASCII) and mirror Domains.withTopDomainClass's full 2/1/0 ladder,
  // including the reference's hard-coded "intel" safe class.
  val oracles: Map[String, String] = Map(
    "pipe_dns_words" ->
      s"""WITH base AS (
         |  SELECT doc_id, source, n_chars,
         |    CASE WHEN doc_id % 4 = 0 THEN 'api.cdn.' || source || '.com'
         |         WHEN doc_id % 4 = 1 THEN source || '.com.mx'
         |         WHEN doc_id % 4 = 2 THEN '9.8.7.6.in-addr.arpa'
         |         ELSE source || '.net' END AS qname,
         |    doc_id % 500 AS unix_tstamp,
         |    (doc_id % 4)::INT AS qry_type, (doc_id % 3)::INT AS rcode
         |  FROM documents),
         |sub AS (
         |  SELECT *,
         |    CASE WHEN doc_id % 4 IN (0, 1) THEN source ELSE 'None' END AS domain,
         |    CASE WHEN doc_id % 4 = 0 THEN 'api.cdn' ELSE 'None' END AS subdomain,
         |    CASE WHEN doc_id % 4 = 0 THEN 7.0 ELSE 0.0 END AS sublen,
         |    CASE WHEN doc_id % 4 = 0 THEN 4.0 WHEN doc_id % 4 = 1 THEN 3.0
         |         WHEN doc_id % 4 = 2 THEN 6.0 ELSE 2.0 END AS nper,
         |    CASE WHEN doc_id % 4 = 0
         |         THEN ${entropySqlOf("'api.cdn'")} ELSE 0.0 END AS sent
         |  FROM base)
         |SELECT doc_id,
         |  (CASE WHEN domain = 'intel' THEN 2
         |        WHEN domain IN ('src1', 'src3', 'src5') THEN 1
         |        ELSE 0 END)::VARCHAR
         |  || '_' || ${binSql("n_chars::DOUBLE", LenCuts)}::VARCHAR
         |  || '_' || ${binSql("unix_tstamp::DOUBLE", TimeCuts)}::VARCHAR
         |  || '_' || ${binSql("sublen", SubLenCuts)}::VARCHAR
         |  || '_' || ${binSql("sent", EntCuts)}::VARCHAR
         |  || '_' || ${binSql("nper", PerCuts)}::VARCHAR
         |  || '_' || qry_type::VARCHAR || '_' || rcode::VARCHAR AS word
         |FROM sub""".stripMargin,

    "pipe_proxy_words" ->
      s"""WITH ev AS (
         |  SELECT event_id, event_type,
         |    strftime(ts, '%H:%M:%S') AS p_time,
         |    'http://host/' || event_type || '?k=' || props AS fulluri,
         |    (200 + event_id % 3 * 100)::VARCHAR AS respcode,
         |    CASE WHEN event_id % 2 = 0 THEN 'text/plain' ELSE 'image/png' END AS ct
         |  FROM events),
         |ac AS (SELECT event_type, count(*) AS agent_count FROM ev GROUP BY 1),
         |j AS (
         |  SELECT ev.*, ac.agent_count,
         |    (3600 * hour(ts2) + 60 * minute(ts2) + second(ts2))::DOUBLE AS secs,
         |    ${entropySqlOf("fulluri")} AS ent
         |  FROM (SELECT *, strptime(p_time, '%H:%M:%S') AS ts2 FROM ev) ev
         |  JOIN ac USING (event_type))
         |SELECT event_id,
         |  '0_' || ${binSql("secs / 100.0", TimeCuts)}::VARCHAR
         |  || '_' || event_type
         |  || '_' || ${binSql("ent", EntCuts)}::VARCHAR
         |  || '_' || string_split(ct, '/')[1]
         |  || '_' || ${binSql("agent_count::DOUBLE / 10.0", LenCuts)}::VARCHAR
         |  || '_' || substr(respcode, 1, 1) AS word
         |FROM j""".stripMargin,

    "a4_corpus_export" ->
      """WITH wc AS (
        |  SELECT user_id::VARCHAR AS doc, event_type AS word, count(*) AS cnt
        |  FROM events GROUP BY 1, 2),
        |dict AS (
        |  SELECT word, row_number() OVER (ORDER BY word) - 1 AS word_id
        |  FROM (SELECT DISTINCT word FROM wc))
        |SELECT doc,
        |       count(*)::VARCHAR || ' ' ||
        |       string_agg(word_id::VARCHAR || ':' || cnt::VARCHAR, ' '
        |                  ORDER BY word_id) AS line
        |FROM wc JOIN dict USING (word) GROUP BY doc""".stripMargin,

    "pipe_feedback_corpus" ->
      """SELECT user_id::VARCHAR AS doc, event_type AS word, sum(w)::BIGINT AS count
        |FROM (
        |  SELECT user_id, event_type, 1::BIGINT AS w FROM events
        |  UNION ALL
        |  SELECT user_id, event_type, 1000::BIGINT AS w FROM events
        |  WHERE event_id % 100 = 0)
        |GROUP BY 1, 2""".stripMargin,

    // the determinism twin: the constants the gate emits iff two
    // same-seed trained runs are bit-identical — LDA itself has no SQL
    // twin, but seed-stability of the WHOLE trained pipeline does
    "pipe_events_determinism" ->
      """SELECT 100::BIGINT AS n_run1, 100::BIGINT AS n_run2,
        |       100::BIGINT AS n_matching, TRUE AS deterministic""".stripMargin,

    // the golden twins: the constants each gate emits iff a fresh seeded
    // train+score reproduces its committed fixture bit-for-bit
    "pipe_events_golden" -> GoldenTwin,
    "pipe_flow_golden" -> GoldenTwin,
    "pipe_dns_golden" -> GoldenTwin,
    "pipe_proxy_golden" -> GoldenTwin
  )
}
