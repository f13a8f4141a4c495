package graft.queries

import graft.Tables
import graft.functions.Binning
import graft.ml.{ModelIO, TopicModel}
import graft.pipelines.{DnsPipeline, EventsPipeline, FlowPipeline, ProxyPipeline}
import graft.queries.Fabrications.DnsCuts
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** FIXED-MODEL pipeline gates: the full post-LDA scoring dataflow of every
  * pipeline — featurize → doc-mix join (uniform default) → word-prob join
  * (uniform default) → dot product → threshold/sort — hash-checked against
  * an exact DuckDB twin, with the topic model FROZEN to a checked-in
  * legacy-format fixture (reference `final.beta`/`final.gamma`,
  * OniLDACWrapper.scala:88-104,170-195) imported via
  * [[ModelIO.importLegacyModel]]. Training (LDA) has no SQL twin — these
  * gates verify everything AROUND it exactly, so LDA optimization is the
  * only unverified stage left.
  *
  * The oracle SQL inlines the model as VALUES rendered from THE SAME parse
  * (`parseGammaLine`/`parseBetaLine` — themselves golden-tested in
  * ModelIOSpec against the reference's numeric fixtures): Double.toString
  * is shortest-roundtrip, so DuckDB reads back bit-identical doubles, and
  * the SQL dot product mirrors the Spark fold order
  * ((0 + m0·p0) + m1·p1) + m2·p2 for bit-identical sums. The fixture's doc
  * and word lists cover a SUBSET of each fabrication's keys, so both the
  * join-hit and the uniform-default paths carry real rows; doc 10.1.24.9
  * has an all-zero gamma line (parses to the zero vector — the reference's
  * empty-doc case, score contribution 0).
  */
object FixedModelQueries {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    Tables.load(s, dir, name)

  // ---- fixture ------------------------------------------------------------

  private def resourceLines(name: String): Vector[String] = {
    val in = getClass.getResourceAsStream(s"/graft/fixtures/legacy_model/$name")
    require(in != null, s"missing fixture resource $name")
    try scala.io.Source.fromInputStream(in, "UTF-8").getLines().toVector
    finally in.close()
  }

  lazy val docs: Vector[String] = resourceLines("docs.txt")
  lazy val words: Vector[String] = resourceLines("words.txt")
  lazy val gammaLines: Vector[String] = resourceLines("final.gamma")
  lazy val betaLines: Vector[String] = resourceLines("final.beta")
  lazy val wordIndex: Map[String, Int] = words.zipWithIndex.toMap
  def topicCount: Int = betaLines.length // k = 3

  /** The frozen model, imported exactly as a reference artifact would be. */
  def fixtureModel(spark: SparkSession): TopicModel.Model =
    ModelIO.importLegacyModel(spark, docs, gammaLines, betaLines, wordIndex)

  // ---- fixed cuts (constants on both sides; chosen to split sf0.01) ------

  private val FlowTimeCuts = Seq(6.0, 12.0, 18.0)
  private val FlowIbytCuts = Seq(1000.0, 10000.0, 100000.0)
  private val FlowIpktCuts = Seq(50.0, 500.0)

  private val ProxyTimeCuts = Seq(21600.0, 43200.0, 64800.0)
  private val ProxyEntCuts = Seq(3.85, 3.95, 4.02)
  private val ProxyAgentCuts = Seq(1990.0, 2010.0)

  private val EvHourCuts = Seq(4.0, 9.0, 14.0, 19.0)
  private val EvValueCuts = Seq(50.0, 150.0, 300.0)

  private def score9(c: Column): Column =
    floor(c * 1000000000.0 + 0.5) / 1000000000.0

  // ---- gates --------------------------------------------------------------

  private def flowInput(s: SparkSession, dir: String): DataFrame =
    Fabrications.flowInput(t(s, dir, "events"))
      .select("event_id", "sip", "dip", "sport", "dport",
        "trhour", "trminute", "trsec", "ipkt", "ibyt")

  private def flowModel(s: SparkSession): FlowPipeline.Model =
    FlowPipeline.Model(
      FlowPipeline.Cuts(FlowTimeCuts.toArray, FlowIbytCuts.toArray,
        FlowIpktCuts.toArray),
      fixtureModel(s), topicCount)

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "pipe_flow_fixedmodel" -> ((s, dir) =>
      FlowPipeline.results(flowInput(s, dir), flowModel(s),
          threshold = 1.0, topK = -1)
        .select(col("event_id"), col("sip"), col("dip"),
          score9(col("src_score")).as("src_score"),
          score9(col("dst_score")).as("dst_score"))),

    // the SELECTIVE tail: threshold < 1 makes the min-score filter bite,
    // topK > 0 makes the ordered limit binding (811 of 10000 rows pass at
    // sf0.01, 200 survive the limit), and the event_id tiebreak totals the
    // order across the abundant score ties — so F12's least() and the
    // top-k tail are INSIDE the hash, not spec-only
    "pipe_flow_fixedmodel_topk" -> ((s, dir) =>
      FlowPipeline.results(flowInput(s, dir), flowModel(s),
          threshold = 0.04, topK = 200, tiebreak = Seq(col("event_id")))
        .select(col("event_id"), col("sip"), col("dip"),
          score9(col("src_score")).as("src_score"),
          score9(col("dst_score")).as("dst_score"),
          score9(least(col("src_score"), col("dst_score"))).as("min_score"))),

    "pipe_dns_fixedmodel" -> ((s, dir) => {
      val dns = Fabrications.dnsInput(t(s, dir, "documents"))
        .select("doc_id", "dns_qry_name", "frame_len", "unix_tstamp",
          "dns_qry_type", "dns_qry_rcode", "frame_time", "ip_dst")
      val m = DnsPipeline.Model(DnsCuts,
        DnsPipeline.popularFrame(s, Fabrications.DnsPopular), fixtureModel(s),
        topicCount)
      DnsPipeline.results(dns, m, threshold = 1.0, topK = -1)
        .select(col("doc_id"), col("ip_dst"), col("word"),
          score9(col("score")).as("score"))}),

    "pipe_proxy_fixedmodel" -> ((s, dir) => {
      val proxy = Fabrications.proxyInput(t(s, dir, "events"))
        .select("event_id", "p_date", "p_time", "clientip", "host",
          "reqmethod", "useragent", "resconttype", "fulluri", "respcode")
      val m = ProxyPipeline.Model(
        ProxyPipeline.Cuts(ProxyTimeCuts.toArray, ProxyEntCuts.toArray,
          ProxyAgentCuts.toArray),
        DnsPipeline.popularFrame(s, Set.empty), fixtureModel(s), topicCount)
      ProxyPipeline.results(proxy, m, threshold = 1.0, topK = -1)
        .select(col("event_id"), col("clientip"), col("word"),
          score9(col("score")).as("score"))}),

    "pipe_events_fixedmodel" -> ((s, dir) => {
      val m = EventsPipeline.Model(
        EventsPipeline.Cuts(EvHourCuts.toArray, EvValueCuts.toArray),
        fixtureModel(s), topicCount)
      EventsPipeline.score(t(s, dir, "events"), m)
        .select(col("event_id"), col("user_id"), col("word"),
          score9(col("score")).as("score"))})
  )

  // ---- oracles ------------------------------------------------------------

  private def binSql(e: String, cuts: Seq[Double]): String = Binning.binSql(e, cuts)

  /** Same uniform default literal Spark uses: Double.toString(1.0/k).
    * The ::DOUBLE cast matters — DuckDB types bare decimal literals as
    * DECIMAL and would run the whole dot product in (overflowing) decimal
    * arithmetic instead of IEEE doubles. */
  private lazy val U: String = s"${(1.0 / topicCount).toString}::DOUBLE"

  /** The model as SQL VALUES — rendered from the SAME parse the Spark side
    * imports through, so both engines hold bit-identical doubles. */
  private lazy val mixValuesSql: String =
    docs.zip(gammaLines.map(ModelIO.parseGammaLine))
      .map { case (d, m) =>
        s"('$d', ${m(0)}::DOUBLE, ${m(1)}::DOUBLE, ${m(2)}::DOUBLE)" }
      .mkString(", ")

  private lazy val probValuesSql: String = {
    val probs = ModelIO.wordProbsFromBeta(betaLines.toArray, wordIndex)
    words.map { w =>
      val p = probs(w)
      s"('$w', ${p(0)}::DOUBLE, ${p(1)}::DOUBLE, ${p(2)}::DOUBLE)"
    }.mkString(", ")
  }

  /** Fold-ordered dot product with per-side uniform defaults — RAW
    * doubles, bit-identical to Spark's sequential-fold native expression;
    * the filter/order tail of the topk gate runs on this unrounded
    * value, exactly like the Spark side. */
  private def scoreRawSql(mixAlias: String, probAlias: String): String =
    s"""(0.0 + coalesce($mixAlias.m0, $U) * coalesce($probAlias.p0, $U)
       |     + coalesce($mixAlias.m1, $U) * coalesce($probAlias.p1, $U)
       |     + coalesce($mixAlias.m2, $U) * coalesce($probAlias.p2, $U))""".stripMargin

  private def scoreSql(mixAlias: String, probAlias: String): String =
    s"""floor(${scoreRawSql(mixAlias, probAlias)}
       |      * 1000000000.0 + 0.5) / 1000000000.0""".stripMargin

  private def round9Sql(e: String): String =
    s"floor($e * 1000000000.0 + 0.5) / 1000000000.0"

  private def modelCtes: String =
    s"""mix(doc, m0, m1, m2) AS (VALUES $mixValuesSql),
       |wpb(word, p0, p1, p2) AS (VALUES $probValuesSql)""".stripMargin

  private val entropySqlOf = (e: String) =>
    s"""(SELECT coalesce(sum(-(c::DOUBLE / tot) * log10(c::DOUBLE / tot) / log10(2)), 0.0)
       | FROM (SELECT count(*) AS c, sum(count(*)) OVER () AS tot
       |       FROM (SELECT unnest(string_split($e, '')) AS ch) GROUP BY ch))""".stripMargin

  /** The flow fabrication + featurize + word CTE chain, shared by the
    * full and topk flow oracles. */
  private lazy val flowSidedCtes: String =
    s"""base AS (
         |  SELECT event_id,
         |    '10.0.' || (user_id % 200)::VARCHAR || '.1' AS sip,
         |    '10.0.' || (event_id % 200)::VARCHAR || '.2' AS dip,
         |    CAST((event_id * 7919) % 2000 AS INT) AS sport,
         |    CAST(((event_id + 3) * 104729) % 2000 AS INT) AS dport,
         |    hour(ts) + minute(ts)/60.0 + second(ts)/3600.0 AS num_time,
         |    CAST(trunc(value * 10) AS BIGINT) + 1 AS ipkt,
         |    CAST(trunc(value * 1000) AS BIGINT) + 40 AS ibyt
         |  FROM events),
         |binned AS (
         |  SELECT *,
         |    ${binSql("num_time", FlowTimeCuts)} AS time_bin,
         |    ${binSql("ibyt::DOUBLE", FlowIbytCuts)} AS ibyt_bin,
         |    ${binSql("ipkt::DOUBLE", FlowIpktCuts)} AS ipkt_bin
         |  FROM base),
         |classed AS (
         |  SELECT *,
         |    ((dport <= 1024 OR sport <= 1024) AND (dport > 1024 OR sport > 1024)
         |      AND least(dport, sport) != 0) AS case2,
         |    (dport > 1024 AND sport > 1024) AS case3,
         |    (dport = 0 AND sport != 0) AS case4a,
         |    (sport = 0 AND dport != 0) AS case4b
         |  FROM binned),
         |wp AS (
         |  SELECT *,
         |    CASE WHEN case2 THEN least(dport, sport)::DOUBLE
         |         WHEN case3 THEN 333333.0
         |         WHEN case4a THEN sport::DOUBLE
         |         WHEN case4b THEN dport::DOUBLE
         |         WHEN least(dport, sport) = 0 THEN greatest(dport, sport)::DOUBLE
         |         ELSE 111111.0 END AS word_port
         |  FROM classed),
         |words AS (
         |  SELECT *,
         |    word_port::VARCHAR || '_' || (time_bin::DOUBLE)::VARCHAR || '_' ||
         |      (ibyt_bin::DOUBLE)::VARCHAR || '_' || (ipkt_bin::DOUBLE)::VARCHAR AS word
         |  FROM wp),
         |sided AS (
         |  SELECT event_id, sip, dip,
         |    CASE WHEN (case2 AND sport < dport) OR case4a THEN '-1_' || word ELSE word END AS src_word,
         |    CASE WHEN (case2 AND dport < sport) OR case4b THEN '-1_' || word ELSE word END AS dst_word
         |  FROM words)""".stripMargin

  val oracles: Map[String, String] = Map(
    "pipe_flow_fixedmodel" ->
      s"""WITH $flowSidedCtes,
         |$modelCtes
         |SELECT s.event_id, s.sip, s.dip,
         |  ${scoreSql("ms", "ws")} AS src_score,
         |  ${scoreSql("md", "wd")} AS dst_score
         |FROM sided s
         |LEFT JOIN mix ms ON s.sip = ms.doc
         |LEFT JOIN wpb ws ON s.src_word = ws.word
         |LEFT JOIN mix md ON s.dip = md.doc
         |LEFT JOIN wpb wd ON s.dst_word = wd.word""".stripMargin,

    // raw (unrounded) scores drive the filter and the (score, event_id)
    // order — the same doubles Spark's fold computes — and only the
    // OUTPUT columns round to 9dp; ties at the boundary are totaled by
    // event_id so the LIMIT is deterministic on both engines
    "pipe_flow_fixedmodel_topk" ->
      s"""WITH $flowSidedCtes,
         |$modelCtes,
         |scored AS (
         |  SELECT s.event_id, s.sip, s.dip,
         |    ${scoreRawSql("ms", "ws")} AS src_raw,
         |    ${scoreRawSql("md", "wd")} AS dst_raw
         |  FROM sided s
         |  LEFT JOIN mix ms ON s.sip = ms.doc
         |  LEFT JOIN wpb ws ON s.src_word = ws.word
         |  LEFT JOIN mix md ON s.dip = md.doc
         |  LEFT JOIN wpb wd ON s.dst_word = wd.word)
         |SELECT event_id, sip, dip,
         |  ${round9Sql("src_raw")} AS src_score,
         |  ${round9Sql("dst_raw")} AS dst_score,
         |  ${round9Sql("least(src_raw, dst_raw)")} AS min_score
         |FROM scored
         |WHERE least(src_raw, dst_raw) <= 0.04
         |ORDER BY least(src_raw, dst_raw), event_id
         |LIMIT 200""".stripMargin,

    "pipe_dns_fixedmodel" ->
      s"""WITH base AS (
         |  SELECT doc_id, source, n_chars,
         |    CASE WHEN doc_id % 4 = 0 THEN 'api.cdn.' || source || '.com'
         |         WHEN doc_id % 4 = 1 THEN source || '.com.mx'
         |         WHEN doc_id % 4 = 2 THEN '9.8.7.6.in-addr.arpa'
         |         ELSE source || '.net' END AS qname,
         |    doc_id % 500 AS unix_tstamp,
         |    (doc_id % 4)::INT AS qry_type, (doc_id % 3)::INT AS rcode,
         |    '10.1.' || (doc_id % 50)::VARCHAR || '.9' AS ip_dst
         |  FROM documents),
         |sub AS (
         |  SELECT *,
         |    CASE WHEN doc_id % 4 IN (0, 1) THEN source ELSE 'None' END AS domain,
         |    CASE WHEN doc_id % 4 = 0 THEN 7.0 ELSE 0.0 END AS sublen,
         |    CASE WHEN doc_id % 4 = 0 THEN 4.0 WHEN doc_id % 4 = 1 THEN 3.0
         |         WHEN doc_id % 4 = 2 THEN 6.0 ELSE 2.0 END AS nper,
         |    CASE WHEN doc_id % 4 = 0
         |         THEN ${entropySqlOf("'api.cdn'")} ELSE 0.0 END AS sent
         |  FROM base),
         |worded AS (
         |  SELECT doc_id, ip_dst,
         |    (CASE WHEN domain = 'intel' THEN 2
         |          WHEN domain IN ('src1', 'src3', 'src5') THEN 1
         |          ELSE 0 END)::VARCHAR
         |    || '_' || ${binSql("n_chars::DOUBLE", DnsCuts.frameLen.toSeq)}::VARCHAR
         |    || '_' || ${binSql("unix_tstamp::DOUBLE", DnsCuts.time.toSeq)}::VARCHAR
         |    || '_' || ${binSql("sublen", DnsCuts.subLen.toSeq)}::VARCHAR
         |    || '_' || ${binSql("sent", DnsCuts.entropy.toSeq)}::VARCHAR
         |    || '_' || ${binSql("nper", DnsCuts.numPeriods.toSeq)}::VARCHAR
         |    || '_' || qry_type::VARCHAR || '_' || rcode::VARCHAR AS word
         |  FROM sub),
         |$modelCtes
         |SELECT w.doc_id, w.ip_dst, w.word,
         |  ${scoreSql("m", "p")} AS score
         |FROM worded w
         |LEFT JOIN mix m ON w.ip_dst = m.doc
         |LEFT JOIN wpb p ON w.word = p.word""".stripMargin,

    "pipe_proxy_fixedmodel" ->
      s"""WITH ev AS (
         |  SELECT event_id, event_type, user_id,
         |    strftime(ts, '%H:%M:%S') AS p_time,
         |    'http://h/' || event_type || '?' || props AS fulluri,
         |    CASE WHEN event_id % 2 = 0 THEN 'GET' ELSE 'POST' END AS reqmethod,
         |    CASE WHEN event_id % 2 = 0 THEN 'text/plain' ELSE 'image/png' END AS ct,
         |    (200 + event_id % 3 * 100)::VARCHAR AS respcode,
         |    '10.2.' || (user_id % 50)::VARCHAR || '.7' AS clientip
         |  FROM events),
         |ac AS (SELECT event_type, count(*) AS agent_count FROM ev GROUP BY 1),
         |j AS (
         |  SELECT ev.*, ac.agent_count,
         |    (3600 * hour(ts2) + 60 * minute(ts2) + second(ts2))::DOUBLE AS secs,
         |    ${entropySqlOf("fulluri")} AS ent
         |  FROM (SELECT *, strptime(p_time, '%H:%M:%S') AS ts2 FROM ev) ev
         |  JOIN ac USING (event_type)),
         |worded AS (
         |  SELECT event_id, clientip,
         |    '0_' || ${binSql("secs", ProxyTimeCuts)}::VARCHAR
         |    || '_' || reqmethod
         |    || '_' || ${binSql("ent", ProxyEntCuts)}::VARCHAR
         |    || '_' || string_split(ct, '/')[1]
         |    || '_' || ${binSql("agent_count::DOUBLE", ProxyAgentCuts)}::VARCHAR
         |    || '_' || substr(respcode, 1, 1) AS word
         |  FROM j),
         |$modelCtes
         |SELECT w.event_id, w.clientip, w.word,
         |  ${scoreSql("m", "p")} AS score
         |FROM worded w
         |LEFT JOIN mix m ON w.clientip = m.doc
         |LEFT JOIN wpb p ON w.word = p.word""".stripMargin,

    "pipe_events_fixedmodel" ->
      s"""WITH worded AS (
         |  SELECT event_id, user_id,
         |    event_type || '_' || ${binSql("hour(ts)::DOUBLE", EvHourCuts)}::VARCHAR
         |    || '_' || ${binSql("value", EvValueCuts)}::VARCHAR AS word
         |  FROM events),
         |$modelCtes
         |SELECT w.event_id, w.user_id, w.word,
         |  ${scoreSql("m", "p")} AS score
         |FROM worded w
         |LEFT JOIN mix m ON w.user_id::VARCHAR = m.doc
         |LEFT JOIN wpb p ON w.word = p.word""".stripMargin
  )
}
