package graft.queries

import graft.Tables
import graft.functions.{Binning, Domains, Entropy, FlowWords, TimeFunctions}
import graft.operators.Quantiles
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Feature-engineering operator coverage (SURVEY.md §2.4 A6/A7/A9/A10,
  * §2.9 F1-F9) over the harness tables, with exact DuckDB oracles.
  *
  * The flow-word and domain queries fabricate their network-shaped inputs
  * deterministically from harness columns so the reference's word/domain
  * semantics are exercised (and locked by the oracle) on real data.
  */
object FeatureQueries {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    Tables.loadSpread(s, dir, name) // spread under-split scans (Tables doc)

  private val QuantityCuts = Seq(5.0, 15.0, 25.0, 35.0, 45.0)

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // A10/F4: Shannon entropy as a native codegen Catalyst expression.
    "f4_entropy" -> ((s, dir) =>
      t(s, dir, "documents")
        .select(col("doc_id"),
          (floor((Entropy.string_entropy(col("text"))) * 1000000 + 0.5) / 1000000.0).as("entropy"))),

    // F3: quantile-cut binning incl. the -1-above-max quirk.
    "f3_bin" -> ((s, dir) =>
      t(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_linenumber"),
          Binning.binCol(col("l_quantity"), QuantityCuts).as("qty_bin"))),

    // A6: empirical CDF over distinct values.
    "a6_ecdf" -> ((s, dir) =>
      Quantiles.ecdf(t(s, dir, "lineitem"), col("l_quantity"))
        .select(col("value"), (floor((col("ecdf")) * 1000000 + 0.5) / 1000000.0).as("ecdf"))),

    // A7: exact decile cutoffs, surfaced as a (threshold, cutoff) table.
    "a7_quantiles" -> ((s, dir) => {
      val cuts = Quantiles.computeQuantiles(t(s, dir, "lineitem"),
        col("l_extendedprice"), Quantiles.Deciles)
      val rows = Quantiles.Deciles.zip(cuts).toSeq
      s.createDataFrame(rows).toDF("threshold", "cutoff")
        .select((floor((col("threshold").cast("double")) * 100 + 0.5) / 100.0).as("threshold"),
          (floor((col("cutoff").cast("double")) * 100 + 0.5) / 100.0).as("cutoff"))}),

    // A7b: same cutoffs via the custom typed Aggregator (one aggregate
    // pass, no window) — must agree with the windowed path's oracle.
    "a7b_quantile_agg" -> ((s, dir) => {
      val cuts = graft.operators.QuantileAgg.exactQuantiles(
        t(s, dir, "lineitem"), col("l_extendedprice"), Quantiles.Deciles)
      val rows = Quantiles.Deciles.zip(cuts).toSeq
      s.createDataFrame(rows).toDF("threshold", "cutoff")
        .select((floor((col("threshold").cast("double")) * 100 + 0.5) / 100.0).as("threshold"),
          (floor((col("cutoff").cast("double")) * 100 + 0.5) / 100.0).as("cutoff"))}),

    // F1: fractional hour from event timestamps.
    "f1_fractional_hour" -> ((s, dir) =>
      t(s, dir, "events")
        .select(col("event_id"),
          (floor((TimeFunctions.fractional_hour(
            hour(col("ts")), minute(col("ts")), second(col("ts")))) * 1000000 + 0.5) / 1000000.0)
            .as("num_time"))),

    // F14: JSON side-data extraction (props column).
    "f14_json_extract" -> ((s, dir) =>
      t(s, dir, "events")
        .select(col("event_id"),
          get_json_object(col("props"), "$.k").cast("int").as("k"))),

    // F8: the full adjustPort word semantics on fabricated ports covering
    // every port class (0, <=1024, >1024) and both ip orderings.
    "f8_flow_words" -> ((s, dir) => {
      val ev = Fabrications.flowPorts(t(s, dir, "events"))
      val (portWord, ipPair, srcWord, dstWord) = FlowWords.flowWordCols(
        col("sip"), col("dip"), col("dport"), col("sport"),
        lit(3), lit(5), lit(7))
      ev.select(col("event_id"), portWord.as("port_word"), ipPair.as("ip_pair"),
        srcWord.as("src_word"), dstWord.as("dst_word"))}),

    // F6: second-level-domain extraction on fabricated hostnames covering
    // TLD, ccTLD, reverse-IP, and unknown-suffix cases.
    "f6_domains" -> ((s, dir) =>
      t(s, dir, "documents")
        .withColumn("hostname",
          when(col("doc_id") % 5 === 0, concat(lit("www."), col("source"), lit(".com")))
            .when(col("doc_id") % 5 === 1, concat(col("source"), lit(".co.uk")))
            .when(col("doc_id") % 5 === 2, lit("10.1.2.3.in-addr.arpa"))
            .when(col("doc_id") % 5 === 3, concat(col("source"), lit(".internal")))
            .otherwise(concat(lit("a.b."), col("source"), lit(".org"))))
        .select(col("doc_id"), col("hostname"),
          Domains.extract_domain(col("hostname")).as("domain"))),

    // F5: DNS subdomain extraction struct on the shared fabricated names.
    "f5_subdomains" -> ((s, dir) =>
      t(s, dir, "documents")
        .withColumn("qname", Fabrications.dnsQname(col("doc_id"), col("source")))
        .withColumn("sd", Domains.extract_subdomain(col("qname")))
        .select(col("doc_id"), col("qname"),
          col("sd.domain").as("domain"),
          col("sd.subdomain").as("subdomain"),
          col("sd.subdomain_length").as("subdomain_length"),
          col("sd.num_periods").as("num_periods")))
  )

  private val binSqlQty = Binning.binSql("l_quantity", QuantityCuts)

  private val quantileOracle =
    """WITH counts AS (
      |  SELECT l_extendedprice::DOUBLE AS value, count(*) AS c
      |  FROM lineitem WHERE l_extendedprice IS NOT NULL GROUP BY 1),
      |e AS (
      |  SELECT value,
      |         sum(c) OVER (ORDER BY value ROWS BETWEEN UNBOUNDED PRECEDING
      |           AND CURRENT ROW)::DOUBLE / (SELECT sum(c) FROM counts) AS cdf
      |  FROM counts),
      |th(threshold) AS (VALUES (0.1),(0.2),(0.3),(0.4),(0.5),(0.6),(0.7),(0.8),(0.9),(1.0))
      |SELECT floor((threshold::DOUBLE) * 100 + 0.5) / 100.0 AS threshold,
      |       floor((min(CASE WHEN cdf >= threshold::DOUBLE THEN value END)::DOUBLE) * 100 + 0.5) / 100.0 AS cutoff
      |FROM e CROSS JOIN th GROUP BY threshold""".stripMargin

  val oracles: Map[String, String] = Map(
    "f4_entropy" ->
      """WITH freq AS (
        |  SELECT doc_id, ch, count(*)::DOUBLE AS c FROM (
        |    SELECT doc_id, unnest(string_split(text, '')) AS ch FROM documents)
        |  GROUP BY doc_id, ch
        |), tot AS (SELECT doc_id, sum(c) AS n FROM freq GROUP BY doc_id)
        |SELECT f.doc_id,
        |       floor((sum(-(c/n) * log10(c/n) / log10(2))) * 1000000 + 0.5) / 1000000.0 AS entropy
        |FROM freq f JOIN tot USING (doc_id) GROUP BY f.doc_id""".stripMargin,

    "f3_bin" ->
      s"""SELECT l_orderkey, l_linenumber, $binSqlQty AS qty_bin FROM lineitem""",

    "a6_ecdf" ->
      """WITH counts AS (
        |  SELECT l_quantity::DOUBLE AS value, count(*) AS c
        |  FROM lineitem WHERE l_quantity IS NOT NULL GROUP BY 1)
        |SELECT value,
        |       floor((sum(c) OVER (ORDER BY value ROWS BETWEEN UNBOUNDED PRECEDING
        |         AND CURRENT ROW)::DOUBLE / (SELECT sum(c) FROM counts)) * 1000000 + 0.5) / 1000000.0 AS ecdf
        |FROM counts""".stripMargin,

    "a7_quantiles" -> quantileOracle,
    "a7b_quantile_agg" -> quantileOracle, // same contract, aggregate path

    "f1_fractional_hour" ->
      """SELECT event_id,
        |       floor((hour(ts) + minute(ts)/60.0 + second(ts)/3600.0) * 1000000 + 0.5) / 1000000.0 AS num_time
        |FROM events""".stripMargin,

    "f14_json_extract" ->
      """SELECT event_id, CAST(json_extract_string(props, '$.k') AS INT) AS k
        |FROM events""".stripMargin,

    "f8_flow_words" ->
      """WITH base AS (
        |  SELECT event_id,
        |         '10.0.' || (user_id % 200)::VARCHAR || '.1' AS sip,
        |         '10.0.' || (event_id % 200)::VARCHAR || '.2' AS dip,
        |         CAST((event_id * 7919) % 2000 AS INT) AS sport,
        |         CAST(((event_id + 3) * 104729) % 2000 AS INT) AS dport
        |  FROM events),
        |classed AS (
        |  SELECT *,
        |    ((dport <= 1024 OR sport <= 1024) AND (dport > 1024 OR sport > 1024)
        |      AND least(dport, sport) != 0) AS case2,
        |    (dport > 1024 AND sport > 1024) AS case3,
        |    (dport = 0 AND sport != 0) AS case4a,
        |    (sport = 0 AND dport != 0) AS case4b
        |  FROM base),
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
        |    word_port::VARCHAR || '_' || (7::DOUBLE)::VARCHAR || '_'
        |      || (5::DOUBLE)::VARCHAR || '_' || (3::DOUBLE)::VARCHAR AS word
        |  FROM wp)
        |SELECT event_id,
        |  word_port::VARCHAR AS port_word,
        |  CASE WHEN sip < dip THEN sip || ' ' || dip ELSE dip || ' ' || sip END AS ip_pair,
        |  CASE WHEN (case2 AND sport < dport) OR case4a THEN '-1_' || word ELSE word END AS src_word,
        |  CASE WHEN (case2 AND dport < sport) OR case4b THEN '-1_' || word ELSE word END AS dst_word
        |FROM words""".stripMargin,

    "f6_domains" ->
      """WITH h AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 5 = 0 THEN 'www.' || source || '.com'
        |         WHEN doc_id % 5 = 1 THEN source || '.co.uk'
        |         WHEN doc_id % 5 = 2 THEN '10.1.2.3.in-addr.arpa'
        |         WHEN doc_id % 5 = 3 THEN source || '.internal'
        |         ELSE 'a.b.' || source || '.org' END AS hostname,
        |    source
        |  FROM documents)
        |SELECT doc_id, hostname,
        |  CASE WHEN doc_id % 5 = 0 THEN source
        |       WHEN doc_id % 5 = 1 THEN 'co'
        |       WHEN doc_id % 5 = 2 THEN 'None'
        |       WHEN doc_id % 5 = 3 THEN 'None'
        |       ELSE source END AS domain
        |FROM h""".stripMargin,

    "f5_subdomains" ->
      """WITH h AS (
        |  SELECT doc_id, source,
        |    CASE WHEN doc_id % 4 = 0 THEN 'api.cdn.' || source || '.com'
        |         WHEN doc_id % 4 = 1 THEN source || '.com.mx'
        |         WHEN doc_id % 4 = 2 THEN '9.8.7.6.in-addr.arpa'
        |         ELSE source || '.net' END AS qname
        |  FROM documents)
        |SELECT doc_id, qname,
        |  CASE WHEN doc_id % 4 = 0 THEN source
        |       WHEN doc_id % 4 = 1 THEN source
        |       ELSE 'None' END AS domain,
        |  CASE WHEN doc_id % 4 = 0 THEN 'api.cdn'
        |       ELSE 'None' END AS subdomain,
        |  CASE WHEN doc_id % 4 = 0 THEN 7.0 ELSE 0.0 END::DOUBLE AS subdomain_length,
        |  CASE WHEN doc_id % 4 = 0 THEN 4.0
        |       WHEN doc_id % 4 = 1 THEN 3.0
        |       WHEN doc_id % 4 = 2 THEN 6.0
        |       ELSE 2.0 END::DOUBLE AS num_periods
        |FROM h""".stripMargin
  )
}
