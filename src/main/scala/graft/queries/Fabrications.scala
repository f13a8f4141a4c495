package graft.queries

import graft.pipelines.DnsPipeline
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Shared network-shaped fabrications of the harness tables, used by the
  * word-semantics gate queries (f5/f8), the full-pipeline and fixed-model
  * gate queries and the bench pipelines — ONE definition per fabrication
  * so they cannot drift apart. Each takes the already-loaded table, so
  * every caller keeps its own loader. The DuckDB oracles hard-code the
  * same formulas; change them together.
  */
object Fabrications {

  /** Deterministic netflow-ish ips/ports from events (covers every
    * adjustPort port class: 0, <=1024, >1024, both orders). */
  def flowPorts(events: DataFrame): DataFrame =
    events
      .withColumn("sip", concat(lit("10.0."), (col("user_id") % 200).cast("string"), lit(".1")))
      .withColumn("dip", concat(lit("10.0."), (col("event_id") % 200).cast("string"), lit(".2")))
      .withColumn("sport", ((col("event_id") * 7919) % 2000).cast("int"))
      .withColumn("dport", (((col("event_id") + 3) * 104729) % 2000).cast("int"))

  /** Four DNS qname shapes from documents: deep subdomain, ccTLD,
    * reverse-IP, and bare 2-part. */
  def dnsQname(docId: Column, source: Column): Column =
    when(docId % 4 === 0, concat(lit("api.cdn."), source, lit(".com")))
      .when(docId % 4 === 1, concat(source, lit(".com.mx")))
      .when(docId % 4 === 2, lit("9.8.7.6.in-addr.arpa"))
      .otherwise(concat(source, lit(".net")))

  /** The netflow input of the flow pipeline, from events. */
  def flowInput(events: DataFrame): DataFrame =
    flowPorts(events)
      .withColumn("trhour", hour(col("ts")))
      .withColumn("trminute", minute(col("ts")))
      .withColumn("trsec", second(col("ts")))
      .withColumn("ipkt", (col("value") * 10).cast("long") + 1)
      .withColumn("ibyt", (col("value") * 1000).cast("long") + 40)

  /** The DNS input of the DNS pipeline, from documents. */
  def dnsInput(documents: DataFrame): DataFrame =
    documents
      .withColumn("dns_qry_name", dnsQname(col("doc_id"), col("source")))
      .withColumn("frame_len", col("n_chars"))
      .withColumn("unix_tstamp", col("doc_id") % 500)
      .withColumn("dns_qry_type", (col("doc_id") % 4).cast("int"))
      .withColumn("dns_qry_rcode", (col("doc_id") % 3).cast("int"))
      .withColumn("frame_time", concat(lit("t"), col("doc_id")))
      .withColumn("ip_dst", concat(lit("10.1."), (col("doc_id") % 50).cast("string"), lit(".9")))

  /** The proxy input of the proxy pipeline, from events. */
  def proxyInput(events: DataFrame): DataFrame =
    events
      .withColumn("p_date", date_format(col("ts"), "yyyy-MM-dd"))
      .withColumn("p_time", date_format(col("ts"), "HH:mm:ss"))
      .withColumn("clientip", concat(lit("10.2."), (col("user_id") % 50).cast("string"), lit(".7")))
      .withColumn("host", concat(col("event_type"), lit(".example.com")))
      .withColumn("reqmethod", when(col("event_id") % 2 === 0, "GET").otherwise("POST"))
      .withColumn("useragent", col("event_type"))
      .withColumn("resconttype",
        when(col("event_id") % 2 === 0, lit("text/plain")).otherwise(lit("image/png")))
      .withColumn("fulluri", concat(lit("http://h/"), col("event_type"), lit("?"), col("props")))
      .withColumn("respcode", (lit(200) + col("event_id") % 3 * 100).cast("string"))

  /** Fixed DNS cuts of the fixed-cut gates (constants on both sides;
    * chosen to split sf0.01). */
  val DnsCuts: DnsPipeline.Cuts = DnsPipeline.Cuts(
    time = Array(100.0, 250.0, 400.0),
    frameLen = Array(100.0, 200.0, 300.0, 400.0),
    subLen = Array(3.0, 5.0, 8.0),
    entropy = Array(1.5, 2.0, 2.5),
    numPeriods = Array(2.0, 3.0, 4.0))

  /** The popular domains of the DNS fabrication's sources. */
  val DnsPopular: Set[String] = Set("src1", "src3", "src5")
}
