package graft

import graft.sources.Sinks
import org.apache.spark.sql.functions._
import java.nio.file.Files

/** The user-facing CLI: argument surface (reference:
  * SuspiciousConnectsArgumentParser.scala:9-110) and the end-to-end
  * train→score→reference-shaped-TSV path for each analysis. */
class CliSpec extends SparkSpec {

  import spark.implicits._

  "Main.parse" should "parse the full reference argument surface" in {
    val got = Main.parse(Seq(
      "--analysis", "flow", "--input", "/a.parquet,/b.parquet",
      "--scored", "/out", "--feedback", "/fb.tsv", "--dupfactor", "500",
      "--threshold", "1e-4", "--maxresults", "200", "--topiccount", "10",
      "--topdomains", "/top.csv", "--delimiter", ",", "--seed", "7"))
    got.isRight shouldBe true
    val c = got.toOption.get
    c.analysis shouldBe "flow"
    c.input shouldBe Seq("/a.parquet", "/b.parquet")
    c.scored shouldBe "/out"
    c.feedback shouldBe Some("/fb.tsv")
    c.dupFactor shouldBe 500
    c.threshold shouldBe 1e-4
    c.maxResults shouldBe 200
    c.topicCount shouldBe 10
    c.topDomains shouldBe Some("/top.csv")
    c.delimiter shouldBe ","
    c.seed shouldBe 7L
  }

  it should "accept the reference short flags" in {
    val c = Main.parse(Seq("-z", "dns", "-i", "/x", "-s", "/o", "-e", "0.5",
      "-k", "10", "-u", "5", "-d", "100", "-b", "|")).toOption.get
    c.analysis shouldBe "dns"
    c.threshold shouldBe 0.5
    c.dupFactor shouldBe 100
    c.delimiter shouldBe "|"
  }

  it should "reject missing/invalid arguments with a message" in {
    Main.parse(Seq("--analysis", "flow")).left.toOption.get should include("--input")
    Main.parse(Seq("--analysis", "nope", "--input", "/x", "--scored", "/o"))
      .left.toOption.get should include("flow, dns, proxy")
    Main.parse(Seq("--bogus", "v")).left.toOption.get should include("bogus")
    Main.parse(Seq("--analysis", "flow", "--input", "/x", "--scored", "/o",
      "--maxresults", "ten")).left.toOption.get should include("bad numeric")
    // MLlib's LDA needs k > 1; caught here, before any Spark job runs
    Seq("1", "0", "-3").foreach { k =>
      Main.parse(Seq("--analysis", "flow", "--input", "/x", "--scored", "/o",
        "--topiccount", k)).left.toOption.get should include("--topiccount")
    }
    // a negative feedback weight would subtract from the corpus counts
    Main.parse(Seq("--analysis", "dns", "--input", "/x", "--scored", "/o",
      "-d", "-1")).left.toOption.get should include("--dupfactor")
    Main.parse(Seq("--analysis", "flow", "--input", "/x", "--scored", "/o",
      "--topiccount", "2", "--dupfactor", "0")).isRight shouldBe true
  }

  private val rng = new scala.util.Random(7)

  "Main.runAnalysis(flow)" should "produce reference-shaped TSV rows from parquet + feedback" in {
    val dir = ScratchDirs.create("cli").toFile.getAbsolutePath
    val flows = (0 until 300).map { i =>
      ("2016-05-05 12:00:00", 12, i % 60, i % 60,
        s"10.0.0.${i % 20}", s"172.16.0.${i % 15}",
        if (i % 3 == 0) 80 else 1024 + rng.nextInt(40000),
        if (i % 5 == 0) 0 else rng.nextInt(60000),
        (rng.nextInt(100) + 1).toLong, (rng.nextInt(100000) + 40).toLong)
    }.toDF("treceived", "trhour", "trminute", "trsec",
      "sip", "dip", "dport", "sport", "ipkt", "ibyt")
    flows.write.parquet(s"$dir/flow.parquet")
    val fb = new java.io.PrintWriter(s"$dir/fb.tsv")
    fb.println(Seq("trhour", "trminute", "trsec", "sip", "dip", "sport",
      "dport", "ipkt", "ibyt", "sev").mkString("\t"))
    fb.println(Seq(12, 1, 1, "10.0.0.1", "172.16.0.1", 33000, 80, 5, 1200, 3).mkString("\t"))
    fb.println(Seq(12, 2, 2, "10.0.0.2", "172.16.0.2", 33001, 80, 5, 1300, 2).mkString("\t"))
    fb.close()

    val config = Main.parse(Seq(
      "--analysis", "flow", "--input", s"$dir/flow.parquet",
      "--scored", s"$dir/out", "--feedback", s"$dir/fb.tsv",
      "--threshold", "1.0", "--maxresults", "50", "--topiccount", "4")).toOption.get
    val res = Main.runAnalysis(spark, config)
    // reference row shape: ORIGINAL columns + src_score + dst_score
    // (min_score used for filter/sort then dropped — FlowPostLDA.scala:80)
    res.columns.toSeq shouldBe (flows.columns.toSeq :+ "src_score" :+ "dst_score")
    val rows = res.select(least(col("src_score"), col("dst_score"))).as[Double].collect()
    rows.length shouldBe 50
    rows.toSeq shouldBe rows.sorted.toSeq // ascending by min score
    rows.foreach(s => s should (be >= 0.0 and be <= 1.0))

    Sinks.writeTsv(res, config.scored, sep = config.delimiter)
    val written = spark.read.option("sep", "\t").csv(config.scored)
    written.count() shouldBe 50
    written.columns.length shouldBe flows.columns.length + 2
  }

  "Main.runAnalysis(proxy)" should "emit original columns + word + score" in {
    val dir = ScratchDirs.create("clip").toFile.getAbsolutePath
    val proxy = (0 until 200).map { i =>
      ("2016-05-05", f"${i % 24}%02d:${i % 60}%02d:00", s"10.0.0.${i % 25}",
        s"host${i % 9}.com", if (i % 2 == 0) "GET" else "POST",
        s"agent${i % 3}", "text/plain", s"/p/uri$i", s"${200 + (i % 3) * 100}")
    }.toDF("p_date", "p_time", "clientip", "host", "reqmethod",
      "useragent", "resconttype", "fulluri", "respcode")
    proxy.write.parquet(s"$dir/proxy.parquet")
    val config = Main.parse(Seq(
      "--analysis", "proxy", "--input", s"$dir/proxy.parquet",
      "--scored", s"$dir/out", "--maxresults", "20", "--topiccount", "4")).toOption.get
    val res = Main.runAnalysis(spark, config)
    res.columns.toSeq shouldBe (proxy.columns.toSeq :+ "word" :+ "score")
    val scores = res.select("score").as[Double].collect()
    scores.length shouldBe 20
    scores.toSeq shouldBe scores.sorted.toSeq
  }

  "Main.runAnalysis(dns)" should "emit the worded row + score with a top-domains list" in {
    val dir = ScratchDirs.create("clid").toFile.getAbsolutePath
    val hosts = Seq("services.amazon.com", "a.b.evil.net", "x.y.z.bad.com.mx",
      "9.8.7.6.in-addr.arpa", "short.com")
    val dns = (0 until 200).map { i =>
      (s"t$i", (1000000L + i * 37) % 86400, 40 + i % 500,
        s"10.0.0.${i % 25}", hosts(i % hosts.length), i % 4, i % 3)
    }.toDF("frame_time", "unix_tstamp", "frame_len", "ip_dst",
      "dns_qry_name", "dns_qry_type", "dns_qry_rcode")
    dns.write.parquet(s"$dir/dns.parquet")
    val top = new java.io.PrintWriter(s"$dir/top-1m.csv")
    top.println("1,amazon.com"); top.println("2,google.com"); top.close()
    val config = Main.parse(Seq(
      "--analysis", "dns", "--input", s"$dir/dns.parquet",
      "--scored", s"$dir/out", "--maxresults", "20", "--topiccount", "4",
      "--topdomains", s"$dir/top-1m.csv")).toOption.get
    val res = Main.runAnalysis(spark, config)
    res.columns should contain allOf ("word", "score", "domain", "subdomain")
    // amazon is popular (class 1) via the loaded list: some word starts 1_
    res.where(col("word").startsWith("1_")).count() should be > 0L
    res.select("score").as[Double].collect().length shouldBe 20
    // the CLI's default classing path is the broadcast JOIN against the
    // distributed list (not a closure-captured driver Set): the scoring
    // plan carries the __pop lookup side through a broadcast join
    val plan = res.queryExecution.executedPlan.toString
    plan should include("__pop")
    plan should include("Broadcast")
  }
}
