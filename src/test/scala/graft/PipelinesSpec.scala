package graft

import graft.pipelines.{DnsPipeline, FlowPipeline, ProxyPipeline}
import graft.sources.{Feedback, Sinks}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import java.nio.file.Files

/** End-to-end runs of the three suspicious-connects pipelines on small
  * synthetic frames, plus the feedback TSV source and TSV sink. */
class PipelinesSpec extends SparkSpec {

  import spark.implicits._

  private val rng = new scala.util.Random(42)

  "FlowPipeline" should "train and score netflow-shaped events end-to-end" in {
    val flows = (0 until 400).map { i =>
      (f"2016-05-05 12:00:00", 12, i % 60, i % 60,
        s"10.0.0.${i % 20}", s"172.16.0.${i % 15}",
        if (i % 3 == 0) 80 else 1024 + rng.nextInt(40000),
        if (i % 5 == 0) 0 else rng.nextInt(60000),
        (rng.nextInt(100) + 1).toLong, (rng.nextInt(100000) + 40).toLong)
    }.toDF("treceived", "trhour", "trminute", "trsec",
      "sip", "dip", "dport", "sport", "ipkt", "ibyt")
    val model = FlowPipeline.train(flows, topicCount = 4)
    val out = FlowPipeline.results(flows, model, threshold = 1.0, topK = 25)
    // results keeps both endpoint scores; the rank is their min
    val scores = out.select(least(col("src_score"), col("dst_score"))).as[Double].collect()
    scores.length shouldBe 25
    scores.foreach(s => s should (be >= 0.0 and be <= 1.0))
    scores.toSeq shouldBe scores.sorted.toSeq
    FlowPipeline.score(flows, model).columns should contain allOf ("src_word", "dst_word", "ip_pair")
  }

  it should "reject rows outside valid time ranges" in {
    val flows = Seq(
      ("x", 12, 30, 30, "a", "b", 80, 2000, 1L, 10L),
      ("x", 25, 30, 30, "a", "b", 80, 2000, 1L, 10L), // bad hour
      ("x", 12, 61, 30, "a", "b", 80, 2000, 1L, 10L)  // bad minute
    ).toDF("treceived", "trhour", "trminute", "trsec",
      "sip", "dip", "dport", "sport", "ipkt", "ibyt")
    FlowPipeline.validTimes(flows).count() shouldBe 1
  }

  "DnsPipeline" should "train and score dns-shaped events end-to-end" in {
    val hosts = Seq("services.amazon.com", "a.b.evil.net", "x.y.z.bad.com.mx",
      "9.8.7.6.in-addr.arpa", "short.com")
    val dns = (0 until 300).map { i =>
      (s"t$i", (1000000L + i * 37) % 86400, 40 + i % 500,
        s"10.0.0.${i % 25}", hosts(i % hosts.length), i % 4, i % 3)
    }.toDF("frame_time", "unix_tstamp", "frame_len", "ip_dst",
      "dns_qry_name", "dns_qry_type", "dns_qry_rcode")
    val model = DnsPipeline.train(dns, DnsPipeline.popularFrame(spark, Set("amazon")),
      topicCount = 4)
    val out = DnsPipeline.results(dns, model, threshold = 1.0, topK = 20)
    val scores = out.select("score").as[Double].collect()
    scores.length shouldBe 20
    scores.toSeq shouldBe scores.sorted.toSeq
  }

  "ProxyPipeline" should "train and score proxy-shaped events end-to-end" in {
    val proxy = (0 until 300).map { i =>
      ("2016-05-05", f"${i % 24}%02d:${i % 60}%02d:00", s"10.0.0.${i % 25}",
        s"host${i % 9}.com", if (i % 2 == 0) "GET" else "POST",
        s"agent${i % 3}", "text/plain", s"/p/${rng.nextString(0)}uri$i", s"${200 + (i % 3) * 100}")
    }.toDF("p_date", "p_time", "clientip", "host", "reqmethod",
      "useragent", "resconttype", "fulluri", "respcode")
    val model = ProxyPipeline.train(proxy, DnsPipeline.popularFrame(spark, Set.empty),
      topicCount = 4)
    val out = ProxyPipeline.results(proxy, model, threshold = 1.0, topK = 20)
    val scores = out.select("score").as[Double].collect()
    scores.length shouldBe 20
    scores.toSeq shouldBe scores.sorted.toSeq
  }

  "featurizeWithLookup" should "class intel as 2, popular domains as 1 and the rest as 0 (DNS and proxy)" in {
    // intel is also in the popular list: the safe list wins
    val popular = DnsPipeline.popularFrame(spark, Set("amazon", "evil", "intel"))
    val hosts = Seq("a.amazon.com", "x.evil.net", "www.intel.com", "plain.com",
      "x.other.org")
    val want = Seq("1", "1", "2", "0", "0")
    // the class is the word's first component, and kept as top_domain
    def classes(feats: org.apache.spark.sql.DataFrame, id: String) =
      feats.select(col(id), col("top_domain"), split(col("word"), "_").getItem(0))
        .as[(String, String, String)].collect().sortBy(_._1).toSeq
    val expected = want.zipWithIndex.map { case (c, i) => (s"10.0.0.$i", c, c) }

    val dns = hosts.zipWithIndex.map { case (h, i) =>
      (s"t$i", 100L + i, 40 + i, s"10.0.0.$i", h, i % 4, i % 3)
    }.toDF("frame_time", "unix_tstamp", "frame_len", "ip_dst",
      "dns_qry_name", "dns_qry_type", "dns_qry_rcode")
    val withSub = DnsPipeline.withSubdomains(dns)
    classes(DnsPipeline.featurizeWithLookup(withSub,
      DnsPipeline.computeCuts(withSub), popular), "ip_dst") shouldBe expected

    val proxy = hosts.zipWithIndex.map { case (h, i) =>
      ("2016-05-05", f"$i%02d:00:00", s"10.0.0.$i", h, "GET", s"agent$i",
        "text/plain", s"/p/uri$i", "200")
    }.toDF("p_date", "p_time", "clientip", "host", "reqmethod",
      "useragent", "resconttype", "fulluri", "respcode")
    val withFeats = ProxyPipeline.withFeatures(proxy)
    classes(ProxyPipeline.featurizeWithLookup(withFeats,
      ProxyPipeline.computeCuts(withFeats), popular), "clientip") shouldBe expected
  }

  "Feedback.load" should "read severity-filtered TSV with weight" in {
    val dir = ScratchDirs.create("fb").toFile
    val f = new java.io.File(dir, "scores.tsv")
    val w = new java.io.PrintWriter(f)
    w.println("sev\tip\tscore")
    w.println("3\t10.0.0.1\t0.001")
    w.println("2\t10.0.0.2\t0.5")
    w.println("3\t10.0.0.3\t0.002")
    w.close()
    val schema = StructType(Seq(StructField("sev", IntegerType),
      StructField("ip", StringType), StructField("score", StringType)))
    val got = Feedback.load(spark, f.getAbsolutePath, schema, "sev",
      duplicationFactor = 500)
    got.count() shouldBe 2
    got.select("weight").distinct().as[Long].collect() shouldBe Array(500L)
    // a non-numeric field and a header in another order fail the read
    // instead of nulling the field (and dropping the row) or reading the
    // columns by position
    def write(name: String, lines: String*): String = {
      val p = new java.io.File(dir, name)
      Files.write(p.toPath, lines.mkString("\n").getBytes("UTF-8"))
      p.getAbsolutePath
    }
    val malformed = write("malformed.tsv", "sev\tip\tscore", "3\t10.0.0.1\t0.001",
      "x3\t10.0.0.2\t0.5")
    val swapped = write("swapped.tsv", "ip\tsev\tscore", "10.0.0.1\t3\t0.001")
    for (path <- Seq(malformed, swapped)) withClue(path) {
      an [Exception] should be thrownBy
        Feedback.load(spark, path, schema, "sev", duplicationFactor = 500).collect()
    }
  }

  it should "return an empty frame for a missing file" in {
    val schema = StructType(Seq(StructField("sev", IntegerType)))
    Feedback.load(spark, "/nonexistent/path.tsv", schema, "sev").count() shouldBe 0
  }

  "Sinks.writeTsv" should "write tab-separated results" in {
    val dir = ScratchDirs.create("sink").toFile.getAbsolutePath + "/out"
    Sinks.writeTsv(Seq(("a", 1), ("b", 2)).toDF("k", "v"), dir)
    val lines = spark.read.option("sep", "\t").csv(dir)
      .as[(String, String)].collect().toSet
    lines shouldBe Set(("a", "1"), ("b", "2"))
  }

  "Sinks.writeJsonl/readJsonl" should
    "round-trip a corpus under an explicit schema and surface corrupt lines" in {
    import org.apache.spark.sql.types._
    val dir = ScratchDirs.create("jsonl").toFile.getAbsolutePath + "/docs"
    val docs = Seq((1L, "alpha text", "en"), (2L, "beta text", "fr"))
      .toDF("doc_id", "text", "lang")
    Sinks.writeJsonl(docs, dir)
    val schema = StructType(Seq(StructField("doc_id", LongType),
      StructField("text", StringType), StructField("lang", StringType)))
    Sinks.readJsonl(spark, dir, schema)
      .as[(Long, String, String)].collect().toSet shouldBe
      Set((1L, "alpha text", "en"), (2L, "beta text", "fr"))
    // a malformed line must surface in _corrupt_record, not kill the read
    // or silently vanish
    Files.writeString(java.nio.file.Paths.get(dir, "part-bad.json"),
      """{"doc_id": 3, "text": "good", "lang": "en"}
        |{"doc_id": broken json here
        |""".stripMargin)
    // Spark disallows queries touching ONLY _corrupt_record on a raw
    // json scan — materialize first (the documented pattern)
    val withCorrupt =
      Sinks.readJsonl(spark, dir, schema, keepCorrupt = true).cache()
    try {
      withCorrupt.where(col("_corrupt_record").isNotNull).count() shouldBe 1
      withCorrupt.where(col("_corrupt_record").isNull).count() shouldBe 3
    } finally withCorrupt.unpersist()
    // default drops the diagnostic column but keeps parseable rows
    Sinks.readJsonl(spark, dir, schema).count() shouldBe 4 // 3 good + 1 null row
  }

  "Sinks.writeOrc/readOrc" should
    "round-trip typed columns and prune partitions on read" in {
    val dir = ScratchDirs.create("orc").toFile.getAbsolutePath + "/docs"
    val docs = Seq((1L, "alpha", "en", Seq(0.5, 1.5)),
      (2L, "beta", "fr", Seq(2.0, 3.0)))
      .toDF("doc_id", "text", "lang", "embedding")
    Sinks.writeOrc(docs, dir, partitionCols = Seq("lang"))
    val back = Sinks.readOrc(spark, dir)
    back.select("doc_id", "text", "lang", "embedding")
      .as[(Long, String, String, Seq[Double])].collect().toSet shouldBe
      Set((1L, "alpha", "en", Seq(0.5, 1.5)), (2L, "beta", "fr", Seq(2.0, 3.0)))
    // partition pruning reaches the scan exactly like the parquet path
    val pruned = back.where(col("lang") === "en")
    pruned.queryExecution.executedPlan.collectLeaves().head.toString should
      include ("PartitionFilters: [isnotnull(lang#")
    pruned.select("doc_id", "text", "lang", "embedding")
      .as[(Long, String, String, Seq[Double])].collect()
      .map(_._1).toSeq shouldBe Seq(1L)
  }
}
