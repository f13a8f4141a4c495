package graft

import graft.ml.{ModelIO, TopicModel}
import graft.operators.Scoring
import org.apache.spark.sql.functions._
import java.nio.file.Files

/** Train → save → load → score must be bit-identical (parquet persists the
  * exact doubles), and the legacy beta/gamma text writers must round-trip
  * through the reference-format parsers. */
class PersistenceSpec extends SparkSpec {

  import spark.implicits._

  private def corpus() = (0 until 60).map { i =>
    (s"d${i % 7}", s"w${i % 11}", (i % 3 + 1).toLong)
  }.toDF("doc", "word", "count")

  private def scores(m: TopicModel.Model) = {
    val events = (0 until 40).map(i => (s"d${i % 9}", s"w${i % 13}")).toDF("d", "w")
    Scoring.score(events, col("d"), col("w"), m)
      .select("d", "w", "score").as[(String, String, Double)].collect().sorted.toSeq
  }

  "TopicModel.save/load" should "round-trip to bit-identical scores" in {
    val dir = ScratchDirs.create("tm").toFile.getAbsolutePath
    val m = TopicModel.train(corpus(), topicCount = 4, maxIter = 5)
    TopicModel.save(m, s"$dir/model")
    val loaded = TopicModel.load(spark, s"$dir/model")
    loaded.topicCount shouldBe 4
    scores(loaded) shouldBe scores(m) // exact equality, not approximate
  }

  "FlowPipeline.save/load" should "reload cuts (incl. +Infinity) and score identically" in {
    import graft.pipelines.FlowPipeline
    val dir = ScratchDirs.create("fpm").toFile.getAbsolutePath
    val rng = new scala.util.Random(1)
    val flows = (0 until 300).map { i =>
      ("t", 12, i % 60, i % 60, s"10.0.0.${i % 20}", s"172.16.0.${i % 15}",
        80, 1024 + rng.nextInt(40000), (rng.nextInt(90) + 1).toLong,
        (rng.nextInt(90000) + 40).toLong)
    }.toDF("treceived", "trhour", "trminute", "trsec",
      "sip", "dip", "dport", "sport", "ipkt", "ibyt")
    val m = FlowPipeline.train(flows, topicCount = 3, maxIter = 5)
    FlowPipeline.save(m, s"$dir/m")
    val loaded = FlowPipeline.load(spark, s"$dir/m")
    loaded.cuts.time.toSeq shouldBe m.cuts.time.toSeq
    loaded.cuts.ibyt.toSeq shouldBe m.cuts.ibyt.toSeq
    loaded.cuts.ipkt.toSeq shouldBe m.cuts.ipkt.toSeq
    val a = FlowPipeline.score(flows, m).select("score").as[Double].collect().sorted.toSeq
    val b = FlowPipeline.score(flows, loaded).select("score").as[Double].collect().sorted.toSeq
    b shouldBe a
    // +Infinity cuts survive parquet (JSON would mangle them)
    import graft.pipelines.DnsPipeline
    val infModel = DnsPipeline.Model(
      DnsPipeline.Cuts(Array(1.0), Array.fill(3)(Double.PositiveInfinity),
        Array(0.5), Array(2.0), Array(3.0)),
      DnsPipeline.popularFrame(spark, Set("amazon")), m.topics, 3)
    DnsPipeline.save(infModel, s"$dir/dns")
    val dnsLoaded = DnsPipeline.load(spark, s"$dir/dns")
    dnsLoaded.cuts.frameLen.toSeq shouldBe Seq.fill(3)(Double.PositiveInfinity)
    dnsLoaded.popular.collect().map(_.getString(0)).toSeq shouldBe Seq("amazon")
  }

  /** The Spark schema a parquet part file under `dir` was written with. */
  private def writtenSchema(dir: String): org.apache.spark.sql.types.DataType = {
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    val part = new java.io.File(dir).listFiles()
      .filter(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet")).head
    val reader = ParquetFileReader.open(HadoopInputFile.fromPath(
      new org.apache.hadoop.fs.Path(part.getAbsolutePath),
      spark.sparkContext.hadoopConfiguration))
    try org.apache.spark.sql.types.DataType.fromJson(reader.getFooter.getFileMetaData
      .getKeyValueMetaData.get("org.apache.spark.sql.parquet.row.metadata"))
    finally reader.close()
  }

  private def entries(dir: String): Set[String] =
    new java.io.File(dir).list().filterNot(n => n.startsWith(".") || n.startsWith("_")).toSet

  "The flow/DNS/proxy model stores" should
    "keep the topics/meta/popular layout, reload to identical scores, and migrate legacy meta" in {
    import graft.pipelines.{DnsPipeline, FlowPipeline, ProxyPipeline}
    val dir = ScratchDirs.create("stores").toFile.getAbsolutePath
    val rng = new scala.util.Random(3)
    val popular = DnsPipeline.popularFrame(spark, Set("amazon", "evil"))
    // meta as the Seq-of-tuples `toDF` of earlier versions wrote it:
    // array<double> cut columns (no null elements), non-null int count
    def metaOf(names: String*) = {
      val s = Seq(0.0)
      (names.size match {
        case 4 => Seq((s, s, s, 0)).toDF(names: _*)
        case 6 => Seq((s, s, s, s, s, 0)).toDF(names: _*)
      }).schema
    }

    val flows = (0 until 300).map { i =>
      ("t", 12, i % 60, i % 60, s"10.0.0.${i % 20}", s"172.16.0.${i % 15}",
        80, 1024 + rng.nextInt(40000), (rng.nextInt(90) + 1).toLong,
        (rng.nextInt(90000) + 40).toLong)
    }.toDF("treceived", "trhour", "trminute", "trsec",
      "sip", "dip", "dport", "sport", "ipkt", "ibyt")
    val fm = FlowPipeline.train(flows, topicCount = 3, maxIter = 5)
    FlowPipeline.save(fm, s"$dir/flow")
    entries(s"$dir/flow") shouldBe Set("topics", "meta")
    writtenSchema(s"$dir/flow/meta") shouldBe
      metaOf("time_cuts", "ibyt_cuts", "ipkt_cuts", "topic_count")
    def flowScores(m: FlowPipeline.Model) =
      FlowPipeline.score(flows, m).select("score").as[Double].collect().sorted.toSeq
    flowScores(FlowPipeline.load(spark, s"$dir/flow")) shouldBe flowScores(fm)

    val hosts = Seq("services.amazon.com", "a.b.evil.net", "x.y.z.bad.com.mx",
      "www.intel.com", "short.com")
    val dns = (0 until 200).map { i =>
      (s"t$i", (1000000L + i * 37) % 86400, 40 + i % 500,
        s"10.0.0.${i % 25}", hosts(i % hosts.length), i % 4, i % 3)
    }.toDF("frame_time", "unix_tstamp", "frame_len", "ip_dst",
      "dns_qry_name", "dns_qry_type", "dns_qry_rcode")
    val dm = DnsPipeline.train(dns, popular, topicCount = 3, maxIter = 5)
    DnsPipeline.save(dm, s"$dir/dns")
    entries(s"$dir/dns") shouldBe Set("topics", "meta", "popular")
    writtenSchema(s"$dir/dns/meta") shouldBe metaOf("time_cuts", "frame_len_cuts",
      "sub_len_cuts", "entropy_cuts", "num_periods_cuts", "topic_count")
    def dnsScores(m: DnsPipeline.Model) = DnsPipeline.score(dns, m)
      .select("frame_time", "word", "score").as[(String, String, Double)].collect().sorted.toSeq
    val dnsLoaded = DnsPipeline.load(spark, s"$dir/dns")
    dnsLoaded.popular.collect().map(_.getString(0)).sorted.toSeq shouldBe Seq("amazon", "evil")
    dnsScores(dnsLoaded) shouldBe dnsScores(dm)

    val proxy = (0 until 200).map { i =>
      ("2016-05-05", f"${i % 24}%02d:${i % 60}%02d:00", s"10.0.0.${i % 25}",
        hosts(i % hosts.length), if (i % 2 == 0) "GET" else "POST",
        s"agent${i % 3}", "text/plain", s"/p/uri$i", s"${200 + (i % 3) * 100}")
    }.toDF("p_date", "p_time", "clientip", "host", "reqmethod",
      "useragent", "resconttype", "fulluri", "respcode")
    val pm = ProxyPipeline.train(proxy, popular, topicCount = 3, maxIter = 5)
    ProxyPipeline.save(pm, s"$dir/proxy")
    entries(s"$dir/proxy") shouldBe Set("topics", "meta", "popular")
    writtenSchema(s"$dir/proxy/meta") shouldBe
      metaOf("time_cuts", "entropy_cuts", "agent_cuts", "topic_count")
    def proxyScores(m: ProxyPipeline.Model) = ProxyPipeline.score(proxy, m)
      .select("fulluri", "word", "score").as[(String, String, Double)].collect().sorted.toSeq
    val proxyLoaded = ProxyPipeline.load(spark, s"$dir/proxy")
    proxyLoaded.popular.collect().map(_.getString(0)).sorted.toSeq shouldBe Seq("amazon", "evil")
    proxyScores(proxyLoaded) shouldBe proxyScores(pm)

    // legacy stores: the popularity list as a meta column, no popular/ dir
    val cut = Seq(1.0, Double.PositiveInfinity)
    TopicModel.save(dm.topics, s"$dir/dns_legacy/topics")
    Seq((cut, cut, cut, cut, cut, Seq("amazon", "evil"), 3))
      .toDF("time_cuts", "frame_len_cuts", "sub_len_cuts", "entropy_cuts",
        "num_periods_cuts", "popular_domains", "topic_count")
      .write.parquet(s"$dir/dns_legacy/meta")
    val dnsLegacy = DnsPipeline.load(spark, s"$dir/dns_legacy")
    dnsLegacy.popular.collect().map(_.getString(0)).sorted.toSeq shouldBe Seq("amazon", "evil")
    dnsLegacy.cuts.numPeriods.toSeq shouldBe cut
    dnsLegacy.topicCount shouldBe 3
    TopicModel.save(pm.topics, s"$dir/proxy_legacy/topics")
    Seq((cut, cut, cut, Seq("intel"), 3))
      .toDF("time_cuts", "entropy_cuts", "agent_cuts", "popular_domains", "topic_count")
      .write.parquet(s"$dir/proxy_legacy/meta")
    val proxyLegacy = ProxyPipeline.load(spark, s"$dir/proxy_legacy")
    proxyLegacy.popular.collect().map(_.getString(0)).toSeq shouldBe Seq("intel")
    proxyLegacy.cuts.agent.toSeq shouldBe cut
    // a legacy store re-saves in today's layout
    ProxyPipeline.save(proxyLegacy, s"$dir/proxy_resaved")
    entries(s"$dir/proxy_resaved") shouldBe Set("topics", "meta", "popular")
    proxyScores(ProxyPipeline.load(spark, s"$dir/proxy_resaved")) shouldBe
      proxyScores(proxyLegacy)
  }

  "ModelIO beta/gamma writers" should "round-trip through the reference parsers" in {
    val m = TopicModel.train(corpus(), topicCount = 4, maxIter = 5)
    val (betaLines, wordIndex) = ModelIO.exportBetaLines(m)
    // sentinel: one extra trailing column beyond the vocabulary
    betaLines.head.split(" ").length shouldBe (wordIndex.size + 1)
    val gamma = ModelIO.exportGammaLines(m)
      .as[(String, String)].collect().toSeq.sortBy(_._1)
    val docs = gamma.map(_._1)
    val imported = ModelIO.importLegacyModel(spark, docs,
      gamma.map(_._2), betaLines, wordIndex)
    imported.topicCount shouldBe m.topicCount
    val a = scores(m)
    val b = scores(imported)
    a.size shouldBe b.size
    a.zip(b).foreach { case ((d1, w1, s1), (d2, w2, s2)) =>
      (d1, w1) shouldBe ((d2, w2))
      s2 shouldBe s1 +- 1e-12
    }
  }
}
