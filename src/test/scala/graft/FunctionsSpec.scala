package graft

import graft.functions._
import org.apache.spark.sql.functions._

/** Golden-value semantics locks ported from the reference engine's unit
  * tests (reference: DNSWordCreationTest.scala, DomainProcessorTest.scala,
  * FlowWordCreationTest.scala, QuantilesTest.scala:146-160), plus parity
  * checks between pure-Scala forms and the column-expression forms.
  */
class FunctionsSpec extends SparkSpec {

  // --- entropy (reference: DNSWordCreationTest.scala:86-92) ---

  "stringEntropy" should "match the reference golden value for abcdefg" in {
    Entropy.stringEntropy("abcdefg") shouldBe 2.807354922057604 +- 1e-12
  }

  it should "be 0 for empty and null-safe" in {
    Entropy.stringEntropy("") shouldBe 0.0
    Entropy.stringEntropy("aaaa") shouldBe 0.0
  }

  "string_entropy expression" should "agree with the pure function" in {
    import spark.implicits._
    val vals = Seq("abcdefg", "", "aaaa", "hello world", "10.0.2.115", "a b c d e f")
    val got = vals.toDF("s")
      .select(Entropy.string_entropy(col("s"))).as[Double].collect()
    got.zip(vals.map(Entropy.stringEntropy)).foreach { case (g, w) =>
      g shouldBe w +- 1e-12
    }
  }

  // --- binning (reference: QuantilesTest.scala:146-160) ---

  "bin" should "reproduce the reference cut semantics including -1 above max" in {
    val cuts = Array(1.0, 2.0, 3.0, 4.0, 5.0)
    Binning.bin(3.5, cuts) shouldBe 3
    Binning.bin(0.0, cuts) shouldBe 0
    Binning.bin(5.0, cuts) shouldBe 4
    Binning.bin(99.0, cuts) shouldBe -1
    Binning.bin(1.0, cuts) shouldBe 0
  }

  "binCol" should "agree with the pure bin on a value sweep" in {
    import spark.implicits._
    val cutSets = Seq(
      Seq(1.0, 2.0, 3.0, 4.0, 5.0),
      Seq(1.0, 2.0, 2.0, 3.0, Double.PositiveInfinity), // duplicate + infinite cuts
      Seq.empty[Double])
    val edges = Seq(Double.NaN, Double.PositiveInfinity, Double.NegativeInfinity)
    cutSets.foreach { cuts =>
      // the sweep, every cut exactly, NaN and both infinities
      val vals = (-10 to 120).map(_ / 10.0) ++ cuts ++ edges
      val got = vals.toDF("v")
        .select(Binning.binCol(col("v"), cuts)).as[Int].collect()
      withClue(s"cuts $cuts: ") {
        got.toSeq shouldBe vals.map(v => Binning.bin(v, cuts.toArray))
      }
      withClue(s"NULL value, cuts $cuts: ") {
        Seq(Option.empty[Double]).toDF("v")
          .select(Binning.binCol(col("v"), cuts)).as[Int].head() shouldBe -1
      }
    }
  }

  it should "compile to generated code, and so should FlowPipeline.results" in {
    import spark.implicits._
    import graft.pipelines.FlowPipeline
    import org.apache.spark.sql.catalyst.expressions.Expression
    import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    def fallbacks(es: Seq[Expression]): Seq[String] =
      es.flatMap(_.collect { case f: CodegenFallback => f.prettyName })

    val binned = Seq(1.5).toDF("v").select(Binning.binCol(col("v"), Seq(1.0, 2.0)))
    fallbacks(binned.queryExecution.analyzed.expressions) shouldBe empty

    val flows = (0 until 200).map { i =>
      ("t", i % 24, i % 60, i % 60, s"10.0.0.${i % 20}", s"172.16.0.${i % 15}",
        if (i % 3 == 0) 80 else 2000 + i, 1024 + i, (i % 90 + 1).toLong,
        (i * 37 % 9000 + 40).toLong)
    }.toDF("treceived", "trhour", "trminute", "trsec",
      "sip", "dip", "dport", "sport", "ipkt", "ibyt")
    val topics = graft.ml.TopicModel.Model(
      Seq(("10.0.0.1", Seq(0.7, 0.3))).toDF("doc", "topic_mix"),
      Seq(("80.0_1.0_2.0_3.0", Seq(0.2, 0.1))).toDF("word", "topic_prob"),
      topicCount = 2)
    val model = FlowPipeline.Model(FlowPipeline.Cuts(
      time = Array(6.0, 12.0, 18.0, Double.PositiveInfinity),
      ibyt = Array(100.0, 1000.0), ipkt = Array(10.0, 50.0)), topics, 2)
    val results = FlowPipeline.results(flows, model, threshold = 1.0, topK = -1)
    results.collect().length shouldBe 200
    // the final AQE plan, query stages and subqueries included
    val plan = results.queryExecution.executedPlan
    val helper = new AdaptiveSparkPlanHelper {}
    val found = helper.collectWithSubqueries(plan) {
      case p: SparkPlan => fallbacks(p.expressions)
    }.flatten
    withClue(s"plan:\n$plan\n") { found shouldBe empty }
  }

  // --- domains (reference: DomainProcessorTest.scala:12-67) ---

  "extractDomain" should "handle TLD+country code" in {
    Domains.extractDomain("fatosdesconhecidos.com.br") shouldBe "fatosdesconhecidos"
  }
  it should "handle country code only, short and long" in {
    Domains.extractDomain("panasonic.jp") shouldBe "panasonic"
    Domains.extractDomain("get.your.best.electronic.at.panasonic.jp") shouldBe "panasonic"
  }
  it should "handle TLD only, short and long" in {
    Domains.extractDomain("forrealz.net") shouldBe "forrealz"
    Domains.extractDomain("wow.its.really.long.forrealz.net") shouldBe "forrealz"
  }
  it should "return None for reverse-IP and unknown suffixes" in {
    Domains.extractDomain("123.103.104.10.in-addr.arpa") shouldBe "None"
    Domains.extractDomain("panasonic.c") shouldBe "None"
  }

  // --- subdomains (reference: DNSWordCreationTest.scala:13-83) ---

  "extractSubdomain" should "handle reverse-IP addresses" in {
    Domains.extractSubdomain("123.103.104.10.in-addr.arpa") shouldBe
      ("None", "None", 0.0, 6.0)
  }
  it should "handle 4-part ccTLD names" in {
    Domains.extractSubdomain("services.amazon.com.mx") shouldBe
      ("amazon", "services", 8.0, 4.0)
  }
  it should "handle 3-part ccTLD names with no subdomain" in {
    Domains.extractSubdomain("amazon.com.mx") shouldBe ("amazon", "None", 0.0, 3.0)
  }
  it should "handle 3-part TLD names" in {
    Domains.extractSubdomain("services.amazon.com") shouldBe
      ("amazon", "services", 8.0, 3.0)
  }
  it should "return None for 2-part names" in {
    Domains.extractSubdomain("amazon.com") shouldBe ("None", "None", 0.0, 2.0)
  }

  // --- time ---

  "fractionalHour" should "compute h + m/60 + s/3600" in {
    TimeFunctions.fractionalHour(12, 59, 32) shouldBe 12.992222 +- 1e-6
  }
  "secondsOfDay" should "parse HH:MM:SS" in {
    TimeFunctions.secondsOfDay("01:02:03") shouldBe 3723.0
  }

  // --- signature agreement (native vs interpreted HOF parity) ---

  "signature_agree" should "match the zip_with/filter HOF form position by position" in {
    import spark.implicits._
    // equal, disjoint, partial, null-element, and length-mismatch shapes
    val rows: Seq[(Seq[java.lang.Long], Seq[java.lang.Long])] = Seq(
      (Seq[java.lang.Long](1L, 2L, 3L, 4L), Seq[java.lang.Long](1L, 2L, 3L, 4L)),
      (Seq[java.lang.Long](1L, 2L, 3L, 4L), Seq[java.lang.Long](5L, 6L, 7L, 8L)),
      (Seq[java.lang.Long](1L, 2L, 3L, 4L), Seq[java.lang.Long](1L, 9L, 3L, 9L)),
      (Seq[java.lang.Long](1L, null, 3L, 4L), Seq[java.lang.Long](1L, null, 3L, 9L)),
      (Seq[java.lang.Long](1L, 2L), Seq[java.lang.Long](1L, 2L, 3L)))
    val df = rows.toDF("a", "b")
    val got = df.select(
      SignatureOps.signature_agree(col("a"), col("b")).as("native"),
      org.apache.spark.sql.functions.size( // scalatest Matchers shadows size
        filter(zip_with(col("a"), col("b"), (x, y) => x === y),
          (p: org.apache.spark.sql.Column) => p)).as("hof"))
      .as[(Int, Int)].collect()
    got.foreach { case (native, hof) => native shouldBe hof }
    got.map(_._1).toSeq shouldBe Seq(4, 0, 2, 2, 2)
  }

  // --- sorted intersection count (native vs interpreted parity) ---

  "sorted_intersect_count" should "match size(array_intersect) on sorted distinct arrays" in {
    import spark.implicits._
    // equal, disjoint, partial overlap, empty side, subset, unicode order
    val rows: Seq[(Seq[String], Seq[String])] = Seq(
      (Seq("a", "b", "c"), Seq("a", "b", "c")),
      (Seq("a", "b"), Seq("c", "d")),
      (Seq("a", "c", "e", "g"), Seq("b", "c", "d", "g")),
      (Seq.empty[String], Seq("a")),
      (Seq("b"), Seq("a", "b", "c")),
      (Seq("é", "a").sorted, Seq("é", "z").sorted))
    val df = rows.toDF("a", "b")
      .select(sort_array(col("a")).as("a"), sort_array(col("b")).as("b"))
    val got = df.select(
      SetOps.sorted_intersect_count(col("a"), col("b")).as("native"),
      org.apache.spark.sql.functions.size(
        array_intersect(col("a"), col("b"))).cast("long").as("builtin"))
      .as[(Long, Long)].collect()
    got.foreach { case (native, builtin) => native shouldBe builtin }
    got.map(_._1).toSeq shouldBe Seq(3L, 0L, 2L, 0L, 1L, 1L)
  }

  it should "stay null-safe and work through the SQL registry" in {
    import spark.implicits._
    val df = Seq[(Option[Seq[String]], Option[Seq[String]])](
      (None, Some(Seq("a"))), (Some(Seq("a")), None),
      (Some(Seq("a", "b")), Some(Seq("b", "c")))).toDF("a", "b")
    df.select(SetOps.sorted_intersect_count(col("a"), col("b")))
      .as[Option[Long]].collect().toSeq shouldBe Seq(None, None, Some(1L))
    df.createOrReplaceTempView("sic_probe")
    spark.sql("SELECT sorted_intersect_count(a, b) FROM sic_probe")
      .as[Option[Long]].collect().toSeq shouldBe Seq(None, None, Some(1L))
  }

  "nfc" should "compose decomposed sequences and pass NFC text through" in {
    import spark.implicits._
    val df = Seq(
      "Cafe\u0301",  // e + combining acute \u2192 \u00e9
      "A\u030arhus", // A + combining ring \u2192 \u00c5
      "caf\u00e9",   // already NFC \u2014 identity
      "").toDF("s")
    val got = df.select(Normalize.nfc(col("s"))).as[String].collect().toSeq
    got shouldBe Seq("Caf\u00e9", "\u00c5rhus", "caf\u00e9", "")
  }

  it should "stay null-safe" in {
    import spark.implicits._
    val df = Seq[Option[String]](None, Some("x")).toDF("s")
    df.select(Normalize.nfc(col("s"))).as[Option[String]].collect().toSet shouldBe
      Set(None, Some("x"))
  }

  "pseudonymize" should "tokenize identically across frames under one secret" in {
    import spark.implicits._
    def ph(s: String) = s.foldLeft(0L)((h, c) => (h * 31 + c) % 1000000007L)
    val a = Seq(42L, 7L).toDF("k")
      .select(TextFunctions.pseudonymize(col("k"), "sec").as("pid"))
      .as[String].collect().toSeq
    a shouldBe Seq(s"pid_${ph("sec:42")}", s"pid_${ph("sec:7")}")
    // a different secret unlinks the tokens
    val b = Seq(42L).toDF("k")
      .select(TextFunctions.pseudonymize(col("k"), "other").as("pid"))
      .as[String].collect().head
    b should not be a.head
  }

  "normalizeText" should "strip controls, collapse whitespace, and trim" in {
    import spark.implicits._
    val df = Seq("  ab\t\tCafé  x \r\n ").toDF("s")
    df.select(Normalize.normalizeText(col("s"))).as[String].collect().head shouldBe
      "ab Café x"
  }
}
