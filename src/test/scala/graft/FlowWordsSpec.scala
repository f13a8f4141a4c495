package graft

import graft.functions.FlowWords
import org.apache.spark.sql.functions._

/** The 14 adjustPort port-class × ip-order golden cases, re-expressed from
  * the reference's contract (reference: FlowWordCreationTest.scala:19-229;
  * word component order port_time_ibyt_ipkt per FlowWordCreation.scala:130).
  * Bins fixed at ipkt=4, ibyt=7, time=7 as in the reference fixture.
  */
class FlowWordsSpec extends SparkSpec {

  private val srcLess = ("10.0.2.115", "172.16.0.107") // sip < dip
  private val dstLess = ("172.16.0.107", "10.0.2.115") // sip > dip
  private val pair = "10.0.2.115 172.16.0.107"

  private def run(ips: (String, String), dport: Int, sport: Int) =
    FlowWordsOracle.adjustPort(ips._1, ips._2, dport, sport, 4.0, 7.0, 7.0)

  behavior of "adjustPort"

  it should "case 1: sip<dip, dport<=1024<sport" in {
    val r = run(srcLess, 23, 2132)
    (r.ipPair, r.portWord, r.srcWord, r.dstWord) shouldBe
      (pair, "23.0", "23.0_7.0_7.0_4.0", "-1_23.0_7.0_7.0_4.0")
  }
  it should "case 2: sip<dip, sport<=1024<dport" in {
    val r = run(srcLess, 2132, 23)
    (r.ipPair, r.portWord, r.srcWord, r.dstWord) shouldBe
      (pair, "23.0", "-1_23.0_7.0_7.0_4.0", "23.0_7.0_7.0_4.0")
  }
  it should "case 3: sip<dip, both > 1024" in {
    val r = run(srcLess, 9874, 8392)
    (r.ipPair, r.portWord, r.srcWord, r.dstWord) shouldBe
      (pair, "333333.0", "333333.0_7.0_7.0_4.0", "333333.0_7.0_7.0_4.0")
  }
  it should "case 4: sip<dip, dport=0, sport!=0" in {
    val r = run(srcLess, 0, 80)
    (r.ipPair, r.portWord, r.srcWord, r.dstWord) shouldBe
      (pair, "80.0", "-1_80.0_7.0_7.0_4.0", "80.0_7.0_7.0_4.0")
  }
  it should "case 5: sip<dip, sport=0, dport!=0" in {
    val r = run(srcLess, 43, 0)
    (r.ipPair, r.portWord, r.srcWord, r.dstWord) shouldBe
      (pair, "43.0", "43.0_7.0_7.0_4.0", "-1_43.0_7.0_7.0_4.0")
  }
  it should "case 6: sip<dip, both <= 1024" in {
    val r = run(srcLess, 80, 1024)
    (r.ipPair, r.portWord, r.srcWord, r.dstWord) shouldBe
      (pair, "111111.0", "111111.0_7.0_7.0_4.0", "111111.0_7.0_7.0_4.0")
  }
  it should "case 7: sip<dip, both 0" in {
    val r = run(srcLess, 0, 0)
    (r.ipPair, r.portWord, r.srcWord, r.dstWord) shouldBe
      (pair, "0.0", "0.0_7.0_7.0_4.0", "0.0_7.0_7.0_4.0")
  }
  it should "case 8: sip>dip, dport<=1024<sport" in {
    val r = run(dstLess, 43, 3245)
    (r.ipPair, r.portWord, r.srcWord, r.dstWord) shouldBe
      (pair, "43.0", "43.0_7.0_7.0_4.0", "-1_43.0_7.0_7.0_4.0")
  }
  it should "case 9: sip>dip, sport<=1024<dport" in {
    val r = run(dstLess, 2435, 80)
    (r.ipPair, r.portWord, r.srcWord, r.dstWord) shouldBe
      (pair, "80.0", "-1_80.0_7.0_7.0_4.0", "80.0_7.0_7.0_4.0")
  }
  it should "case 10: sip>dip, both > 1024" in {
    val r = run(dstLess, 2435, 2354)
    (r.ipPair, r.portWord, r.srcWord, r.dstWord) shouldBe
      (pair, "333333.0", "333333.0_7.0_7.0_4.0", "333333.0_7.0_7.0_4.0")
  }
  it should "case 11: sip>dip, dport=0, sport!=0" in {
    val r = run(dstLess, 0, 80)
    (r.ipPair, r.portWord, r.srcWord, r.dstWord) shouldBe
      (pair, "80.0", "-1_80.0_7.0_7.0_4.0", "80.0_7.0_7.0_4.0")
  }
  it should "case 12: sip>dip, sport=0, dport!=0" in {
    val r = run(dstLess, 2435, 0)
    (r.ipPair, r.portWord, r.srcWord, r.dstWord) shouldBe
      (pair, "2435.0", "2435.0_7.0_7.0_4.0", "-1_2435.0_7.0_7.0_4.0")
  }
  it should "case 13: sip>dip, both <= 1024" in {
    val r = run(dstLess, 1024, 80)
    (r.ipPair, r.portWord, r.srcWord, r.dstWord) shouldBe
      (pair, "111111.0", "111111.0_7.0_7.0_4.0", "111111.0_7.0_7.0_4.0")
  }
  it should "case 14: sip>dip, both 0" in {
    val r = run(dstLess, 0, 0)
    (r.ipPair, r.portWord, r.srcWord, r.dstWord) shouldBe
      (pair, "0.0", "0.0_7.0_7.0_4.0", "0.0_7.0_7.0_4.0")
  }

  "flowWordCols" should "agree with the pure adjustPort on a port sweep" in {
    import spark.implicits._
    val ports = Seq(0, 1, 23, 80, 1024, 1025, 2132, 9874, 65535)
    val rows = for {
      s <- ports; d <- ports
      (sip, dip) <- Seq(srcLess, dstLess)
    } yield (sip, dip, d, s)
    val df = rows.toDF("sip", "dip", "dport", "sport")
    val (pw, ip, sw, dw) = FlowWords.flowWordCols(
      col("sip"), col("dip"), col("dport"), col("sport"),
      lit(4), lit(7), lit(7))
    val got = df.select(col("sip"), col("dip"), col("dport"), col("sport"),
      pw.as("pw"), ip.as("ip"), sw.as("sw"), dw.as("dw"))
      .as[(String, String, Int, Int, String, String, String, String)]
      .collect()
    got.foreach { case (sip, dip, d, s, gpw, gip, gsw, gdw) =>
      val w = FlowWordsOracle.adjustPort(sip, dip, d, s, 4.0, 7.0, 7.0)
      withClue(s"dport=$d sport=$s: ") {
        (gpw, gip, gsw, gdw) shouldBe (w.portWord, w.ipPair, w.srcWord, w.dstWord)
      }
    }
  }
}
