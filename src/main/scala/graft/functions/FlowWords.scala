package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Netflow word construction — both-endpoint "words" describing a flow event.
  *
  * Semantics reproduce the reference's `adjustPort`
  * (reference: netflow/FlowWordCreation.scala:94-144) exactly — the 14
  * port-class × ip-order unit cases are the contract — but are expressed
  * as column expressions (CASE WHEN, concat_ws, casts) instead of an RDD
  * rebuild. None of them is a CodegenFallback, so they compile into the
  * surrounding WholeStageCodegen stage; whether the featurization as a
  * whole does depends on its bins too ([[Binning.binCol]], guarded by
  * FunctionsSpec's codegen case).
  *
  * Port classes (evaluated in this order):
  *   2: exactly one port <= 1024 and neither is 0 → wordPort = min port,
  *      the LOW-port side's word is prefixed "-1_" (it's the well-known
  *      service side).
  *   3: both ports > 1024 → wordPort = 333333.
  *   4: exactly one port is 0 → wordPort = the nonzero port, the
  *      NONZERO-port side's word is prefixed "-1_".
  *   1: otherwise (both <= 1024) → wordPort = 111111, or max port when the
  *      min is 0 (i.e. both 0 → 0).
  *
  * Note: the reference's `sourceIp != 0` guard on ip-pair ordering compares
  * String to Int (always true in Scala 2.10); the observable behavior is
  * plain lexicographic ordering, which is what we implement.
  */
object FlowWords {

  final case class FlowWord(portWord: String, ipPair: String, srcWord: String, dstWord: String)

  def adjustPort(sourceIp: String, destinationIp: String,
                 destinationPort: Int, sourcePort: Int,
                 ipktBin: Double, ibytBin: Double, timeBin: Double): FlowWord = {
    val ipPair =
      if (sourceIp < destinationIp) s"$sourceIp $destinationIp"
      else s"$destinationIp $sourceIp"

    val minP = math.min(destinationPort, sourcePort)
    val maxP = math.max(destinationPort, sourcePort)
    val case2 = (destinationPort <= 1024 || sourcePort <= 1024) &&
      (destinationPort > 1024 || sourcePort > 1024) && minP != 0
    val case3 = destinationPort > 1024 && sourcePort > 1024
    val case4a = destinationPort == 0 && sourcePort != 0
    val case4b = sourcePort == 0 && destinationPort != 0

    val wordPort: Double =
      if (case2) minP.toDouble
      else if (case3) 333333.0
      else if (case4a) sourcePort.toDouble
      else if (case4b) destinationPort.toDouble
      else if (minP == 0) maxP.toDouble
      else 111111.0

    val word = Array(wordPort.toString, timeBin.toString, ibytBin.toString, ipktBin.toString)
      .mkString("_")
    var srcWord = word
    var dstWord = word
    if (case2 && destinationPort < sourcePort) dstWord = "-1_" + dstWord
    else if (case2 && sourcePort < destinationPort) srcWord = "-1_" + srcWord
    else if (case4a) srcWord = "-1_" + srcWord
    else if (case4b) dstWord = "-1_" + dstWord
    FlowWord(wordPort.toString, ipPair, srcWord, dstWord)
  }

  /** Column-expression form. Returns (port_word, ip_pair, src_word, dst_word).
    * Ports are int columns; bins are int columns (rendered as "7.0" to match
    * the reference's Double.toString word vocabulary). */
  def flowWordCols(sip: Column, dip: Column, dport: Column, sport: Column,
                   ipktBin: Column, ibytBin: Column, timeBin: Column)
      : (Column, Column, Column, Column) = {
    val minP = least(dport, sport)
    val maxP = greatest(dport, sport)
    val case2 = (dport <= 1024 || sport <= 1024) && (dport > 1024 || sport > 1024) && minP =!= 0
    val case3 = dport > 1024 && sport > 1024
    val case4a = dport === 0 && sport =!= 0
    val case4b = sport === 0 && dport =!= 0

    val wordPort = when(case2, minP.cast("double"))
      .when(case3, lit(333333.0))
      .when(case4a, sport.cast("double"))
      .when(case4b, dport.cast("double"))
      .otherwise(when(minP === 0, maxP.cast("double")).otherwise(lit(111111.0)))

    def d2s(c: Column): Column = c.cast("double").cast("string")
    val word = concat_ws("_", d2s(wordPort), d2s(timeBin), d2s(ibytBin), d2s(ipktBin))
    val ipPair = when(sip < dip, concat_ws(" ", sip, dip)).otherwise(concat_ws(" ", dip, sip))
    val srcWord = when((case2 && sport < dport) || case4a, concat(lit("-1_"), word)).otherwise(word)
    val dstWord = when((case2 && dport < sport) || case4b, concat(lit("-1_"), word)).otherwise(word)
    (d2s(wordPort), ipPair, srcWord, dstWord)
  }
}
