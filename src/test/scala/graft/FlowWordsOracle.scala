package graft

/** The reference's `adjustPort` (netflow/FlowWordCreation.scala:94-144) as
  * a pure function over one flow: the oracle [[graft.functions.FlowWords]]'s
  * column expressions are checked against (FlowWordsSpec, PropertiesSpec).
  * The port-class rules are documented on [[graft.functions.FlowWords]].
  */
object FlowWordsOracle {

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
}
