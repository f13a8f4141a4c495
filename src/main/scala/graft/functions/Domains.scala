package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Domain / subdomain extraction with the reference engine's semantics.
  *
  * Reference: utilities/DomainProcessor.scala:28-65 (extractDomain) and
  * dns/DNSWordCreation.scala:157-196 (extractSubdomain). Country-code and
  * TLD sets reproduced as data (public ISO 3166 codes + the classic gTLDs),
  * including the reference's quirks: `krd` and `""` appear in its
  * country-code list, `in-addr.arpa` reverse-IP detection, and the
  * `"None"` sentinel for missing domains.
  */
object Domains extends Serializable {

  val CountryCodes: Set[String] = Set(
    "ac", "ad", "ae", "af", "ag", "ai", "al", "am", "an", "ao", "aq", "ar", "as", "at", "au",
    "aw", "ax", "az", "ba", "bb", "bd", "be", "bf", "bg", "bh", "bi", "bj", "bm", "bn", "bo",
    "bq", "br", "bs", "bt", "bv", "bw", "by", "bz", "ca", "cc", "cd", "cf", "cg", "ch", "ci",
    "ck", "cl", "cm", "cn", "co", "cr", "cu", "cv", "cw", "cx", "cy", "cz", "de", "dj", "dk",
    "dm", "do", "dz", "ec", "ee", "eg", "eh", "er", "es", "et", "eu", "fi", "fj", "fk", "fm",
    "fo", "fr", "ga", "gb", "gd", "ge", "gf", "gg", "gh", "gi", "gl", "gm", "gn", "gp", "gq",
    "gr", "gs", "gt", "gu", "gw", "gy", "hk", "hm", "hn", "hr", "ht", "hu", "id", "ie", "il",
    "im", "in", "io", "iq", "ir", "is", "it", "je", "jm", "jo", "jp", "ke", "kg", "kh", "ki",
    "km", "kn", "kp", "kr", "krd", "kw", "ky", "kz", "la", "lb", "lc", "li", "lk", "lr", "ls",
    "lt", "lu", "lv", "ly", "ma", "mc", "md", "me", "mg", "mh", "mk", "ml", "mm", "mn", "mo",
    "mp", "mq", "mr", "ms", "mt", "mu", "mv", "mw", "mx", "my", "mz", "na", "nc", "ne", "nf",
    "ng", "ni", "nl", "no", "np", "nr", "nu", "nz", "om", "pa", "pe", "pf", "pg", "ph", "pk",
    "pl", "pm", "pn", "pr", "ps", "pt", "pw", "py", "qa", "re", "ro", "rs", "ru", "rw", "sa",
    "sb", "sc", "sd", "se", "sg", "sh", "si", "sj", "", "sk", "sl", "sm", "sn", "so", "sr",
    "ss", "st", "su", "sv", "sx", "sy", "sz", "tc", "td", "tf", "tg", "th", "tj", "tk", "tl",
    "tm", "tn", "to", "tp", "tr", "tt", "tv", "tw", "tz", "ua", "ug", "uk", "us", "uy", "uz",
    "va", "vc", "ve", "vg", "vi", "vn", "vu", "wf", "ws", "ye", "yt", "za", "zm", "zw")

  val TopLevelDomains: Set[String] = Set("com", "org", "net", "int", "edu", "gov", "mil")

  val NoDomain = "None"

  /** Second-level domain of a URL/hostname, or "None" for reverse-IP
    * (`*.in-addr.arpa`) names or names without a recognized TLD/ccTLD. */
  def extractDomain(url: String): String = {
    val parts = url.split('.')
    val n = parts.length
    if (n > 2 && parts(n - 1) == "arpa" && parts(n - 2) == "in-addr") NoDomain
    else if (!CountryCodes.contains(parts.last) && !TopLevelDomains.contains(parts.last)) NoDomain
    else {
      val stripped = dropIf(dropIf(parts, CountryCodes), TopLevelDomains)
      if (stripped.nonEmpty) stripped.last else NoDomain
    }
  }

  private def dropIf(parts: Array[String], set: Set[String]): Array[String] =
    if (parts.nonEmpty && set.contains(parts.last)) parts.dropRight(1) else parts

  /** (domain, subdomain, subdomainLength, numParts) for a DNS query name.
    * Mirrors the reference's DNS variant, which differs from
    * [[extractDomain]]: it only requires >2 dot-parts, treats a ccTLD last
    * part as `name.domain.tld.cc`, and otherwise takes the second-to-last
    * part as the domain with everything before it as the subdomain. */
  def extractSubdomain(url: String): (String, String, Double, Double) = {
    val parts = url.split('.')
    val n = parts.length
    var domain = NoDomain
    var subdomain = NoDomain
    val isReverseIp = n > 2 && parts(n - 1) == "arpa" && parts(n - 2) == "in-addr"
    if (n > 2 && !isReverseIp) {
      if (CountryCodes.contains(parts(n - 1))) {
        domain = parts(n - 3)
        if (1 <= n - 3) subdomain = parts.slice(0, n - 3).mkString(".")
      } else {
        domain = parts(n - 2)
        subdomain = parts.slice(0, n - 2).mkString(".")
      }
    }
    val subLen = if (subdomain != NoDomain) subdomain.length.toDouble else 0.0
    (domain, subdomain, subLen, n.toDouble)
  }

  /** The safe list behind class 2; the reference hard-codes "intel". */
  val SafeDomains: Set[String] = Set("intel")

  /** Top-domain class of `domain` as a `top_domain` string column:
    * "2" = [[SafeDomains]], "1" = in the `popular` (domain) frame, "0" =
    * neither. The popular list is broadcast to a left join instead of a
    * driver Set in a closure (the reference collects top-1m.csv into
    * every task: TopDomains.scala:9-13 + DNSWordCreation.scala:41-44). */
  def withTopDomainClass(df: DataFrame, domain: Column, popular: DataFrame): DataFrame =
    df.join(broadcast(popular.select(col("domain").cast("string").as("__pop")).distinct()),
        domain === col("__pop"), "left")
      .withColumn("top_domain",
        when(domain.isin(SafeDomains.toSeq: _*), lit(2))
          .when(col("__pop").isNotNull, lit(1))
          .otherwise(lit(0)).cast("string"))
      .drop("__pop")

  /** UDF forms (the parse is genuinely iterative; a UDF beats an expression
    * forest here; both are one-pass over short strings). */
  def extract_domain(c: Column): Column = {
    val f = udf((s: String) => if (s == null) NoDomain else extractDomain(s))
    f(c)
  }

  def extract_subdomain(c: Column): Column = {
    val f = udf((s: String) =>
      if (s == null) (NoDomain, NoDomain, 0.0, 0.0) else extractSubdomain(s))
    f(c).cast("struct<domain:string,subdomain:string,subdomain_length:double,num_periods:double>")
  }
}
