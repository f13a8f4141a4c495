package graft

import graft.functions.{Entropy, PolyHash}
import graft.sources.Lookups
import org.apache.spark.sql.SparkSession
import org.scalatest.flatspec.AnyFlatSpec
import org.scalatest.matchers.should.Matchers
import java.nio.file.Files

/** SQL-function registration via SparkSessionExtensions, and the CSV
  * lookup source (reference: TopDomains.scala). Own SparkSession — the
  * extension must be installed at session build time. */
class ExtensionsSpec extends AnyFlatSpec with Matchers {

  "GraftExtensions" should "register native expressions as SQL functions" in {
    val spark = SparkSpec.spark // shared session installs GraftExtensions
    val row = spark.sql(
      "SELECT string_entropy('abcdefg') AS e, poly_hash('hello') AS h").head()
    row.getDouble(0) shouldBe Entropy.stringEntropy("abcdefg") +- 1e-12
    row.getLong(1) shouldBe PolyHash.hash("hello", 31L)
    // DuckDB-verified golden for the same fold: list_reduce over ascii
    row.getLong(1) shouldBe 99162322L
  }

  it should "expose the dedup/similarity primitives in SQL" in {
    val spark = SparkSpec.spark
    val row = spark.sql(
      """SELECT dot_product(array(1.0d, 2.0d), array(3.0d, 4.0d)) AS dp,
        |       signature_agree(array(1L, 2L, 3L), array(1L, 9L, 3L)) AS ag,
        |       token_length_sum(array('ab', 'cde')) AS tls,
        |       shingle_hashes('a b c', 2) AS sh,
        |       min_hash_signature(array(5L, 9L), 2) AS sig""".stripMargin).head()
    row.getDouble(0) shouldBe 11.0
    row.getInt(1) shouldBe 2
    row.getDouble(2) shouldBe 5.0
    // same hashes as the Column-API form (set semantics)
    import org.apache.spark.sql.functions.{col, lit}
    val want = spark.range(1)
      .select(graft.functions.ShingleHash.shingle_hashes(lit("a b c"), 2).as("sh"))
      .select(col("sh")).head().getSeq[Long](0).toSet
    row.getSeq[Long](3).toSet shouldBe want
    // affine family h_j(x) = ((2j+1)x + j^2+7919) mod p over {5, 9}
    val p = 1000000007L
    row.getSeq[Long](4) shouldBe Seq(
      math.min((5L + 7919) % p, (9L + 7919) % p),
      math.min((3 * 5L + 7920) % p, (3 * 9L + 7920) % p))
    // the count arguments must be constants — a column there is an error
    an[Exception] should be thrownBy
      spark.sql("SELECT shingle_hashes('a b', id + 1) FROM range(1)").collect()
  }

  "Lookups.topDomainsDF" should "load rank,domain CSVs as a first-label set" in {
    val spark = SparkSpec.spark
    val f = ScratchDirs.create("top").resolve("top-1m.csv").toFile
    val w = new java.io.PrintWriter(f)
    w.println("1,google.com"); w.println("2,youtube.co.uk"); w.println("3,google.de")
    w.close()
    Lookups.topDomainsDF(spark, f.getAbsolutePath).collect().map(_.getString(0))
      .sorted.toSeq shouldBe Seq("google", "youtube")
  }
}
