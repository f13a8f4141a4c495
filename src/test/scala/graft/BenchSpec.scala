package graft

import org.scalatest.flatspec.AnyFlatSpec
import org.scalatest.matchers.should.Matchers

/** graft.Bench times family members by name; a name no builder answers
  * to would read as a failed entry on every run. */
class BenchSpec extends AnyFlatSpec with Matchers {

  "Bench.families" should "name only entries that a builder answers to, each in one family" in {
    val names = Bench.families.flatMap(_._2)
    val entries = SparkEntry.queries.keySet ++ Bench.pipelines.keySet
    names.filterNot(entries) shouldBe empty
    names.diff(names.distinct) shouldBe empty
  }
}
