package graft

import graft.operators.{Bpe, Corpus, Dedup, Sampling, Scoring, Similarity}
import graft.ml.TopicModel
import org.apache.spark.sql.functions._

class OperatorsSpec extends SparkSpec {

  import spark.implicits._

  // --- corpus -----------------------------------------------------------

  "Corpus.wordCounts" should "count (doc, word) pairs with weights" in {
    val df = Seq(("a", "x", 1L), ("a", "x", 1L), ("a", "y", 1L), ("b", "x", 1000L))
      .toDF("d", "w", "wt")
    val got = Corpus.wordCounts(df, col("d"), col("w"), col("wt"))
      .as[(String, String, Long)].collect().toSet
    got shouldBe Set(("a", "x", 2L), ("a", "y", 1L), ("b", "x", 1000L))
  }

  "Corpus.dualPerspective" should "emit one doc per endpoint before aggregating" in {
    val df = Seq(("ip1", "w1", "ip2", "w2"), ("ip1", "w1", "ip3", "w2"))
      .toDF("sip", "sw", "dip", "dw")
    val got = Corpus.dualPerspective(df, col("sip"), col("sw"), col("dip"), col("dw"))
      .as[(String, String, Long)].collect().toSet
    got shouldBe Set(("ip1", "w1", 2L), ("ip2", "w2", 1L), ("ip3", "w2", 1L))
  }

  // --- scoring ----------------------------------------------------------

  "VectorOps.dot_product" should "compute the topic-mix dot product" in {
    val df = Seq((Seq(0.1, 0.2, 0.7), Seq(0.3, 0.3, 0.4))).toDF("a", "b")
    val got = df.select(graft.functions.VectorOps.dot_product(col("a"), col("b")))
      .as[Double].head()
    got shouldBe (0.03 + 0.06 + 0.28) +- 1e-12
  }

  "Scoring.score" should "fall back to uniform 1/k for unseen docs and words" in {
    val mixes = Seq(("doc1", Seq(1.0, 0.0))).toDF("doc", "topic_mix")
    val probs = Seq(("w1", Seq(0.5, 0.25))).toDF("word", "topic_prob")
    val model = TopicModel.Model(mixes, probs, topicCount = 2)
    val events = Seq(("doc1", "w1"), ("doc1", "wX"), ("docX", "w1"), ("docX", "wX"))
      .toDF("d", "w")
    val got = Scoring.score(events, col("d"), col("w"), model)
      .select(col("d"), col("w"), col("score")).as[(String, String, Double)]
      .collect().map { case (d, w, s) => (d, w) -> s }.toMap
    got(("doc1", "w1")) shouldBe 0.5 +- 1e-12          // 1*0.5 + 0*0.25
    got(("doc1", "wX")) shouldBe 0.5 +- 1e-12          // 1*0.5 + 0*0.5 (uniform word)
    got(("docX", "w1")) shouldBe 0.375 +- 1e-12        // 0.5*0.5 + 0.5*0.25
    got(("docX", "wX")) shouldBe 0.5 +- 1e-12          // uniform · uniform
  }

  "Scoring.suspicious" should "threshold and order ascending with top-k" in {
    val df = Seq(("a", 0.9), ("b", 0.1), ("c", 0.5), ("d", 0.3)).toDF("id", "score")
    val got = Scoring.suspicious(df, threshold = 0.6, topK = 2)
      .as[(String, Double)].collect()
    got shouldBe Array(("b", 0.1), ("d", 0.3))
  }

  it should "evaluate its input once when unbounded, writing parts in score order" in {
    val s = spark.newSession()
    s.conf.set("spark.sql.shuffle.partitions", "4")
    s.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
    val evals = s.sparkContext.longAccumulator("suspicious-input-evals")
    // nondeterministic, so the filter is not pushed below it (which would
    // evaluate it once in the filter and again in the projection)
    val counted = udf { (v: Double) => evals.add(1); v }.asNondeterministic()
    val n = 4000L
    val scored = s.range(0, n, 1, 4).select(col("id"),
      counted((col("id") * 7919 % 1000) / 1000.0).as("score"))
    val out = ScratchDirs.create("susp").toString + "/out"
    graft.sources.Sinks.writeTsv(
      Scoring.suspicious(scored, threshold = 0.5, topK = -1), out, singleFile = false)
    evals.value shouldBe n

    val parts = new java.io.File(out).listFiles()
      .filter(_.getName.startsWith("part-")).sortBy(_.getName)
    val perPart = parts.map { f =>
      val src = scala.io.Source.fromFile(f)
      try src.getLines().map(_.split("\t")(1).toDouble).toVector
      finally src.close()
    }
    perPart.count(_.nonEmpty) should be > 1
    val scores = perPart.flatten.toSeq
    scores.length shouldBe (0 until n.toInt).count(i => i * 7919 % 1000 <= 500)
    scores shouldBe sorted
  }

  // --- dedup ------------------------------------------------------------

  private val docs = Seq(
    (1L, "the quick brown fox jumps over the lazy dog"),
    (2L, "the quick brown fox jumps over the lazy dog"),   // exact dup of 1
    (3L, "the quick brown fox jumps over the sleepy dog"), // near dup
    (4L, "completely different text about spark engines here"),
    (5L, "the quick brown fox jumps over the lazy dog")    // exact dup of 1
  ).toDF("doc_id", "text")

  "Dedup.exactDuplicates" should "group identical texts under the min id" in {
    val got = Dedup.exactDuplicates(docs, col("doc_id"), col("text"))
      .select("keep_id", "dup_count").as[(Long, Long)].collect()
    got shouldBe Array((1L, 3L))
  }

  "Dedup.ngramJaccardPairs" should "find near and exact duplicate pairs" in {
    val got = Dedup.ngramJaccardPairs(docs, col("doc_id"), col("text"),
      n = 3, threshold = 0.4)
      .select("id_a", "id_b", "jaccard").as[(Long, Long, Double)]
      .collect().map { case (a, b, j) => (a, b) -> j }.toMap
    got((1L, 2L)) shouldBe 1.0
    got((1L, 5L)) shouldBe 1.0
    got((2L, 5L)) shouldBe 1.0
    got.keySet should contain((1L, 3L)) // near dup above threshold
    got.keySet should not contain ((1L, 4L))
  }

  "Dedup.prefixJaccardPairs" should "find EXACTLY the brute-force Jaccard pairs (prefix filter is lossless)" in {
    // random word-sets from a small vocabulary → plenty of borderline
    // pairs; the operator must equal the all-pairs exact computation,
    // proving the prefix + length filters never drop a qualifying pair
    val rnd = new scala.util.Random(13)
    val vocab = (0 until 40).map(i => s"w$i")
    val docs = (1 to 60).map { d =>
      val n = 3 + rnd.nextInt(10)
      (d.toLong, rnd.shuffle(vocab).take(n).mkString(" "))
    } ++ Seq( // engineered: exact dup, 800, 600, and an exact-boundary 500
      (61L, "a b c d"), (62L, "a b c d e"), (63L, "a b c x"),
      (64L, "a b c d"))
    val sets = docs.map { case (d, t) => d -> t.split(" ").toSet }.toMap
    val tMilli = 500L
    val expected = (for {
      a <- docs.map(_._1); b <- docs.map(_._1) if a < b
      c = sets(a).intersect(sets(b)).size
      u = sets(a).size + sets(b).size - c
      if c * 1000 >= tMilli * u
    } yield (a, b) -> (c * 1000L) / u).toMap
    val got = Dedup.prefixJaccardPairs(docs.toDF("doc_id", "text"),
        col("doc_id"), col("text"), thresholdMilli = tMilli)
      .as[(Long, Long, Long)].collect()
      .map { case (a, b, j) => (a, b) -> j }.toMap
    got shouldBe expected
    // the engineered pairs pin the interesting cases, incl. the exact
    // t-boundary (62, 63): J = 3/6 = 500 exactly — must be KEPT
    got((61L, 64L)) shouldBe 1000L
    got((61L, 62L)) shouldBe 800L
    got((62L, 63L)) shouldBe 500L
  }

  "Joins.rangeJoinBucketed" should "match the containment predicate across bucket boundaries" in {
    import graft.operators.Joins
    import java.sql.Timestamp
    def ts(s: String) = Timestamp.valueOf(s)
    val facts = Seq((1L, ts("2024-01-01 00:00:00")), (2L, ts("2024-01-15 12:00:00")),
      (3L, ts("2024-02-01 00:00:00")), (4L, ts("2024-03-10 00:00:00")))
      .toDF("id", "ts")
    val ivs = Seq(("jan", ts("2024-01-01 00:00:00"), ts("2024-02-01 00:00:00")),
      ("janfeb", ts("2024-01-20 00:00:00"), ts("2024-02-15 00:00:00")))
      .toDF("name", "start", "end")
    // 1-day buckets: intervals span many buckets; fact 3 sits exactly on
    // jan's EXCLUSIVE end (no match) and inside janfeb
    val got = Joins.rangeJoinBucketed(facts, "ts", ivs, "start", "end",
        bucketWidthMicros = 86400L * 1000000)
      .select("id", "name").as[(Long, String)].collect().toSet
    got shouldBe Set((1L, "jan"), (2L, "jan"), (3L, "janfeb"))
  }

  "Dedup.contaminatedDocs" should "flag corpus docs sharing an n-gram with the benchmark" in {
    val bench = Seq("the quick brown fox jumps over the sleepy dog").toDF("text")
    val got = Dedup.contaminatedDocs(docs, col("doc_id"), col("text"),
      bench, col("text"), n = 3)
      .as[Long].collect().toSet
    // 1, 2, 5 (and 3 itself) share "the quick brown", "jumps over the", ...
    got shouldBe Set(1L, 2L, 3L, 5L)
  }

  "Dedup.connectedComponents" should "assign every node the min id of its component" in {
    val pairs = Seq((1L, 2L), (2L, 3L), (5L, 6L), (9L, 1L))
      .toDF("id_a", "id_b")
    val got = Dedup.connectedComponents(pairs)
      .as[(Long, Long)].collect().toMap
    got shouldBe Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 9L -> 1L, 5L -> 5L, 6L -> 5L)
  }

  it should "return an empty frame for an empty pair graph" in {
    val empty = Seq.empty[(Long, Long)].toDF("id_a", "id_b")
    Dedup.connectedComponents(empty).count() shouldBe 0L
    // the common curation case: clean corpus, cluster mode, zero pairs
    import graft.pipelines.CurationPipeline
    val clean = Seq((1L, "a b c d e"), (2L, "v w x y z")).toDF("doc_id", "text")
    CurationPipeline.curate(clean, col("doc_id"), col("text"),
        CurationPipeline.Config(minQuality = 0.0,
          langs = Set("de", "en", "es", "fr", "zh"),
          jaccardThreshold = 0.9, shingleN = 1, clusterDedup = true))
      .count() shouldBe 2L
  }

  it should "propagate on a non-empty graph whose id sum is zero" in {
    // sum-of-ids == 0 must not read as "empty": these two edges connect
    // {-5, 5} and {-3, 3}, so every node must still adopt its component min
    val zeroSum = Seq((-5L, 5L), (-3L, 3L)).toDF("id_a", "id_b")
    Dedup.connectedComponents(zeroSum)
      .as[(Long, Long)].collect().toMap shouldBe
      Map(-5L -> -5L, 5L -> -5L, -3L -> -3L, 3L -> -3L)
  }

  it should "converge in O(log diameter) rounds on a long chain" in {
    // a 600-node path has diameter 599: plain min-label propagation would
    // need ~600 rounds (far past maxIters); pointer doubling converges in
    // ~log2 rounds, well inside the default 25
    val chain = (1L to 600L).sliding(2).map(s => (s.head, s.last)).toSeq
      .toDF("id_a", "id_b")
    val labels = Dedup.connectedComponents(chain).as[(Long, Long)].collect()
    labels.length shouldBe 600
    labels.map(_._2).toSet shouldBe Set(1L)
  }

  it should "fail loudly when a component's diameter exceeds maxIters" in {
    val chain = (1L to 9L).sliding(2).map(s => (s.head, s.last)).toSeq
      .toDF("id_a", "id_b")
    intercept[IllegalStateException] {
      Dedup.connectedComponents(chain, maxIters = 3).collect()
    }.getMessage should include("did not converge")
    Dedup.connectedComponents(chain, maxIters = 15)
      .as[(Long, Long)].collect().toMap.values.toSet shouldBe Set(1L)
  }

  "CurationPipeline cluster dedup" should "keep one representative per component (vs greedy per-pair)" in {
    import graft.pipelines.CurationPipeline
    // 1 and 2 are unrelated; 3 overlaps both (J=1/3 each). Greedy drops
    // only 3 (the higher id of both pairs); cluster mode keeps just the
    // component min 1.
    val docs3 = Seq((1L, "a b c d e f g h"), (2L, "q r s t u v w x"),
      (3L, "a b c d q r s t")).toDF("doc_id", "text")
    val cfg = CurationPipeline.Config(minQuality = 0.0,
      langs = Set("de", "en", "es", "fr", "zh"),
      jaccardThreshold = 0.3, shingleN = 1)
    CurationPipeline.curate(docs3, col("doc_id"), col("text"), cfg)
      .select("doc_id").as[Long].collect().toSet shouldBe Set(1L, 2L)
    CurationPipeline.curate(docs3, col("doc_id"), col("text"),
        cfg.copy(clusterDedup = true))
      .select("doc_id").as[Long].collect().toSet shouldBe Set(1L)
  }

  "Dedup.minHashLshPairs" should "catch exact duplicates with est_jaccard 1" in {
    val got = Dedup.minHashLshPairs(docs, col("doc_id"), col("text"))
      .as[(Long, Long, Double)].collect().map { case (a, b, j) => (a, b) -> j }.toMap
    got((1L, 2L)) shouldBe 1.0
    got((1L, 5L)) shouldBe 1.0
  }

  "Dedup.simHashDocs" should "give identical fingerprints to identical docs" in {
    val got = Dedup.simHashDocs(docs, col("doc_id"), col("text"))
      .as[(Long, Long)].collect().toMap
    got(1L) shouldBe got(2L)
    got(1L) shouldBe got(5L)
    // near dup: small hamming distance; different doc: larger
    def ham(a: Long, b: Long): Int = java.lang.Long.bitCount(a ^ b)
    ham(got(1L), got(3L)) should be < ham(got(1L), got(4L))
  }

  "Dedup.simHashNearDupPairs" should "find exactly the pairs within the Hamming radius" in {
    // band blocking must lose nothing (pigeonhole: maxHamming < bands) —
    // compare against the brute-force all-pairs answer on the fingerprints
    val fps = Dedup.simHashDocs(docs, col("doc_id"), col("text"))
      .as[(Long, Long)].collect().toMap
    def ham(a: Long, b: Long): Long = java.lang.Long.bitCount(a ^ b).toLong
    val want = (for {
      a <- fps.keys; b <- fps.keys if a < b
      h = ham(fps(a), fps(b)) if h <= 3
    } yield (a, b, h)).toSet
    val got = Dedup.simHashNearDupPairs(docs, col("doc_id"), col("text"),
      bits = 16, bands = 4, maxHamming = 3)
      .as[(Long, Long, Long)].collect().toSet
    got shouldBe want
    // the exact-dup pairs are in there at Hamming 0
    got should contain ((1L, 2L, 0L))
    got should contain ((1L, 5L, 0L))
  }

  it should "reject a radius the band count cannot guarantee" in {
    intercept[IllegalArgumentException] {
      Dedup.simHashNearDupPairs(docs, col("doc_id"), col("text"),
        bits = 16, bands = 4, maxHamming = 4)
    }
  }

  "Dedup.simHashClusters" should "match components-over-pairs completed with singletons" in {
    val viaPairs = Dedup.connectedComponents(
        Dedup.simHashNearDupPairs(docs, col("doc_id"), col("text"),
          bits = 16, bands = 4, maxHamming = 3))
      .as[(Long, Long)].collect().toMap
    val direct = Dedup.simHashClusters(docs, col("doc_id"), col("text"),
      bits = 16, bands = 4, maxHamming = 3)
      .as[(Long, Long)].collect().toMap
    // every doc present; paired docs agree with the closure, the rest are
    // singletons
    val ids = docs.select(col("doc_id")).as[Long].collect().toSet
    direct.keySet shouldBe ids
    ids.foreach { d =>
      direct(d) shouldBe viaPairs.getOrElse(d, d)
    }
  }

  it should "handle a 10^4-member identical-fingerprint group with linear output" in {
    // the template-page shape: 10,000 byte-identical docs share ONE
    // fingerprint. The pairs contract owes ~5*10^7 Hamming-0 rows here;
    // group-direct clustering attaches all members to the fingerprint's
    // component through one equi-join — output rows == doc count, and the
    // run completes in seconds instead of materializing the quadratic
    // bucket.
    val mega = spark.range(10000).select(col("id").as("doc_id"),
        lit("boilerplate template page text shared by every copy").as("text"))
      .unionByName(Seq(
        (20001L, "an unrelated document about rivers and mountains"),
        (20002L, "completely different text on astronomy and chemistry telescopes stars"))
        .toDF("doc_id", "text"))
    val out = Dedup.simHashClusters(mega, col("doc_id"), col("text"))
      .as[(Long, Long)].collect()
    out.length shouldBe 10002
    // the whole template group carries the min id as its cluster
    out.filter(_._1 < 10000L).map(_._2).distinct shouldBe Array(0L)
  }

  "Dedup.simHashDocs width guard" should "reject widths past 30 bits on the default token hash" in {
    // the default polyHash is 30-bit: bits 30..59 would read constant
    // zero and degenerate their bands into everyone-collides buckets —
    // widths above 30 must opt in with an explicitly wide hash
    val e = intercept[IllegalArgumentException] {
      Dedup.simHashDocs(docs, col("doc_id"), col("text"), bits = 40)
    }
    e.getMessage should include("wide")
    // an explicit 60-bit hash unlocks the width
    Dedup.simHashDocs(docs, col("doc_id"), col("text"), bits = 40,
      tokenHash = graft.functions.TextFunctions.wideTokenHash)
      .count() should be > 0L
    // and anything past the wide hash's 60 bits still fails
    intercept[IllegalArgumentException] {
      Dedup.simHashDocs(docs, col("doc_id"), col("text"), bits = 61,
        tokenHash = graft.functions.TextFunctions.wideTokenHash)
    }
  }

  "Dedup.retainBest" should "keep the best-quality doc per cluster and all singletons" in {
    // 1, 2, 3 form one near-dup cluster; 3 has the longer text (higher
    // quality: more tokens). 4 is a singleton. Quality tiebreak: lowest id.
    val corpus = Seq(
      (1L, "alpha beta gamma delta epsilon zeta"),
      (2L, "alpha beta gamma delta epsilon zeta"),
      (3L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
      (4L, "totally unrelated content words")).toDF("doc_id", "text")
    val got = Dedup.retainBest(corpus, col("doc_id"), col("text"),
      n = 2, threshold = 0.3, maxShingleFreq = Long.MaxValue)
      .select("doc_id", "cluster", "kept").as[(Long, Long, Boolean)]
      .collect().map { case (d, c, k) => d -> ((c, k)) }.toMap
    got(1L) shouldBe ((1L, false))
    got(2L) shouldBe ((1L, false))
    got(3L) shouldBe ((1L, true))  // highest quality in cluster 1
    got(4L) shouldBe ((4L, true))  // singleton keeps itself
  }

  it should "break equal quality on the lowest doc id" in {
    val corpus = Seq(
      (7L, "alpha beta gamma delta epsilon zeta"),
      (9L, "alpha beta gamma delta epsilon zeta")).toDF("doc_id", "text")
    val got = Dedup.retainBest(corpus, col("doc_id"), col("text"),
      n = 2, threshold = 0.5, maxShingleFreq = Long.MaxValue)
      .select("doc_id", "kept").as[(Long, Boolean)].collect().toMap
    got shouldBe Map(7L -> true, 9L -> false)
  }

  "Dedup.incrementalLshPairs" should "pair the new batch against corpus and itself, never old-old" in {
    val newDocs = Seq(
      (6L, "the quick brown fox jumps over the lazy dog"),
      (7L, "the quick brown fox jumps over the lazy dog")).toDF("doc_id", "text")
    val got = Dedup.incrementalLshPairs(newDocs, docs, col("doc_id"), col("text"))
      .as[(Long, Long, Double)].collect()
      .map { case (a, b, j) => (a, b) -> j }.toMap
    got((1L, 6L)) shouldBe 1.0   // new vs old exact dup
    got((6L, 7L)) shouldBe 1.0   // new vs new
    // corpus-internal dups (1,2), (1,5) must NOT appear
    got.keySet.filter { case (a, b) => a <= 5 && b <= 5 } shouldBe empty
  }

  "Sampling.mixture" should "keep per-class targets, cap at class size, drop unlisted classes" in {
    val df = (1L to 50L).map(i =>
      (i, if (i % 2 == 0) "a" else if (i % 5 == 1) "c" else "b")).toDF("id", "cls")
    val got = Sampling.mixture(df, col("id"), col("cls"),
      Map("a" -> 5L, "b" -> 100L))
    got.groupBy("cls").count().as[(String, Long)].collect().toMap shouldBe
      Map("a" -> 5L, "b" -> 20L) // b holds 20 (< 100): all kept; c dropped
    // deterministic: a second run selects the identical rows
    val again = Sampling.mixture(df, col("id"), col("cls"),
      Map("a" -> 5L, "b" -> 100L))
    again.as[(Long, String)].collect().toSet shouldBe
      got.as[(Long, String)].collect().toSet
  }

  "Corpus.c4LineFilter" should "apply every line and page rule" in {
    val keep3 = "One good line ends with a period right here.\n" +
      "Another good line also ends with terminal punctuation!\n" +
      "Does a third line with a question mark count too?"
    val docs = Seq(
      (1L, keep3),                                      // 3 kept → page kept
      (2L, keep3 + "\nshort line.\nno terminal punct here at all"), // extras dropped
      (3L, keep3 + "\nPlease enable JavaScript to view this site."), // js line dropped, page still kept
      (4L, keep3 + "\nFour words only here."), // terminal punct but < 5 words → dropped
      (5L, keep3 + " lorem ipsum"),                     // page killed
      (6L, keep3 + "\ncode { block }"),                 // page killed
      (7L, "too few kept lines here.")                  // 1 kept < 3 → dropped
    ).toDF("id", "txt")
    val got = Corpus.c4LineFilter(docs, col("id"), col("txt"))
      .as[(Long, Long, Long, Boolean, Option[String])].collect()
      .map(r => r._1 -> r).toMap
    got(1L)._4 shouldBe true
    got(1L)._3 shouldBe 3L
    got(1L)._5 shouldBe Some(keep3)
    got(2L)._3 shouldBe 3L          // the two bad lines dropped
    got(2L)._4 shouldBe true
    got(3L)._3 shouldBe 3L          // javascript line dropped, page survives
    got(3L)._4 shouldBe true
    got(4L)._3 shouldBe 3L          // 4-word line fails the word floor
    got(4L)._4 shouldBe true
    got(5L)._4 shouldBe false       // lorem ipsum kills the page
    got(5L)._5 shouldBe None
    got(6L)._4 shouldBe false       // curly brace kills the page
    got(7L)._4 shouldBe false       // below the kept-line floor
    got(7L)._3 shouldBe 1L
  }

  "Sampling.dsirSelect" should
    "rank the target-like source doc first and score by mean log ratio" in {
    // target corpus speaks "alpha beta"; source doc 10 repeats exactly the
    // target's bigrams, doc 11 shares none — 10 must outrank 11, with
    // n_feats = its bigram count and ranks a dense 1..k
    val docs = Seq(
      (1L, "alpha beta alpha beta alpha", true),
      (2L, "alpha beta gamma alpha beta", true),
      (10L, "alpha beta alpha beta", false),
      (11L, "omega psi chi phi upsilon", false)).toDF("id", "txt", "tgt")
    val got = Sampling.dsirSelect(docs, col("id"), col("txt"), col("tgt"),
      numBuckets = 64, topK = 10)
      .as[(Long, Long, Double, Int)].collect().sortBy(_._4)
    got.map(_._1) shouldBe Array(10L, 11L)
    got.map(_._4) shouldBe Array(1, 2)
    got(0)._2 shouldBe 3L // "alpha beta","beta alpha","alpha beta"
    got(0)._3 should be > got(1)._3
    // the target-like doc's ratio is positive (target-favored buckets),
    // the disjoint doc's negative (source-only buckets)
    got(0)._3 should be > 0.0
    got(1)._3 should be < 0.0
  }

  "Dedup.leakageSafeSplits" should "assign whole near-dup clusters to one split" in {
    val corpus = Seq(
      (1L, "alpha beta gamma delta epsilon zeta"),
      (2L, "alpha beta gamma delta epsilon zeta"),
      (3L, "alpha beta gamma delta epsilon zeta eta theta"),
      (4L, "other unrelated words entirely")).toDF("doc_id", "text")
    val got = Dedup.leakageSafeSplits(corpus, col("doc_id"), col("text"),
      n = 2, threshold = 0.3,
      shares = Seq("train" -> 80, "val" -> 10, "test" -> 10),
      maxShingleFreq = Long.MaxValue)
      .as[(Long, Long, String)].collect()
      .map { case (d, c, s) => d -> ((c, s)) }.toMap
    got(1L)._1 shouldBe 1L
    got(2L) shouldBe got(1L)   // same cluster, same split
    got(3L) shouldBe got(1L)
    got(4L)._1 shouldBe 4L     // singleton
  }

  "Dedup.fuzzyContaminatedDocs" should "flag exact and fuzzy benchmark overlap, never unrelated docs" in {
    // benchmark = doc 2; docs 1, 2, 5 are exact copies of it → identical
    // shingle sets → identical signatures → est 1.0; doc 4 shares nothing
    val got = Dedup.fuzzyContaminatedDocs(docs, col("doc_id"), col("text"),
      docs.where(col("doc_id") === 2), col("doc_id"), col("text"),
      n = 2, bands = 4, rowsPerBand = 2, minEstJaccard = 0.5)
      .as[(Long, Double)].collect().toMap
    got(1L) shouldBe 1.0
    got(2L) shouldBe 1.0   // the benchmark doc itself is contaminated
    got(5L) shouldBe 1.0
    got.keySet should not contain 4L
  }

  "Corpus.bigramLmScores" should "average fixed-point add-one bigram NLLs per doc" in {
    // bigrams: d1 = ab,ba,ab; d2 = ab,bc → c12(ab)=3, c12(ba)=c12(bc)=1;
    // c1(a)=3, c1(b)=2; V=3. nll6(ab)=floor(-ln(4/6)*1e6+.5)=405465,
    // nll6(ba)=nll6(bc)=floor(-ln(2/5)*1e6+.5)=916291.
    val lm = Seq((1L, "a b a b"), (2L, "a b c")).toDF("doc_id", "text")
    val got = Corpus.bigramLmScores(lm, col("doc_id"), col("text"))
      .as[(Long, Long, Double)].collect()
      .map { case (d, n, s) => d -> ((n, s)) }.toMap
    got(1L) shouldBe ((3L, 0.57574))   // floor(1727221/3 + .5)/1e6
    got(2L) shouldBe ((2L, 0.660878))  // floor(1321756/2 + .5)/1e6
  }

  it should "size-gate the model joins: broadcast small corpora, merge at scale" in {
    val lm = Seq((1L, "a b a b"), (2L, "a b c")).toDF("doc_id", "text")
    // interactive scale (vocab=3, bigrams=3 under both gates) → both
    // model joins broadcast
    val small = Corpus.bigramLmScores(lm, col("doc_id"), col("text"))
      .queryExecution.executedPlan.toString
    small should include("BroadcastHashJoin")
    small should not include "SortMergeJoin"
    // corpus-scaled (gates forced to 0) → both joins merge-pinned, the
    // plan that survives the 100x vocabulary
    val large = Corpus.bigramLmScores(lm, col("doc_id"), col("text"),
        smallVocabMax = 0L, probsBroadcastMaxRows = 0L)
      .queryExecution.executedPlan.toString
    large should include("SortMergeJoin")
    large should not include "BroadcastHashJoin"
    // same numbers either way
    val a = Corpus.bigramLmScores(lm, col("doc_id"), col("text"))
      .as[(Long, Long, Double)].collect().toSet
    val b = Corpus.bigramLmScores(lm, col("doc_id"), col("text"),
        smallVocabMax = 0L, probsBroadcastMaxRows = 0L)
      .as[(Long, Long, Double)].collect().toSet
    a shouldBe b
  }

  "ShingleHash native expression" should "agree with the composed HOF chain as a set" in {
    import graft.functions.{ShingleHash, TextFunctions}
    import org.apache.spark.sql.functions.{transform => arrTransform}
    val texts = Seq("the quick brown fox jumps over the lazy dog",
      "  leading and   multiple   spaces here ok ", "a b", "", "one two three")
    val df = texts.toDF("text")
    val composed = df
      .select(TextFunctions.tokens(col("text")).as("toks"))
      .select(arrTransform(TextFunctions.shingles(col("toks"), 3),
        s => TextFunctions.polyHash(s)).as("sh"))
      .as[Seq[Long]].collect().map(_.toSet)
    val native = df.select(ShingleHash.shingle_hashes(col("text"), 3).as("sh"))
      .as[Seq[Long]].collect().map(_.toSet)
    native shouldBe composed
  }

  // --- similarity -------------------------------------------------------

  private val vecs = Seq(
    (0L, Seq(1.0f, 0.0f, 0.0f)),
    (1L, Seq(0.0f, 1.0f, 0.0f)),
    (2L, Seq(1.0f, 1.0f, 0.0f)),
    (3L, Seq(2.0f, 0.0f, 0.0f))
  ).toDF("vec_id", "embedding")

  "Similarity.cosine" should "honor the standard identities" in {
    val df = Seq((Seq(1.0, 2.0, 3.0), Seq(1.0, 2.0, 3.0)),
      (Seq(1.0, 0.0, 0.0), Seq(0.0, 1.0, 0.0))).toDF("a", "b")
    val got = df.select(Similarity.cosine(col("a"), col("b"))).as[Double].collect()
    got(0) shouldBe 1.0 +- 1e-12
    got(1) shouldBe 0.0 +- 1e-12
  }

  "Similarity.bruteForceTopK" should "rank by cosine with id tiebreak" in {
    val got = Similarity.bruteForceTopK(vecs.where(col("vec_id") === 0), vecs, k = 3)
      .orderBy("rank").select("cand_id").as[Long].collect()
    got shouldBe Array(3L, 2L, 1L) // colinear (1.0) first, 45° (0.707), then orthogonal
  }

  "Similarity.ivfSearch" should "find in-cell neighbors via probed centroids" in {
    val cents = vecs.where(col("vec_id") <= 1)
    val got = Similarity.ivfSearch(vecs.where(col("vec_id") === 0), vecs, cents,
      k = 5, nProbe = 1)
      .orderBy("rank").select("cand_id").as[Long].collect()
    // cell 0 (centroid [1,0,0]) holds vecs 0, 2, 3 → neighbors of 0: 3 then 2
    got shouldBe Array(3L, 2L)
  }

  "Similarity.cellRoutedNearDupPairs" should "find within-cell pairs with no nested-loop join" in {
    import graft.operators.Similarity
    val cents = vecs.where(col("vec_id") < 2) // cells: [1,0,0] and [0,1,0]
    val got = Similarity.cellRoutedNearDupPairs(vecs, cents, threshold = 0.5)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    // cell 0 holds vecs 0, 2, 3; cell 1 holds 1 alone (ties break by id).
    // within cell 0: cos(0,2)=.707, cos(0,3)=1, cos(2,3)=.707 — all >= 0.5
    got shouldBe Set((0L, 2L), (0L, 3L), (2L, 3L))
    // plan audit: pair generation must be an EQUI join on centroid_id (the
    // only nested-loop anywhere is vectors x broadcast(centroids) inside
    // the assignment — a bounded build side, same shape as ivfAssign).
    val plan = Similarity.cellRoutedNearDupPairs(vecs, cents, threshold = 0.5)
      .queryExecution.executedPlan.toString
    plan should not include "CartesianProduct"
    plan should include regex "(BroadcastHashJoin|SortMergeJoin|ShuffledHashJoin) \\[centroid_id"
  }

  "Similarity.kmeansCentroids" should "run deterministic Lloyd rounds with integer-scaled means" in {
    import graft.operators.Similarity
    // init: ids 0,1 → [1,0,0], [0,1,0]; assign: v2 ties (.7071) → lower
    // centroid id 0; v3 → 0. update: c0 = mean(v0,v2,v3), c1 = v1.
    val cents = Similarity.kmeansCentroids(vecs, k = 2, iters = 1)
      .orderBy("centroid_id")
      .select("centroid_id", "cent").as[(Long, Seq[Double])].collect()
    cents.map(_._1).toSeq shouldBe Seq(0L, 1L)
    cents(0)._2 shouldBe Seq(1.333333333, 0.333333333, 0.0)
    cents(1)._2 shouldBe Seq(0.0, 1.0, 0.0)
  }

  "Similarity.semanticDedup" should "keep the farthest-from-centroid member per component" in {
    import graft.operators.Similarity
    // n=4 → k=2, init ids 0,1; Lloyd settles on cells {0,2,3} / {1}.
    // Within-cell pairs at 0.5: (0,2), (0,3), (2,3) → one component,
    // cluster 0. v2 has the lowest centroid cosine (≈0.8576 vs ≈0.9701
    // for v0/v3 which lie along the centroid direction) → v2 kept,
    // v0/v3 dropped; v1 is a singleton keep.
    val got = Similarity.semanticDedup(vecs, threshold = 0.5, kmeansIters = 2)
      .as[(Long, Long, Double, Boolean)].collect()
      .map { case (v, c, _, k) => v -> ((c, k)) }.toMap
    got.keySet shouldBe Set(0L, 1L, 2L, 3L)
    got(0L) shouldBe ((0L, false))
    got(2L) shouldBe ((0L, true))
    got(3L) shouldBe ((0L, false))
    got(1L) shouldBe ((1L, true))
  }

  "Similarity.lshNearDupPairsScaled" should "derive the band width from the corpus size" in {
    import graft.operators.Similarity
    // n=4, targetOccupancy=1 → smallest b with 4 <= 2^b is 2: the scaled
    // call must be EXACTLY lshNearDupPairs at bitsPerBand=2 (same planes:
    // both index j = band*bits + r into the shared closed form).
    val scaled = Similarity.lshNearDupPairsScaled(vecs, threshold = 0.1,
        dim = 3, bands = 2, targetOccupancy = 1L)
      .as[(Long, Long, Double)].collect().toSet
    val fixed = Similarity.lshNearDupPairs(vecs, threshold = 0.1,
        dim = 3, bands = 2, bitsPerBand = 2)
      .as[(Long, Long, Double)].collect().toSet
    scaled shouldBe fixed
    // maxBits caps the width when the corpus outgrows it
    val capped = Similarity.lshNearDupPairsScaled(vecs, threshold = 0.1,
        dim = 3, bands = 2, maxBits = 1, targetOccupancy = 1L)
      .as[(Long, Long, Double)].collect().toSet
    val oneBit = Similarity.lshNearDupPairs(vecs, threshold = 0.1,
        dim = 3, bands = 2, bitsPerBand = 1)
      .as[(Long, Long, Double)].collect().toSet
    capped shouldBe oneBit
    an[IllegalArgumentException] should be thrownBy
      Similarity.lshNearDupPairsScaled(vecs, 0.1, 3, maxBits = 63)
    an[IllegalArgumentException] should be thrownBy
      Similarity.lshNearDupPairsScaled(vecs, 0.1, 3, targetOccupancy = 0L)
    // precomputedN replaces the count job: n=4 declared as 16 with
    // targetOccupancy=1 → smallest b with 16 <= 2^b is 4, not 2
    val declared = Similarity.lshNearDupPairsScaled(vecs, threshold = 0.1,
        dim = 3, bands = 2, targetOccupancy = 1L, precomputedN = Some(16L),
        bucketCap = 0L)
      .as[(Long, Long, Double)].collect().toSet
    val fourBit = Similarity.lshNearDupPairs(vecs, threshold = 0.1,
        dim = 3, bands = 2, bitsPerBand = 4)
      .as[(Long, Long, Double)].collect().toSet
    declared shouldBe fourBit
  }

  it should "screen candidates by signature Hamming distance without changing kept pairs" in {
    import graft.operators.Similarity
    // margin 2.0 → screen floor = −1 → hmax = B: every candidate passes,
    // so the cascade is a pure no-op vs the unscreened run
    val off = Similarity.lshNearDupPairs(vecs, threshold = 0.1,
        dim = 3, bands = 2, bitsPerBand = 2)
      .as[(Long, Long, Double)].collect().toSet
    val loose = Similarity.lshNearDupPairs(vecs, threshold = 0.1,
        dim = 3, bands = 2, bitsPerBand = 2, hammingMargin = 2.0)
      .as[(Long, Long, Double)].collect().toSet
    loose shouldBe off
    // a NEGATIVE margin raises the floor above the threshold: hmax
    // shrinks to 0 and only all-band signature-identical pairs survive —
    // must be a subset of the unscreened result
    val tight = Similarity.lshNearDupPairs(vecs, threshold = 0.1,
        dim = 3, bands = 2, bitsPerBand = 2, hammingMargin = -0.8)
      .as[(Long, Long, Double)].collect().toSet
    tight.subsetOf(off) shouldBe true
    // the scaled wrapper threads the margin through
    Similarity.lshNearDupPairsScaled(vecs, threshold = 0.1, dim = 3,
        bands = 2, targetOccupancy = 1L, hammingMargin = 2.0)
      .as[(Long, Long, Double)].collect().toSet shouldBe off
  }

  it should "survive a shift-overflowing targetOccupancy" in {
    import graft.operators.Similarity
    // targetOccupancy = Long.MaxValue makes `t << b` overflow for every
    // b >= 1; mathematically n <= t·2^b is true there, so the guard must
    // resolve to the SMALLEST width (b = 1), not fall through to maxBits
    val huge = Similarity.lshNearDupPairsScaled(vecs, threshold = 0.1,
        dim = 3, bands = 2, targetOccupancy = Long.MaxValue)
      .as[(Long, Long, Double)].collect().toSet
    val oneBit = Similarity.lshNearDupPairs(vecs, threshold = 0.1,
        dim = 3, bands = 2, bitsPerBand = 1)
      .as[(Long, Long, Double)].collect().toSet
    huge shouldBe oneBit
  }

  "Similarity.scaledCellNearDupPairs and semanticDedup" should
      "accept a precomputed corpus size in place of the count job" in {
    import graft.operators.Similarity
    val n = Some(4L) // the fixture's true size: results must be identical
    Similarity.scaledCellNearDupPairs(vecs, threshold = 0.3,
        precomputedN = n)
      .as[(Long, Long, Double)].collect().toSet shouldBe
      Similarity.scaledCellNearDupPairs(vecs, threshold = 0.3)
        .as[(Long, Long, Double)].collect().toSet
    Similarity.semanticDedup(vecs, threshold = 0.3, precomputedN = n)
      .select("vec_id", "cluster", "kept")
      .as[(Long, Long, Boolean)].collect().toSet shouldBe
      Similarity.semanticDedup(vecs, threshold = 0.3)
        .select("vec_id", "cluster", "kept")
        .as[(Long, Long, Boolean)].collect().toSet
  }

  "Similarity.saltedBandPairs" should "bound per-join-key candidates at cap^2 on a hot bucket without losing pairs" in {
    import graft.operators.Similarity
    // one deliberately hot bucket: all 60 vids share (band=0, sig=7)
    val banded = spark.range(60).select(col("id").as("vid"),
      lit(0).as("band"), lit(7L).as("sig"))
    val salted = Similarity.saltedBandPairs(banded, cap = 5L).cache()
    // every unsalted pair survives, exactly once (the grid assigns each
    // pair to exactly one (sa, sb) cell) — C(60, 2) = 1770
    salted.count() shouldBe 1770L
    salted.select("id_a", "id_b").distinct().count() shouldBe 1770L
    // no single join key owns more than cap^2 candidates: occ=60, cap=5
    // → s=12, cells of 5 → at most 25 pairs per (band, sig, sa, sb)
    val maxPerKey = salted.groupBy("band", "sig", "sa", "sb").count()
      .agg(max("count")).as[Long].head()
    maxPerKey should be <= 25L
    salted.unpersist()
    // end-to-end: a skew-hot corpus (60 identical-direction vectors →
    // ONE bucket per band) yields the identical pair set capped vs not
    val hot = spark.range(60).select(col("id").as("vec_id"),
      array(lit(1.0), lit(2.0), lit(3.0)).as("embedding"))
    val capped = Similarity.lshNearDupPairs(hot, threshold = 0.5, dim = 3,
        bands = 2, bitsPerBand = 3, bucketCap = 5L)
      .as[(Long, Long, Double)].collect().toSet
    val plain = Similarity.lshNearDupPairs(hot, threshold = 0.5, dim = 3,
        bands = 2, bitsPerBand = 3)
      .as[(Long, Long, Double)].collect().toSet
    capped shouldBe plain
    capped should have size 1770
  }

  "Joins.asOfJoin" should "match each left row to the latest right row at or before it" in {
    import graft.operators.Joins
    import java.sql.Timestamp
    def t(m: Int) = Timestamp.valueOf(f"2024-01-01 10:$m%02d:00")
    val quotes = Seq(("A", t(0), 100.0), ("A", t(10), 105.0), ("B", t(5), 50.0))
      .toDF("sym", "qts", "px")
    val trades = Seq((1L, "A", t(4)), (2L, "A", t(10)), (3L, "A", t(30)),
      (4L, "B", t(2)), (5L, "B", t(6))).toDF("tid", "sym", "tts")
    val got = Joins.asOfJoin(trades, quotes, Seq("sym"), "tts", "qts")
      .select(col("tid"), col("px")).as[(Long, Double)].collect().toMap
    got shouldBe Map(1L -> 100.0, 2L -> 105.0, 3L -> 105.0, 5L -> 50.0)
    // trade 4 (B @ 10:02) precedes every B quote → dropped (inner asof)
    got.keySet should not contain 4L

    // null timestamps never match (inner-asof; DuckDB ASOF agrees): a
    // null-ts quote must not be carried forward as an "earliest" match
    val nullQuotes = Seq(("A", null: Timestamp, 666.0), ("A", t(10), 105.0))
      .toDF("sym", "qts", "px")
    val nullGot = Joins.asOfJoin(trades, nullQuotes, Seq("sym"), "tts", "qts")
      .select(col("tid"), col("px")).as[(Long, Double)].collect().toMap
    nullGot shouldBe Map(2L -> 105.0, 3L -> 105.0) // trade 1 precedes all real quotes

    // exact-timestamp ties resolve deterministically via the tiebreak
    val tied = Seq(("A", t(0), 1L, 100.0), ("A", t(0), 2L, 200.0))
      .toDF("sym", "qts", "qid", "px")
    val one = Seq((9L, "A", t(5))).toDF("tid", "sym", "tts")
    val res = Joins.asOfJoin(one, tied, Seq("sym"), "tts", "qts",
      rightTiebreak = Some("qid"))
      .select(col("px")).as[Double].collect()
    res shouldBe Array(200.0) // highest qid wins

    // null equi-keys never match either (l.k === r.k is null → no match in
    // the join form; DuckDB agrees): the merge's partitionBy groups null
    // keys together, so without the explicit filter a null-key trade
    // would adopt a null-key quote
    val nullKeyQuotes = Seq((null: String, t(0), 666.0), ("A", t(0), 100.0))
      .toDF("sym", "qts", "px")
    val nullKeyTrades = Seq((1L, null: String, t(4)), (2L, "A", t(4)))
      .toDF("tid", "sym", "tts")
    Joins.asOfJoin(nullKeyTrades, nullKeyQuotes, Seq("sym"), "tts", "qts")
      .select(col("tid"), col("px")).as[(Long, Double)].collect()
      .toMap shouldBe Map(2L -> 100.0)

    // forward direction: the EARLIEST quote at-or-after each trade;
    // trades 3 (A@10:30) and 5 (B@10:06) follow every quote of their
    // symbol → dropped (inner semantics)
    val fwd = Joins.asOfJoin(trades, quotes, Seq("sym"), "tts", "qts",
      forward = true)
      .select(col("tid"), col("px")).as[(Long, Double)].collect().toMap
    fwd shouldBe Map(1L -> 105.0, 2L -> 105.0, 4L -> 50.0)
  }

  it should "drop matches staler than the tolerance, both directions" in {
    import graft.operators.Joins
    import java.sql.Timestamp
    def t(m: Int) = Timestamp.valueOf(f"2024-01-01 10:$m%02d:00")
    val quotes = Seq(("A", t(0), 100.0), ("A", t(10), 105.0), ("B", t(5), 50.0))
      .toDF("sym", "qts", "px")
    val trades = Seq((1L, "A", t(4)), (2L, "A", t(10)), (3L, "A", t(30)),
      (5L, "B", t(6))).toDF("tid", "sym", "tts")
    // 5-minute tolerance: trade 3 (nearest quote 20 min old) drops;
    // trade 1 (4 min) and exact hits stay
    val tol = Joins.asOfJoin(trades, quotes, Seq("sym"), "tts", "qts",
        toleranceMicros = Some(5L * 60 * 1000000))
      .select(col("tid"), col("px")).as[(Long, Double)].collect().toMap
    tol shouldBe Map(1L -> 100.0, 2L -> 105.0, 5L -> 50.0)
    // boundary is inclusive: exactly-tolerance-old still matches
    val edge = Joins.asOfJoin(trades, quotes, Seq("sym"), "tts", "qts",
        toleranceMicros = Some(4L * 60 * 1000000))
      .select(col("tid"), col("px")).as[(Long, Double)].collect().toMap
    edge.keySet should contain(1L)
    // forward: trade 1 (next quote 6 min ahead) drops at 5 min tolerance
    val fwdTol = Joins.asOfJoin(trades, quotes, Seq("sym"), "tts", "qts",
        forward = true, toleranceMicros = Some(5L * 60 * 1000000))
      .select(col("tid"), col("px")).as[(Long, Double)].collect().toMap
    fwdTol shouldBe Map(2L -> 105.0)
  }

  "Scoring.score" should "gate the doc-mix broadcast hint on estimated size" in {
    import graft.ml.TopicModel
    import graft.operators.Scoring
    val probs = Seq(("w", Seq(0.5, 0.5))).toDF("word", "topic_prob")
    val events = Seq(("d1", "w"), ("d2", "w")).toDF("ip", "word")
    def mixJoin(mix: org.apache.spark.sql.DataFrame): String =
      Scoring.score(events, col("ip"), col("word"),
          TopicModel.Model(mix, probs, topicCount = 2))
        .queryExecution.executedPlan.toString
    // small mix (known-small LocalRelation stats) → broadcast hint applied
    val small = Seq(("d1", Seq(0.9, 0.1))).toDF("doc", "topic_mix")
    mixJoin(small) should include regex "BroadcastHashJoin.*__doc"
    // huge mix (20M docs; Catalyst estimate far past the 64 MB bound) →
    // no hint: the doc side must plan as a shuffle join, not a forced
    // driver-side broadcast (AQE may still downgrade at runtime)
    val big = spark.range(20000000L)
      .select(col("id").cast("string").as("doc"),
        array(lit(0.5), lit(0.5)).as("topic_mix"))
    mixJoin(big) should include regex "(SortMergeJoin|ShuffledHashJoin).*__doc"
    mixJoin(big) should not include regex ("BroadcastHashJoin.*__doc")
  }

  "ProxyPipeline.withFeatures" should "gate the agent-count broadcast on estimated size" in {
    import graft.pipelines.ProxyPipeline
    def agentJoinPlan(proxy: org.apache.spark.sql.DataFrame): String =
      ProxyPipeline.withFeatures(proxy).queryExecution.executedPlan.toString
    // small proxy frame (LocalRelation, known-small stats) → hint applied
    val small = Seq(("Mozilla/5.0", "10:30:00", "http://a/b"))
      .toDF("useragent", "p_time", "fulluri")
    agentJoinPlan(small) should include regex "BroadcastHashJoin.*useragent"
    // high-cardinality UA frame (20M distinct agents — realistic at 100 TB:
    // UA strings carry version churn) → the estimate blows past the gate,
    // the join must plan as a shuffle, not a forced driver broadcast
    val big = spark.range(20000000L).select(
      concat(lit("UA/"), col("id")).as("useragent"),
      lit("10:30:00").as("p_time"),
      lit("http://host/path").as("fulluri"))
    agentJoinPlan(big) should include regex "(SortMergeJoin|ShuffledHashJoin).*useragent"
    agentJoinPlan(big) should not include regex ("BroadcastHashJoin.*useragent")
  }

  "Sessions.assign" should "split on gaps with the same boundaries as session_window" in {
    import graft.operators.Sessions
    import java.sql.Timestamp
    def t(m: Int) = Timestamp.valueOf(f"2024-01-01 10:$m%02d:00")
    // u1: 10:00, 10:10 (one session), 10:55 (gap > 30m → new session) —
    // the same fixture StreamingSpec's session_window test uses
    val ev = Seq((1L, "u1", t(0)), (2L, "u1", t(10)), (3L, "u1", t(55)))
      .toDF("event_id", "user", "ts")
    val got = Sessions.assign(ev, col("user"), col("ts"), col("event_id"),
      gapSeconds = 1800L)
      .select("event_id", "session_seq").as[(Long, Long)].collect().toMap
    got shouldBe Map(1L -> 1L, 2L -> 1L, 3L -> 2L)
    // per-session summary shape
    Sessions.sessions(ev, col("user"), col("ts"), col("event_id"), 1800L)
      .select("session_seq", "n_events").as[(Long, Long)].collect()
      .toSet shouldBe Set((1L, 2L), (2L, 1L))
    // boundary: an event EXACTLY gap after the previous one MERGES —
    // session_window joins adjacent windows at the boundary (pinned by
    // StreamingSpec's batch↔streaming parity test); only a strictly
    // larger gap splits
    val exact = Seq((1L, "u1", t(0)), (2L, "u1", t(30)))
      .toDF("event_id", "user", "ts")
    Sessions.assign(exact, col("user"), col("ts"), col("event_id"), 1800L)
      .select("event_id", "session_seq").as[(Long, Long)].collect()
      .toMap shouldBe Map(1L -> 1L, 2L -> 1L)
  }

  "Corpus.packSequencesFfd" should "first-fit largest-first with no straddling and own-pack oversize docs" in {
    import graft.operators.Corpus
    // budget 10: sizes 12,6,5,4,3,2 in part a → FFD packs {12} {6,4} {5,3,2};
    // part b: two 7s can't share
    val docs = Seq((1L, "a", 6L), (2L, "a", 5L), (3L, "a", 4L), (4L, "a", 3L),
      (5L, "a", 2L), (6L, "a", 12L), (7L, "b", 7L), (8L, "b", 7L))
      .toDF("doc_id", "part", "n_tokens")
    val got = Corpus.packSequencesFfd(docs, col("doc_id"), col("part"),
        col("n_tokens"), budget = 10L)
      .select("doc_id", "pack_id").as[(Long, Long)].collect().toMap
    got shouldBe Map(6L -> 0L, 1L -> 1L, 3L -> 1L, 2L -> 2L, 4L -> 2L,
      5L -> 2L, 7L -> 0L, 8L -> 1L)
    // packing invariant: no pack over budget unless it holds exactly one
    // (oversize) document
    val packs = Corpus.packSequencesFfd(docs, col("doc_id"), col("part"),
        col("n_tokens"), budget = 10L)
      .groupBy("part", "pack_id")
      .agg(sum("n_tokens").as("tot"), count(lit(1)).as("n"))
      .as[(String, Long, Long, Long)].collect()
    packs.foreach { case (_, _, tot, n) =>
      assert(tot <= 10L || n == 1L)
    }
  }

  "Corpus.packedTexts" should "keep parts separate when doc ids repeat across parts" in {
    import graft.operators.Corpus
    // id 5 exists in BOTH shards: a doc_id-only join would splice texts
    val docs = Seq((5L, "shardA", "foo"), (5L, "shardB", "bar"),
      (6L, "shardA", "baz")).toDF("doc_id", "part", "text")
    val got = Corpus.packedTexts(docs, col("doc_id"), col("part"),
        col("text"), lit(1L), budget = 100L)
      .select("part", "n_docs", "pack_text")
      .as[(String, Long, String)].collect()
      .map { case (p, n, txt) => p -> ((n, txt)) }.toMap
    got("shardA") shouldBe ((2L, "foo\nbaz"))
    got("shardB") shouldBe ((1L, "bar"))
  }

  "Corpus.gopherStats" should "fire each rule on its crafted document" in {
    import graft.operators.Corpus
    val clean = ((1 to 58).map(i => s"word$i") ++ Seq("the", "of")).mkString(" ")
    val docs = Seq(
      (1L, clean),                                   // passes every rule
      (2L, clean + " ### ## # ## ### #"),            // symbol ratio > 0.1
      (3L, clean + (" 1234 5678 91011" * 6)),        // alpha ratio <= 0.8
      (4L, "too short but the of"),                  // under the 50-token floor
      (5L, clean + (1 to 9).map(i => s"\n- b $i").mkString), // bullets >= 0.9
      (6L, clean + "\nx ...\ny ...\nz ..."))          // ellipsis lines >= 0.3
      .toDF("doc_id", "text")
    val got = Corpus.gopherStats(docs, col("doc_id"), col("text"))
      .select(col("doc_id"), col("pass"), col("symbol_ratio"),
        col("alpha_ratio"), col("bullet_ratio"), col("ellipsis_ratio"),
        col("n_tokens"))
      .collect().map(r => r.getLong(0) -> r).toMap
    got(1L).getBoolean(1) shouldBe true
    got(2L).getBoolean(1) shouldBe false
    got(2L).getDouble(2) should be > 0.1              // symbol_ratio
    got(3L).getBoolean(1) shouldBe false
    got(3L).getDouble(3) should be <= 0.8             // alpha_ratio
    got(4L).getBoolean(1) shouldBe false
    got(4L).getLong(6) should be < 50L                // n_tokens
    got(5L).getBoolean(1) shouldBe false
    got(5L).getDouble(4) should be >= 0.9             // bullet_ratio
    got(6L).getBoolean(1) shouldBe false
    got(6L).getDouble(5) should be >= 0.3             // ellipsis_ratio
  }

  "Dedup.duplicatedSpans" should "count spans repeated across or within docs" in {
    // B duplicates A (all spans dup); C is unique; D repeats its own 5-gram
    val docs = Seq(
      (1L, "a b c d e f"),        // spans: [a b c d e], [b c d e f]
      (2L, "a b c d e f"),        // exact copy of 1
      (3L, "p q r s t u v"),      // 3 spans, all unique
      (4L, "x x x x x x"))        // 2 spans, both "x x x x x" → self-dup
      .toDF("doc_id", "text")
    val got = graft.operators.Dedup.duplicatedSpans(docs, col("doc_id"),
        col("text"), n = 5)
      .as[(Long, Long, Long, Double)].collect()
      .map { case (id, n, d, r) => id -> ((n, d, r)) }.toMap
    got(1L) shouldBe ((2L, 2L, 1.0))
    got(2L) shouldBe ((2L, 2L, 1.0))
    got(3L) shouldBe ((3L, 0L, 0.0))
    got(4L) shouldBe ((2L, 2L, 1.0))
  }

  "Corpus.topNgrams" should "rank by count with deterministic ngram tiebreak" in {
    import graft.operators.Corpus
    val docs = Seq(
      (1L, "x y z x y z"),    // "x y z"×2, "y z x", "z x y"
      (2L, "x y z"),          // "x y z"×1 → 3 total
      (3L, "a b c"))          // "a b c"×1 — ties with "y z x"/"z x y"
      .toDF("doc_id", "text")
    val got = Corpus.topNgrams(docs, col("text"), n = 3, k = 3)
      .as[(String, Long)].collect()
    got shouldBe Array(("x y z", 3L), ("a b c", 1L), ("y z x", 1L))
  }

  "Corpus.pmiCollocations" should "rank by the exact integer lift with the documented div order" in {
    import graft.operators.Corpus
    // bigrams: "a b"×2, "a c"×1 → T=3, l_a("a")=3, r_b("b")=2, r_b("c")=1
    // "a b": (2e6 div 3)·3 div 2 = 666666·3 div 2 = 999999
    // "a c": (1e6 div 3)·3 div 1 = 333333·3 = 999999 — a genuine lift
    // tie, broken by bigram order
    val docs = Seq((1L, "a b"), (2L, "a b"), (3L, "a c")).toDF("doc_id", "text")
    val got = Corpus.pmiCollocations(docs, col("text"), minCount = 1, k = 10)
      .as[(String, Long, Long)].collect()
    got shouldBe Array(("a b", 2L, 999999L), ("a c", 1L, 999999L))
    // minCount prunes the tail before the marginal joins
    Corpus.pmiCollocations(docs, col("text"), minCount = 2, k = 10)
      .as[(String, Long, Long)].collect() shouldBe
      Array(("a b", 2L, 999999L))
  }

  "Sampling" should "produce deterministic, complete, disjoint splits" in {
    import graft.operators.Sampling
    val df = (1 to 500).map(_.toLong).toDF("id")
    val s1 = Sampling.splits(df, col("id"), Seq("train" -> 80, "val" -> 10, "test" -> 10))
    val s2 = Sampling.splits(df, col("id"), Seq("train" -> 80, "val" -> 10, "test" -> 10))
    val m1 = s1.as[(Long, String)].collect().toMap
    m1 shouldBe s2.as[(Long, String)].collect().toMap // deterministic
    m1.size shouldBe 500                              // complete
    m1.values.toSet shouldBe Set("train", "val", "test")
    val counts = m1.values.groupBy(identity).view.mapValues(_.size).toMap
    counts("train").toDouble should be > 300.0        // roughly proportional
    // hashSample is a subset of the same bucketing
    val sample = Sampling.hashSample(df, col("id"), keep = 10).as[Long].collect().toSet
    sample.foreach { id => m1(id) shouldBe "train" }  // buckets 0-9 ⊂ 0-79
  }

  "Skew.saltedJoin" should "be row-identical to a plain inner join" in {
    import graft.operators.Skew
    val large = (1 to 100).map(i => (i % 3, s"v$i")).toDF("k", "payload")
    val small = Seq((0, "zero"), (1, "one"), (2, "two"), (9, "none")).toDF("k", "name")
    val plain = large.join(small, Seq("k"), "inner")
      .select("k", "payload", "name").as[(Int, String, String)].collect().sorted
    val salted = Skew.saltedJoin(large, small, "k", salt = 8)
      .select("k", "payload", "name").as[(Int, String, String)].collect().sorted
    salted shouldBe plain
  }

  "Similarity.ivfAssign" should "assign vectors to their nearest centroid" in {
    val cents = vecs.where(col("vec_id") <= 1)
    val got = Similarity.ivfAssign(vecs, cents)
      .select("vec_id", "centroid_id").as[(Long, Long)].collect().toMap
    got(0L) shouldBe 0L
    got(1L) shouldBe 1L
    got(3L) shouldBe 0L
    got(2L) shouldBe 0L // tie 45° → smaller centroid id
  }

  "Dedup.removeDuplicatedSpans" should "cut every occurrence of a cross-doc span and rejoin survivors" in {
    // "a b c" is shared by docs 1 and 2 (and only that 3-gram): each
    // loses its covered 3 tokens; doc 3 is untouched.
    val corpus = Seq(
      (1L, "a b c d e"),
      (2L, "x y a b c"),
      (3L, "p q r")).toDF("doc_id", "text")
    val got = Dedup.removeDuplicatedSpans(corpus, col("doc_id"), col("text"), n = 3)
      .as[(Long, Long, Long, String)].collect()
      .map { case (d, t, r, c) => d -> ((t, r, c)) }.toMap
    got(1L) shouldBe ((5L, 3L, "d e"))
    got(2L) shouldBe ((5L, 3L, "x y"))
    got(3L) shouldBe ((3L, 0L, "p q r"))
  }

  it should "remove within-doc repeats entirely (self-repetition counts)" in {
    // every 3-gram of the loop appears at least twice inside the doc
    val corpus = Seq((1L, "m n o m n o m n o")).toDF("doc_id", "text")
    val got = Dedup.removeDuplicatedSpans(corpus, col("doc_id"), col("text"), n = 3)
      .as[(Long, Long, Long, String)].collect().head
    got shouldBe ((1L, 9L, 9L, ""))
  }

  it should "keep docs shorter than the span width whole" in {
    val corpus = Seq((1L, "a b"), (2L, "a b")).toDF("doc_id", "text")
    // identical docs, but no 3-token span exists — nothing to cut
    val got = Dedup.removeDuplicatedSpans(corpus, col("doc_id"), col("text"), n = 3)
      .as[(Long, Long, Long, String)].collect()
      .map { case (d, t, r, c) => d -> ((t, r, c)) }.toMap
    got(1L) shouldBe ((2L, 0L, "a b"))
    got(2L) shouldBe ((2L, 0L, "a b"))
  }

  "Dedup.dedupLines" should "keep only the corpus-wide first occurrence of each line" in {
    val corpus = Seq(
      (1L, Seq("header", "body one")),
      (2L, Seq("header", "body two")),
      (3L, Seq("header", "header", "unique")),
      (4L, Seq("header"))).toDF("doc_id", "lines")
    val got = Dedup.dedupLines(corpus, col("doc_id"), col("lines"))
      .as[(Long, Long, Long, Option[String])].collect()
      .map { case (d, n, k, c) => d -> ((n, k, c)) }.toMap
    got(1L) shouldBe ((2L, 2L, Some("header\nbody one")))
    got(2L) shouldBe ((2L, 1L, Some("body two")))
    got(3L) shouldBe ((3L, 1L, Some("unique"))) // both header copies drop
    got(4L) shouldBe ((1L, 0L, None))           // nothing survives → NULL
  }

  "Sampling.temperatureTargets" should "flatten class weights by n^alpha and cap targets at class size" in {
    val df = (1 to 8).map(i => (i.toLong, "big")).toDF("doc_id", "cls")
      .union(Seq((9L, "small")).toDF("doc_id", "cls"))
    val got = Sampling.temperatureTargets(df, col("cls"), alpha = 0.5,
        totalTarget = 4L)
      .as[(String, Long, Double, Long)].collect()
      .map { case (c, n, w, t) => c -> ((n, w, t)) }.toMap
    // sqrt(8)/(sqrt(8)+1) = 0.738796..., 1/(sqrt(8)+1) = 0.261204...
    got("big") shouldBe ((8L, 0.738796, 3L))
    got("small") shouldBe ((1L, 0.261204, 1L))
  }

  it should "cap a class target at the class size (shortfall stays visible)" in {
    val df = Seq((1L, "a"), (2L, "a"), (3L, "a"), (4L, "b")).toDF("doc_id", "cls")
    val got = Sampling.temperatureTargets(df, col("cls"), alpha = 1.0,
        totalTarget = 100L)
      .as[(String, Long, Double, Long)].collect()
      .map { case (c, n, w, t) => c -> t }.toMap
    got("a") shouldBe 3L  // 75 requested, only 3 exist
    got("b") shouldBe 1L  // 25 requested, only 1 exists
  }

  "Similarity.exactL2TopK" should "rank by squared L2 with id tiebreak, self excluded" in {
    val vs = Seq(
      (0L, Seq(0.0, 0.0)), (1L, Seq(1.0, 0.0)),
      (2L, Seq(-1.0, 0.0)), (3L, Seq(5.0, 0.0))).toDF("vec_id", "embedding")
    val got = Similarity.exactL2TopK(vs.where(col("vec_id") === 0), vs, k = 3)
      .orderBy("rank").as[(Long, Long, Double, Int)].collect()
    // dist 1.0 tie between ids 1 and 2 → lower id first; self (0) excluded
    got.map(r => (r._2, r._3, r._4)).toSeq shouldBe
      Seq((1L, 1.0, 1), (2L, 1.0, 2), (3L, 25.0, 3))
  }

  "Similarity.annRecallAtK" should "count id-set hits per query, exact side driving" in {
    val exact = Seq((0L, 1L), (0L, 2L), (1L, 3L), (1L, 4L))
      .toDF("query_id", "cand_id")
    // query 0: one of two right; query 1: absent from the approx side
    val approx = Seq((0L, 1L), (0L, 9L)).toDF("query_id", "cand_id")
    val got = Similarity.annRecallAtK(approx, exact, k = 2)
      .as[(Long, Long, Double)].collect()
      .map { case (q, h, r) => q -> ((h, r)) }.toMap
    got(0L) shouldBe ((1L, 0.5))
    got(1L) shouldBe ((0L, 0.0))
  }

  it should "report recall 1.0 when the approximate side is the exact one" in {
    val vs = Seq(
      (0L, Seq(0.0, 1.0)), (1L, Seq(1.0, 0.0)),
      (2L, Seq(0.5, 0.5)), (3L, Seq(3.0, 3.0))).toDF("vec_id", "embedding")
    val exact = Similarity.exactL2TopK(vs, vs, k = 2)
    val got = Similarity.annRecallAtK(exact, exact, k = 2)
      .as[(Long, Long, Double)].collect()
    got.length shouldBe 4
    all(got.map(_._3)) shouldBe 1.0
  }

  "Similarity.randomProject" should "apply the LCG plane constants as a linear map" in {
    val vs = Seq((7L, Seq(1.0, 0.0, 2.0))).toDF("vec_id", "embedding")
    val got = Similarity.randomProject(vs, dim = 3, outDim = 2)
      .as[(Long, Seq[Double])].collect().head
    got._1 shouldBe 7L
    // y_j = p(j,0)·1 + p(j,2)·2, 6-dp-rounded
    val want = (0 until 2).map { j =>
      val y = Similarity.planeComponent(j, 0, 3) + 2.0 * Similarity.planeComponent(j, 2, 3)
      math.floor(y * 1e6 + 0.5) / 1e6
    }
    got._2 shouldBe want
  }

  it should "approximately preserve relative distances (JL sanity)" in {
    // 3 well-separated directions in 32-dim: after projection to 8 dims
    // the closest pair by L2 stays the closest pair
    def unit(i: Int) = Seq.tabulate(32)(d => if (d == i) 10.0 else 0.0)
    val vs = Seq(
      (0L, unit(0)), (1L, unit(0).updated(1, 1.0)), (2L, unit(16)))
      .toDF("vec_id", "embedding")
    val proj = Similarity.randomProject(vs, dim = 32, outDim = 8)
      .as[(Long, Seq[Double])].collect().map(r => r._1 -> r._2).toMap
    def d2(a: Seq[Double], b: Seq[Double]) =
      a.zip(b).map { case (x, y) => (x - y) * (x - y) }.sum
    val d01 = d2(proj(0L), proj(1L))
    d01 should be < d2(proj(0L), proj(2L))
    d01 should be < d2(proj(1L), proj(2L))
  }

  "Sampling.shuffleShards" should "assign hash-mod shards with dense in-shard positions" in {
    val df = (0L to 99L).toDF("doc_id")
    val got = Sampling.shuffleShards(df, col("doc_id"), numShards = 4, seed = "s")
      .select(col("doc_id"), col("shard"), col("pos"))
      .as[(Long, Int, Long)].collect()
    got.length shouldBe 100
    // shard matches the poly hash closed form
    def ph(s: String) = s.foldLeft(0L)((h, c) => (h * 31 + c) % 1000000007L)
    got.foreach { case (id, sh, _) =>
      sh shouldBe (ph(s"s:$id") % 4).toInt
    }
    // positions are dense 0..n-1 per shard, ordered by (hash, id)
    got.groupBy(_._2).foreach { case (_, rows) =>
      rows.map(_._3).sorted shouldBe rows.indices.map(_.toLong)
      val byPos = rows.sortBy(_._3).map(r => (ph(s"s:${r._1}"), r._1))
      byPos shouldBe byPos.sorted
    }
  }

  it should "vary the permutation with the seed but keep it stable per seed" in {
    val df = (0L to 49L).toDF("doc_id")
    def run(seed: String) =
      Sampling.shuffleShards(df, col("doc_id"), numShards = 2, seed = seed)
        .select("doc_id", "shard", "pos").as[(Long, Int, Long)].collect().toSet
    run("a") shouldBe run("a")
    run("a") should not be run("b")
  }

  "Bpe.trainMerges" should "replay the classic Sennrich example merge by merge" in {
    // low×5 lower×2 newest×6 widest×3: hand-computed ranked merges are
    // (e,s) [9, tie with (s,t) broken by l], (es,t) [9], (l,o) [7, tie
    // with (o,w)], (lo,w) [7]
    val docs = Seq(
      (1L, Seq.fill(5)("low").mkString(" ")),
      (2L, Seq.fill(2)("lower").mkString(" ")),
      (3L, Seq.fill(6)("newest").mkString(" ")),
      (4L, Seq.fill(3)("widest").mkString(" "))).toDF("doc_id", "text")
    val merges = Bpe.trainMerges(docs, col("text"), numMerges = 4)
    merges shouldBe Seq(("e", "s"), ("es", "t"), ("l", "o"), ("lo", "w"))
  }

  it should "merge back-to-back pair occurrences in one round (the overlap case)" in {
    // 'abab' has (a,b) twice ADJACENTLY — a naive single-space replace
    // representation merges only the first
    val docs = Seq((1L, "abab")).toDF("doc_id", "text")
    val merges = Bpe.trainMerges(docs, col("text"), numMerges = 2)
    merges.head shouldBe (("a", "b"))
    merges(1) shouldBe (("ab", "ab"))
  }

  it should "stop early when no adjacent pairs remain" in {
    val docs = Seq((1L, "a b c")).toDF("doc_id", "text")
    Bpe.trainMerges(docs, col("text"), numMerges = 5) shouldBe empty
  }

  it should "rank distinct-count pairs in frequency order" in {
    // (a,a):8 (b,b):4 (c,c):2 — the merge list is the descending-count
    // sequence regardless of symbol interaction
    val docs = Seq((1L, (Seq.fill(8)("aa") ++ Seq.fill(4)("bb") ++
      Seq.fill(2)("cc")).mkString(" "))).toDF("doc_id", "text")
    Bpe.trainMerges(docs, col("text"), numMerges = 3) shouldBe
      Seq(("a", "a"), ("b", "b"), ("c", "c"))
  }

  it should "match a brute-force recount-every-round reference trainer" in {
    // differential test of trainMergesLocal's incremental bookkeeping
    // (pair-count deltas, containing-word index, lazy heap): a ~25-line
    // reference that re-splits and recounts EVERY word each round — no
    // shared machinery — must replay the identical merge list on a
    // varied-frequency pseudo-random corpus
    def reference(freq: Seq[(String, Long)], n: Int): Seq[(String, String)] = {
      def sp(w: String) = "  " + w.map(c => s"$c").mkString("  ") + "  "
      var words = freq.map { case (w, c) => (sp(w), c) }
      val out = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
      while (out.length < n) {
        val counts = scala.collection.mutable.Map.empty[(String, String), Long]
        words.foreach { case (s, c) =>
          val syms = s.split("\\s+").filter(_.nonEmpty)
          syms.lazyZip(syms.drop(1)).foreach((a, b) =>
            counts.update((a, b), counts.getOrElse((a, b), 0L) + c))
        }
        if (counts.isEmpty) return out.toSeq
        val (l, r) = counts.toSeq
          .minBy { case ((l, r), c) => (-c, l, r) }._1 // ASCII corpus: string order == UTF-8 order
        out += ((l, r))
        words = words.map { case (s, c) => (s.replace(s" $l  $r ", s" $l$r "), c) }
      }
      out.toSeq
    }
    val rnd = new scala.util.Random(7)
    val freq = (1 to 400).map(_ => rnd.alphanumeric.filter(_.isLetter)
        .take(3 + rnd.nextInt(5)).mkString.toLowerCase)
      .groupBy(identity).map { case (w, g) => (w, g.size.toLong * (1 + w.length)) }
      .toSeq
    Bpe.trainMergesLocal(freq, numMerges = 40) shouldBe reference(freq, 40)
  }

  "Sketches.hllDistinct" should "estimate within 5% on both estimator branches" in {
    import graft.functions.PolyHash
    import graft.operators.Sketches
    // small group → linear-counting branch; large → raw-estimate branch
    // (raw > 2.5m needs distinct ≳ 10k at p=12)
    val df = ((1 to 500).map(i => ("small", i.toLong)) ++
      (1 to 30000).map(i => ("large", i.toLong))).toDF("g", "uid")
      .withColumn("h", PolyHash.poly_hash(
        concat(lit("u:"), col("uid").cast("string")), 31L))
    val got = Sketches.hllDistinct(df, Seq(col("g")), col("h"), p = 12)
      .as[(String, Int, Long, Double)].collect().map(r => r._1 -> r).toMap
    got("small")._4 shouldBe 500.0 +- 25.0
    got("large")._4 shouldBe 30000.0 +- 1500.0
    // branch check: small must have used linear counting (nonzero < m,
    // raw small), large must exceed the linear-counting cutoff
    got("small")._2 should be < 4096
    got("large")._4 should be > 10240.0
  }

  it should "be partitioning-invariant (sketch merge == single-pass)" in {
    import graft.functions.PolyHash
    import graft.operators.Sketches
    val base = (1 to 5000).map(i => ("g", i.toLong)).toDF("g", "uid")
      .withColumn("h", PolyHash.poly_hash(
        concat(lit("u:"), col("uid").cast("string")), 31L))
    def run(df: org.apache.spark.sql.DataFrame) =
      Sketches.hllDistinct(df, Seq(col("g")), col("h"), p = 12)
        .as[(String, Int, Long, Double)].collect().head
    run(base.repartition(1)) shouldBe run(base.repartition(32))
  }

  it should "reject hashes outside the PolyHash range loudly" in {
    import graft.operators.Sketches
    val bad = Seq(("g", -1L)).toDF("g", "h")
    val ex = intercept[Exception] {
      Sketches.hllDistinct(bad, Seq(col("g")), col("h")).collect()
    }
    Iterator.iterate(ex: Throwable)(_.getCause).takeWhile(_ != null)
      .exists(t => Option(t.getMessage).exists(_.contains("PolyHash"))) shouldBe true
  }

  "Sketches.cmsSketch/cmsEstimate" should "never underestimate and be exact without collisions" in {
    import graft.functions.PolyHash
    import graft.operators.Sketches
    // user i appears i+1 times; 50 users in 4x2048 counters → collisions
    // possible per row but min-over-4 almost surely exact here, and the
    // CMS guarantee (est >= true) must hold regardless
    val rows = (0 until 50).flatMap(i => Seq.fill(i + 1)(("g", i.toLong)))
    val df = rows.toDF("g", "uid").withColumn("h", PolyHash.poly_hash(
      concat(lit("u:"), col("uid").cast("string")), 31L))
    val sk = Sketches.cmsSketch(df, Seq(col("g")), col("h"))
    val probes = spark.range(0, 50).toDF("uid")
      .withColumn("ph", PolyHash.poly_hash(
        concat(lit("u:"), col("uid").cast("string")), 31L))
    val est = Sketches.cmsEstimate(sk, probes, col("ph"))
      .select(col("uid"), col("est")).as[(Long, Long)].collect().toMap
    (0 until 50).foreach { i =>
      est(i.toLong) should be >= (i + 1).toLong
    }
    est.values.sum shouldBe (1 to 50).map(_.toLong).sum // no collision hit
  }

  it should "match the JVM cmsIndex replay and merge across partitions" in {
    import graft.functions.PolyHash
    import graft.operators.Sketches
    val df = (1 to 2000).map(i => ("g", i.toLong % 97)).toDF("g", "uid")
      .withColumn("h", PolyHash.poly_hash(
        concat(lit("u:"), col("uid").cast("string")), 31L))
    def sketch(d: org.apache.spark.sql.DataFrame): Seq[Long] =
      Sketches.cmsSketch(d, Seq(col("g")), col("h"))
        .select("sketch").as[Seq[Long]].collect().head
    val one = sketch(df.repartition(1))
    sketch(df.repartition(32)) shouldBe one
    // the column-op estimate path indexes the same cells cmsIndex picks
    val h5 = PolyHash.hash("u:5", 31L)
    val jvm = (0 until 4).map(j => one(j * 2048 + Sketches.cmsIndex(h5, j, 2048))).min
    val probes = Seq(5L).toDF("uid").withColumn("ph", PolyHash.poly_hash(
      concat(lit("u:"), col("uid").cast("string")), 31L))
    val sk = Sketches.cmsSketch(df, Seq(col("g")), col("h"))
    Sketches.cmsEstimate(sk, probes, col("ph"))
      .select("est").as[Long].collect().head shouldBe jvm
  }

  "Sketches.bloomBuild/bloomMightContain" should "admit every built key and reject most others" in {
    import graft.functions.PolyHash
    import graft.operators.Sketches
    def hashed(df: org.apache.spark.sql.DataFrame) = df.withColumn("h",
      PolyHash.poly_hash(concat(lit("k:"), col("k").cast("string")), 31L))
    val built = hashed((0L until 1000L).toDF("k"))
    val bloom = Sketches.bloomBuild(built, col("h"))
    // no false negatives: every built key must test positive
    Sketches.bloomMightContain(built, bloom, col("h"))
      .count() shouldBe 1000L
    // false-positive sanity on 10k disjoint keys: d=4 over 2^17 bits at
    // 1000 entries → fp ≈ (4000/131072)^4 ~ 1e-6; allow generous slack
    val outside = hashed((100000L until 110000L).toDF("k"))
    Sketches.bloomMightContain(outside, bloom, col("h"))
      .count() should be <= 10L
  }

  "Bpe.encode" should "count subword tokens per doc under the trained merges" in {
    val train = Seq(
      (1L, Seq.fill(5)("low").mkString(" ")),
      (2L, Seq.fill(2)("lower").mkString(" ")),
      (3L, Seq.fill(6)("newest").mkString(" ")),
      (4L, Seq.fill(3)("widest").mkString(" "))).toDF("doc_id", "text")
    val merges = Bpe.trainMerges(train, col("text"), numMerges = 4)
    // low → [low]; lower → [low,e,r]; newest → [n,e,w,est];
    // widest → [w,i,d,est]
    val docs = Seq((7L, "low lower newest widest")).toDF("doc_id", "text")
    val got = Bpe.encode(docs, col("doc_id"), col("text"), merges)
      .as[(Long, Long, Long)].collect().head
    got shouldBe ((7L, 4L, 12L))
  }

  "Corpus.chunkDocuments" should "split on the closed-form boundaries with overlap" in {
    val docs = Seq(
      (1L, (1 to 20).map(i => s"t$i").mkString(" ")), // 20 toks → 2 chunks
      (2L, (1 to 16).map(i => s"t$i").mkString(" ")), // exactly W → 1 chunk
      (3L, (1 to 17).map(i => s"t$i").mkString(" ")), // W+1 → 2 chunks
      (4L, "a b"), // shorter than W → 1 chunk
      (5L, "   ")).toDF("doc_id", "text") // empty after filter → no row
    val got = Corpus.chunkDocuments(docs, col("doc_id"), col("text"),
        window = 16, stride = 12)
      .as[(Long, Int, Long, Long, String)].collect()
      .groupBy(_._1).view.mapValues(_.sortBy(_._2).toSeq).toMap
    got(1L).map(c => (c._3, c._4)) shouldBe Seq((0L, 16L), (12L, 8L))
    got(1L)(1)._5 shouldBe (13 to 20).map(i => s"t$i").mkString(" ")
    got(2L).map(c => (c._3, c._4)) shouldBe Seq((0L, 16L))
    got(3L).map(c => (c._3, c._4)) shouldBe Seq((0L, 16L), (12L, 5L))
    got(4L).map(c => (c._3, c._4, c._5)) shouldBe Seq((0L, 2L, "a b"))
    got.contains(5L) shouldBe false
    // overlap: chunk k starts 4 tokens before chunk k-1 ends
    got(1L)(1)._5.split(" ").take(4).toSeq shouldBe
      got(1L)(0)._5.split(" ").takeRight(4).toSeq
  }

  "Similarity.l2Normalize" should "project to the unit sphere and null zero vectors" in {
    val df = Seq(
      (1L, Seq(3.0, 4.0)),
      (2L, Seq(0.0, 0.0)),
      (3L, Seq(-1.0, 0.0))).toDF("vec_id", "embedding")
    val got = Similarity.l2Normalize(df, col("vec_id"), col("embedding"))
      .as[(Long, Option[Seq[Double]])].collect().toMap
    got(1L).get shouldBe Seq(0.6, 0.8)
    got(2L) shouldBe None // zero norm: loud NULL, not a fake direction
    got(3L).get shouldBe Seq(-1.0, 0.0)
    // random vectors: recomputed norm of the rounded output ≈ 1
    val rnd = new scala.util.Random(31)
    val rv = (1 to 50).map(i => (i.toLong, Seq.fill(16)(rnd.nextDouble() * 4 - 2)))
      .toDF("vec_id", "embedding")
    Similarity.l2Normalize(rv, col("vec_id"), col("embedding"))
      .as[(Long, Seq[Double])].collect().foreach { case (_, u) =>
        math.sqrt(u.map(x => x * x).sum) shouldBe 1.0 +- 1e-4
      }
  }

  "Similarity.dimStats" should "compute exact fixed-point per-dim sums" in {
    val df = Seq(
      (1L, Seq(0.5, -1.25)),
      (2L, Seq(0.25, 2.0)),
      (3L, Seq(-0.75, 0.0))).toDF("vec_id", "embedding")
    val got = Similarity.dimStats(df, col("embedding"))
      .as[(Int, Long, Long, Long, Double)].collect()
      .map(r => r._1 -> r).toMap
    // dim 0 micro: 500000, 250000, -750000 → sum 0, sumsq 8.75e11
    got(0) shouldBe ((0, 3L, 0L, 500000L * 500000 + 250000L * 250000 + 750000L * 750000, 0.0))
    // dim 1 micro: -1250000, 2000000, 0 → sum 750000
    got(1)._3 shouldBe 750000L
    got(1)._5 shouldBe 250000.0
  }

  it should "be partitioning-invariant with one exchange in the plan" in {
    val rnd = new scala.util.Random(9)
    val df = (1 to 300).map(i =>
      (i.toLong, Seq.fill(8)(rnd.nextDouble() * 2 - 1))).toDF("vec_id", "embedding")
    def run(d: org.apache.spark.sql.DataFrame) =
      Similarity.dimStats(d, col("embedding"))
        .as[(Int, Long, Long, Long, Double)].collect().sortBy(_._1).toSeq
    run(df.repartition(1)) shouldBe run(df.repartition(32))
    // partial aggregation must collapse rows BEFORE the shuffle: exactly
    // one exchange, fed by a partial HashAggregate
    val plan = Similarity.dimStats(df, col("embedding"))
      .queryExecution.executedPlan.toString
    plan.split("Exchange").length - 1 shouldBe 1
    plan should include ("partial_count")
  }

  "Dedup.editDistanceOnePairs" should "find exactly the distance-1 pairs (all three edit kinds)" in {
    val vocab = Seq("table", "tably", "tble", "stable", "cable", "chair",
      "chairs", "xhair", "zzz").toDF("tok")
    val got = Dedup.editDistanceOnePairs(vocab, col("tok"))
      .as[(String, String)].collect().toSet
    got shouldBe Set(
      ("table", "tably"), // substitution
      ("table", "tble"), // deletion
      ("stable", "table"), // insertion
      ("cable", "table"), // substitution at position 0
      ("chair", "chairs"), // insertion at the end
      ("chair", "xhair")) // substitution
    // tably↔tble is distance 2 (both neighbors of "table") and must NOT
    // appear — the verify step, not just the blocking, decides membership
    got should not contain ("tably" -> "tble")
  }

  it should "equal the all-pairs levenshtein join on a random mutated vocabulary" in {
    val rnd = new scala.util.Random(23)
    val base = (1 to 60).map(_ => rnd.alphanumeric.filter(_.isLetter)
      .take(4 + rnd.nextInt(4)).mkString.toLowerCase).distinct
    val mutated = base.flatMap { w =>
      val i = rnd.nextInt(w.length)
      Seq(w, w.updated(i, 'q'), w.take(i) + w.drop(i + 1)) // sub + del
    }.distinct
    def lev(a: String, b: String): Int = {
      val d = Array.tabulate(a.length + 1, b.length + 1)((i, j) => i + j)
      for (i <- 1 to a.length; j <- 1 to b.length)
        d(i)(j) = math.min(math.min(d(i - 1)(j) + 1, d(i)(j - 1) + 1),
          d(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
      d(a.length)(b.length)
    }
    val expect = (for {
      a <- mutated; b <- mutated if a < b && lev(a, b) == 1
    } yield (a, b)).toSet
    Dedup.editDistanceOnePairs(mutated.toDF("tok"), col("tok"))
      .as[(String, String)].collect().toSet shouldBe expect
    expect.size should be > 50 // non-vacuous
  }

  "Sketches.cmsHeavyHitters" should "equal the plain HAVING aggregation exactly" in {
    import graft.functions.PolyHash
    import graft.operators.Sketches
    // zipf-ish skew: key k appears 201-2k times (k=0..99) → heavy set
    // under threshold 120 is k <= 40; 100 keys in 4x2048 counters means
    // collisions are possible but must never LOSE a heavy key
    val rows = (0 until 100).flatMap(k => Seq.fill(201 - 2 * k)(k.toLong))
    val df = rows.toDF("uid").withColumn("h", PolyHash.poly_hash(
      concat(lit("u:"), col("uid").cast("string")), 31L))
    val got = Sketches.cmsHeavyHitters(df, col("uid"), col("h"), threshold = 120L)
      .as[(Long, Long)].collect().toMap
    val expect = rows.groupBy(identity).view.mapValues(_.size.toLong)
      .filter(_._2 >= 120L).toMap
    got shouldBe expect
    got.keySet.max shouldBe 40L
  }

  it should "be partitioning-invariant" in {
    import graft.functions.PolyHash
    import graft.operators.Sketches
    val rows = (0 until 50).flatMap(k => Seq.fill(k + 10)(k.toLong))
    val df = rows.toDF("uid").withColumn("h", PolyHash.poly_hash(
      concat(lit("u:"), col("uid").cast("string")), 31L))
    def run(d: org.apache.spark.sql.DataFrame) =
      Sketches.cmsHeavyHitters(d, col("uid"), col("h"), threshold = 30L)
        .as[(Long, Long)].collect().toMap
    run(df.repartition(1)) shouldBe run(df.repartition(32))
  }

  "Graph.pageRank" should "match hand-computed integer ranks on a tiny graph" in {
    import graft.operators.Graph
    // 1→2, 2→1, 1→3; node 3 is dangling (its mass drops, the standard rule)
    val edges = Seq((1L, 2L), (2L, 1L), (1L, 3L)).toDF("src", "dst")
    val got = Graph.pageRank(edges, iterations = 3)
      .as[(Long, Long)].collect().toMap
    // r1 = (1e6, 575000, 575000); r2 = (638750, 575000, 575000);
    // r3(2) = 150000 + 850·(638750 div 2) div 1000 = 421468
    got shouldBe Map(1L -> 638750L, 2L -> 421468L, 3L -> 421468L)
  }

  it should "settle source-only nodes at the teleport floor" in {
    import graft.operators.Graph
    val got = Graph.pageRank(Seq((5L, 6L)).toDF("src", "dst"), iterations = 2)
      .as[(Long, Long)].collect().toMap
    // 5 has no in-edges → teleport floor; 6 receives 5's floor rank
    got shouldBe Map(5L -> 150000L, 6L -> 277500L)
  }

  it should "be partitioning-invariant" in {
    import graft.operators.Graph
    val rnd = new scala.util.Random(3)
    val edges = (1 to 500).map(_ => (rnd.nextInt(60).toLong, rnd.nextInt(60).toLong))
      .filter { case (a, b) => a != b }.toDF("src", "dst")
    def run(df: org.apache.spark.sql.DataFrame) =
      Graph.pageRank(df, iterations = 3).as[(Long, Long)].collect().toMap
    run(edges.repartition(1)) shouldBe run(edges.repartition(32))
  }

  "Sessions.funnel" should "match stages greedily in strict time order" in {
    import graft.operators.Sessions
    import java.sql.Timestamp
    def t(s: Long) = new Timestamp(s * 1000L)
    val ev = Seq(
      // user 1 completes: view@1, click@5 (the @0 click is BEFORE the
      // view and must not count), purchase@9
      (1L, t(0), "click"), (1L, t(1), "view"), (1L, t(5), "click"),
      (1L, t(9), "purchase"),
      // user 2 stalls at depth 2: purchase@3 precedes its click@4
      (2L, t(2), "view"), (2L, t(3), "purchase"), (2L, t(4), "click"),
      // user 3 never views → excluded entirely
      (3L, t(1), "click"), (3L, t(2), "purchase"))
      .toDF("user_id", "ts", "event_type")
    val got = Sessions.funnel(ev, col("user_id"), col("ts"),
        Seq("view" -> (col("event_type") === "view"),
          "click" -> (col("event_type") === "click"),
          "purchase" -> (col("event_type") === "purchase")))
      .as[(Long, Int, Option[Long], Option[Long], Option[Long])]
      .collect().map(r => r._1 -> r).toMap
    got.keySet shouldBe Set(1L, 2L)
    got(1L) shouldBe ((1L, 3, Some(1000000L), Some(5000000L), Some(9000000L)))
    got(2L) shouldBe ((2L, 2, Some(2000000L), Some(4000000L), None))
  }

  it should "refuse same-instant double-matching (strict >)" in {
    import graft.operators.Sessions
    import java.sql.Timestamp
    // view and click at the SAME instant: click is not after view
    val ev = Seq((1L, new Timestamp(5000L), "view"),
      (1L, new Timestamp(5000L), "click")).toDF("user_id", "ts", "event_type")
    val got = Sessions.funnel(ev, col("user_id"), col("ts"),
        Seq("view" -> (col("event_type") === "view"),
          "click" -> (col("event_type") === "click")))
      .as[(Long, Int, Option[Long], Option[Long])].collect()
    got.length shouldBe 1
    got.head._2 shouldBe 1 // depth 1: the funnel stalls at view
  }

  "Graph.labelPropagation" should "converge a two-community barbell deterministically" in {
    import graft.operators.Graph
    // two triangles {1,2,3} and {7,8,9} joined by bridge 3—7: the two
    // communities settle on their own labels (1 and 3) — the bridge is
    // outvoted by the within-triangle majority on both sides
    val edges = Seq((1L, 2L), (1L, 3L), (2L, 3L), (3L, 7L),
      (7L, 8L), (7L, 9L), (8L, 9L)).toDF("src", "dst")
    val got = Graph.labelPropagation(edges, iterations = 3)
      .as[(Long, Long)].collect().toMap
    got.keySet shouldBe Set(1L, 2L, 3L, 7L, 8L, 9L)
    // round-by-round hand replay (mode over neighbors, ties → min):
    // l1 = (1→2, 2→1, 3→1, 7→3, 8→7, 9→7)
    // l2 = (1→1, 2→1, 3→1, 7→7, 8→3, 9→3)
    // l3 = (1→1, 2→1, 3→1, 7→3, 8→3, 9→3)
    got shouldBe Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 7L -> 3L, 8L -> 3L,
      9L -> 3L)
  }

  it should "break label-frequency ties on the lowest label and be partitioning-invariant" in {
    import graft.operators.Graph
    // node 5 sees labels {1, 9} once each after round 1 → picks 1
    val edges = Seq((5L, 1L), (5L, 9L)).toDF("src", "dst")
    val r1 = Graph.labelPropagation(edges, iterations = 1)
      .as[(Long, Long)].collect().toMap
    r1(5L) shouldBe 1L
    val rnd = new scala.util.Random(11)
    val big = (1 to 400).map(_ => (rnd.nextInt(50).toLong, rnd.nextInt(50).toLong))
      .filter { case (a, b) => a != b }.toDF("src", "dst")
    def run(df: org.apache.spark.sql.DataFrame) =
      Graph.labelPropagation(df, iterations = 3)
        .as[(Long, Long)].collect().toMap
    run(big.repartition(1)) shouldBe run(big.repartition(32))
  }

  "Graph.triangleCounts" should "count known triangles once, per node" in {
    import graft.operators.Graph
    // K4 minus edge (1,4): triangles {1,2,3} and {2,3,4}
    val edges = Seq((1L, 2L), (1L, 3L), (2L, 3L), (2L, 4L), (3L, 4L))
      .toDF("src", "dst")
    Graph.triangleCounts(edges).as[(Long, Long)].collect().toMap shouldBe
      Map(1L -> 1L, 2L -> 2L, 3L -> 2L, 4L -> 1L)
  }

  it should "ignore duplicate, reversed, and self edges" in {
    import graft.operators.Graph
    val edges = Seq((1L, 2L), (2L, 1L), (1L, 3L), (3L, 1L), (2L, 3L),
      (2L, 2L)).toDF("src", "dst")
    Graph.triangleCounts(edges).as[(Long, Long)].collect().toMap shouldBe
      Map(1L -> 1L, 2L -> 1L, 3L -> 1L)
  }

  it should "match a brute-force count on a random graph and be partitioning-invariant" in {
    import graft.operators.Graph
    val rnd = new scala.util.Random(7)
    val raw = (1 to 300).map(_ => (rnd.nextInt(25).toLong, rnd.nextInt(25).toLong))
      .filter { case (a, b) => a != b }
    val canon = raw.map { case (a, b) => (math.min(a, b), math.max(a, b)) }.toSet
    val nodes = canon.flatMap { case (a, b) => Seq(a, b) }.toSeq.sorted
    val expected = nodes.combinations(3).collect {
      case Seq(a, b, c) if canon((a, b)) && canon((a, c)) && canon((b, c)) =>
        Seq(a, b, c)
    }.flatten.toSeq.groupBy(identity).map { case (k, v) => k -> v.size.toLong }
    val df = raw.toDF("src", "dst")
    def run(d: org.apache.spark.sql.DataFrame) =
      Graph.triangleCounts(d).as[(Long, Long)].collect().toMap
    run(df.repartition(1)) shouldBe expected
    run(df.repartition(32)) shouldBe expected
  }

  "Lineage.cutSmall" should "bound the collect itself and throw past the cap" in {
    val small = (1 to 10).map(i => (i.toLong, i * 2.0)).toDF("k", "v")
    graft.Lineage.cutSmall(small, maxRows = 10)
      .as[(Long, Double)].collect().sorted shouldBe
      (1 to 10).map(i => (i.toLong, i * 2.0))
    val ex = intercept[IllegalStateException] {
      graft.Lineage.cutSmall((1 to 20).map(i => (i.toLong, 0.0)).toDF("k", "v"),
        maxRows = 10)
    }
    ex.getMessage should include("cap")
  }

  "Sketches.kmvSketch" should "hold the k smallest distinct scrambled hashes, hierarchically" in {
    import graft.operators.Sketches
    val df = (1 to 500).map(i => ("g", (i % 200).toLong)).toDF("g", "v")
    val expected = (0 until 200).map(v => Sketches.scramble30(v))
      .distinct.sorted
    // k past the distinct count: the sketch IS the whole scrambled set
    val all = Sketches.kmvSketch(df, Seq(col("g")), col("v"), k = 1000)
      .as[(String, Seq[Long])].collect().head
    all._2 shouldBe expected
    // bounded k: exactly the k smallest, regardless of salt-cell fanout
    for (cells <- Seq(1, 64)) {
      val sk = Sketches.kmvSketch(df, Seq(col("g")), col("v"), k = 16,
        saltCells = cells).as[(String, Seq[Long])].collect().head
      sk._2 shouldBe expected.take(16)
    }
  }

  "Sketches.kmvSetOps" should "be exact when sketches are exhaustive" in {
    import graft.operators.Sketches
    // A = {0..29}, B = {20..49}: |A|=|B|=30, |A∩B|=10, |A∪B|=50
    val df = ((0 until 30).map(v => ("a", v.toLong)) ++
      (20 until 50).map(v => ("b", v.toLong))).toDF("s", "v")
    val sk = Sketches.kmvSketch(df, Seq(col("s")), col("v"), k = 100)
    val got = Sketches.kmvSetOps(sk, "s", k = 100)
      .as[(String, String, Long, Long, Long, Long, Long, Long)]
      .collect().head
    got shouldBe (("a", "b", 30L, 30L, 50L, 10L, 200L, 10L))
  }

  it should "estimate within the bottom-k error envelope when sketches saturate" in {
    import graft.operators.Sketches
    // two 2000-element sets sharing 1000 members, k = 256: the estimator
    // sd is ~1/√k ≈ 6% — assert a loose 20% envelope, deterministic seed
    val common = (0 until 1000).map(v => v.toLong)
    val df = ((common ++ (1000 until 2000).map(_.toLong)).map(("a", _)) ++
      (common ++ (2000 until 3000).map(_.toLong)).map(("b", _))).toDF("s", "v")
    val sk = Sketches.kmvSketch(df, Seq(col("s")), col("v"), k = 256)
    val got = Sketches.kmvSetOps(sk, "s", k = 256)
      .as[(String, String, Long, Long, Long, Long, Long, Long)]
      .collect().head
    got._3 should (be >= 1600L and be <= 2400L) // |A| = 2000
    got._5 should (be >= 2400L and be <= 3600L) // |A∪B| = 3000
    got._8 should (be >= 700L and be <= 1300L) // |A∩B| = 1000
  }

  "Sketches.hdrQuantiles" should "be exact in the linear region and rank-correct" in {
    import graft.operators.Sketches
    // all values < 64 → every bucket holds exactly one value, so the
    // sketch IS the exact quantile
    val df = (1 to 63).map(v => ("g", v.toLong)).toDF("g", "v")
    val got = Sketches.hdrQuantiles(df, Seq(col("g")), col("v"))
      .as[(String, Long, Long, Long, Long)].collect().head
    // rank = ceil(q·63): p50 → 32nd, p90 → 57th, p99 → 63rd value
    got shouldBe (("g", 63L, 32L, 57L, 63L))
  }

  it should "bound relative error by 1/32 above the linear region" in {
    import graft.operators.Sketches
    val rnd = new scala.util.Random(11)
    val vals = (1 to 5000).map(_ => 1L + (math.abs(rnd.nextLong()) % 1000000000L))
    val df = vals.map(("g", _)).toDF("g", "v")
    val got = Sketches.hdrQuantiles(df, Seq(col("g")), col("v"))
      .as[(String, Long, Long, Long, Long)].collect().head
    val sorted = vals.sorted
    def exact(p: Int): Long = sorted(((p.toLong * 5000 + 999) / 1000).toInt - 1)
    for ((lb, p) <- Seq((got._3, 500), (got._4, 900), (got._5, 990))) {
      lb should be <= exact(p)
      exact(p) should be < (lb + math.max(1L, lb / 32) + 1)
    }
  }

  it should "be partitioning-invariant and reject out-of-range values loudly" in {
    import graft.operators.Sketches
    val base = (1 to 4000).map(i => ("g", i.toLong * 37 % 100000)).toDF("g", "v")
    def run(df: org.apache.spark.sql.DataFrame) =
      Sketches.hdrQuantiles(df, Seq(col("g")), col("v"))
        .as[(String, Long, Long, Long, Long)].collect().head
    run(base.repartition(1)) shouldBe run(base.repartition(32))
    val ex = intercept[Exception] {
      Sketches.hdrQuantiles(Seq(("g", -5L)).toDF("g", "v"),
        Seq(col("g")), col("v")).collect()
    }
    Iterator.iterate(ex: Throwable)(_.getCause).takeWhile(_ != null)
      .exists(t => Option(t.getMessage).exists(_.contains("HdrAggregator"))) shouldBe true
  }

  // --- grouped top-k ------------------------------------------------------

  "TopK.groupedTopK" should "keep the k best per group with the exact tie rule" in {
    import graft.operators.TopK
    // group "a": scores 9,9,7,7,5 with a tie at 9 (ids 4,2 → 2 first)
    // and at 7 (ids 1,3 → 1 before 3); k=3 cuts after (7, id 1).
    val df = Seq(("a", 9L, 4L), ("a", 9L, 2L), ("a", 7L, 1L), ("a", 7L, 3L),
      ("a", 5L, 9L), ("b", 1L, 8L)).toDF("g", "s", "id")
    val got = TopK.groupedTopK(df, Seq(col("g")), col("s"), col("id"), k = 3)
      .as[(String, Int, Long, Long)].collect().toSet
    got shouldBe Set(
      ("a", 1, 2L, 9L), ("a", 2, 4L, 9L), ("a", 3, 1L, 7L),
      ("b", 1, 8L, 1L)) // groups smaller than k emit what they have
  }

  it should "be partitioning-invariant and equal the window form" in {
    import graft.operators.TopK
    val rng = new scala.util.Random(42)
    val base = (1 to 500).map(i =>
      (rng.nextInt(7).toLong, rng.nextInt(20).toLong, i.toLong))
      .toDF("g", "s", "id")
    def run(df: org.apache.spark.sql.DataFrame) =
      TopK.groupedTopK(df, Seq(col("g")), col("s"), col("id"), k = 4)
        .as[(Long, Int, Long, Long)].collect().toSet
    val got = run(base.repartition(32))
    got shouldBe run(base.repartition(1))
    // window-form oracle: row_number over (s desc, id asc)
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("g").orderBy(desc("s"), asc("id"))
    val oracle = base.withColumn("rank", row_number().over(w))
      .where(col("rank") <= 4)
      .select(col("g"), col("rank"), col("id"), col("s"))
      .as[(Long, Int, Long, Long)].collect().toSet
    got shouldBe oracle
  }

  it should "aggregate with bounded state, no window or sort of the input" in {
    import graft.operators.TopK
    val df = (1 to 100).map(i => (i % 5L, i.toLong, i.toLong)).toDF("g", "s", "id")
    val plan = TopK.groupedTopK(df, Seq(col("g")), col("s"), col("id"), k = 3)
      .queryExecution.executedPlan.toString
    plan should not include "Window"
    // both partial and final aggregation run the UDAF: map-side combine
    // bounds the shuffle at k entries per group per partition
    plan should include ("partial_topkaggregator")
    plan should include ("ObjectHashAggregate")
  }

  // --- profiling ----------------------------------------------------------

  "Profile.numericProfile" should "compute exact one-pass stats incl. nulls" in {
    import graft.operators.Profile
    val df = Seq((Some(1.5), Some(2.0)), (Some(2.5), None),
      (None, Some(2.0))).toDF("a", "b")
    val got = Profile.numericProfile(df, Seq("a", "b"))
      .as[(String, Long, Long, Long, Option[Long], Option[Long], Option[Long])]
      .collect().map(r => r._1 -> r).toMap
    got("a") shouldBe (("a", 3L, 1L, 2L,
      Some(1500000L), Some(2500000L), Some(4000000L)))
    got("b") shouldBe (("b", 3L, 1L, 1L,
      Some(2000000L), Some(2000000L), Some(4000000L)))
  }

  it should "emit null bounds for an all-null column, never a fake zero" in {
    import graft.operators.Profile
    val df = Seq((1.0, Option.empty[Double]), (2.0, None)).toDF("a", "b")
    val got = Profile.numericProfile(df, Seq("b"))
      .as[(String, Long, Long, Long, Option[Long], Option[Long], Option[Long])]
      .collect().head
    got shouldBe (("b", 2L, 2L, 0L, None, None, None))
  }

  "Profile.stringProfile" should "compute lexicographic bounds and total length" in {
    import graft.operators.Profile
    val df = Seq(("b", Some("xy")), ("a", None), ("c", Some("z")))
      .toDF("s", "t")
    val got = Profile.stringProfile(df, Seq("s", "t"))
      .as[(String, Long, Long, Long, Option[String], Option[String], Option[Long])]
      .collect().map(r => r._1 -> r).toMap
    got("s") shouldBe (("s", 3L, 0L, 3L, Some("a"), Some("c"), Some(3L)))
    got("t") shouldBe (("t", 3L, 1L, 2L, Some("xy"), Some("z"), Some(3L)))
  }

  // --- interval overlap join ------------------------------------------------

  "Joins.intervalOverlapJoin" should "emit each overlapping pair exactly once across buckets" in {
    import graft.operators.Joins
    def iv(rows: Seq[(Long, Long, Long)], p: String) =
      rows.toDF(s"${p}_id", "s_us", "e_us")
        .select(col(s"${p}_id"), timestamp_micros(col("s_us")).as(s"${p}_start"),
          timestamp_micros(col("e_us")).as(s"${p}_end"))
    // bucket width 10; left interval [5, 95) spans 10 buckets and overlaps
    // both rights; [100, 110) touches r2 only at its exclusive end → no match
    val l = iv(Seq((1L, 5L, 95L), (2L, 100L, 110L)), "l")
    val r = iv(Seq((10L, 0L, 12L), (20L, 90L, 100L)), "r")
    val got = Joins.intervalOverlapJoin(l, "l_start", "l_end",
        r, "r_start", "r_end", bucketWidthMicros = 10L)
      .select("l_id", "r_id").as[(Long, Long)].collect().toSeq.sorted
    got shouldBe Seq((1L, 10L), (1L, 20L)) // exactly once each, no (2, 20)
  }

  it should "match a brute-force inequality join on random intervals and drop inverted ones" in {
    import graft.operators.Joins
    val rng = new scala.util.Random(7)
    def mk(n: Int, p: String) = (1 to n).map { i =>
      val s = rng.nextInt(1000).toLong
      // every 7th interval inverted/empty: must vanish, not explode
      val e = if (i % 7 == 0) s - rng.nextInt(3) else s + 1 + rng.nextInt(40)
      (i.toLong, s, e)
    }.toDF(s"${p}_id", "s_us", "e_us")
      .select(col(s"${p}_id"), timestamp_micros(col("s_us")).as(s"${p}_start"),
        timestamp_micros(col("e_us")).as(s"${p}_end"))
    val l = mk(80, "l")
    val r = mk(60, "r")
    val got = Joins.intervalOverlapJoin(l, "l_start", "l_end",
        r, "r_start", "r_end", bucketWidthMicros = 16L)
      .select("l_id", "r_id").as[(Long, Long)].collect().toSeq.sorted
    val brute = l.where(col("l_end") > col("l_start"))
      .join(r.where(col("r_end") > col("r_start")),
        col("l_start") < col("r_end") && col("r_start") < col("l_end"))
      .select("l_id", "r_id").as[(Long, Long)].collect().toSeq.sorted
    got shouldBe brute
  }

  "Diff.snapshotDiff" should "classify added/removed/changed with null-safe columns" in {
    import graft.operators.Diff
    val old = Seq((1L, Some("a"), Some(1.0)), (2L, Some("b"), Some(2.0)),
      (3L, None, Some(3.0)), (4L, Some("d"), None)).toDF("k", "s", "v")
    val nw = Seq((2L, Some("b"), Some(2.5)), // v changed
      (3L, Some("c"), Some(3.0)), // null → value IS a change
      (4L, Some("d"), Option.empty[Double]), // null == null: unchanged
      (5L, Some("e"), Some(5.0))) // added
      .toDF("k", "s", "v")
    val got = Diff.snapshotDiff(old, nw, Seq("k"), Seq("s", "v"))
      .as[(Long, String, String)].collect().toSet
    got shouldBe Set(
      (1L, "removed", ""),
      (2L, "changed", "v"),
      (3L, "changed", "s"),
      (5L, "added", ""))
  }

  it should "report multiple changed columns in compare order and keep unchanged rows on demand" in {
    import graft.operators.Diff
    val old = Seq((1L, "a", 1.0), (2L, "b", 2.0)).toDF("k", "s", "v")
    val nw = Seq((1L, "x", 9.0), (2L, "b", 2.0)).toDF("k", "s", "v")
    val all = Diff.snapshotDiff(old, nw, Seq("k"), Seq("s", "v"),
        includeUnchanged = true)
      .as[(Long, String, String)].collect().toSet
    all shouldBe Set((1L, "changed", "s,v"), (2L, "unchanged", ""))
  }

  "Diff.mergeInto" should "update, delete, insert, and keep per MERGE semantics" in {
    import graft.operators.Diff
    val target = Seq((1L, "a", 1.0), (2L, "b", 2.0), (3L, "c", 3.0),
      (4L, "d", 4.0)).toDF("k", "s", "v")
    val source = Seq((2L, "B", 2.5),  // matched → update
      (3L, "x", 0.0),                 // matched + deleteWhen → delete
      (5L, "e", 5.0),                 // unmatched → insert
      (6L, "skip", 6.0))              // unmatched + !insertWhen → dropped
      .toDF("k", "s", "v")
    val got = Diff.mergeInto(target, source, Seq("k"),
        deleteWhen = Some(col("s") === "x"),
        insertWhen = Some(col("s") =!= "skip"))
      .as[(Long, String, Double)].collect().toSet
    got shouldBe Set((1L, "a", 1.0), (2L, "B", 2.5), (4L, "d", 4.0),
      (5L, "e", 5.0))
  }

  it should "honor updateWhen and treat null conditions as false" in {
    import graft.operators.Diff
    val target = Seq((1L, Some("a"), 1.0), (2L, Some("b"), 2.0))
      .toDF("k", "s", "v")
    val source = Seq((1L, Some("A"), 1.5), (2L, Option.empty[String], 9.0))
      .toDF("k", "s", "v")
    // updateWhen = s IS NOT NULL evaluates null-ish only via the col;
    // row 2's condition (s = 'A') is NULL → false → row kept as-is
    val got = Diff.mergeInto(target, source, Seq("k"),
        updateWhen = Some(col("s") === "A"))
      .as[(Long, Option[String], Double)].collect().toSet
    got shouldBe Set((1L, Some("A"), 1.5), (2L, Some("b"), 2.0))
  }

  it should "raise on duplicate source keys when guarded" in {
    import graft.operators.Diff
    val target = Seq((1L, "a", 1.0)).toDF("k", "s", "v")
    val dup = Seq((1L, "x", 1.0), (1L, "y", 2.0)).toDF("k", "s", "v")
    val ex = intercept[Exception] {
      Diff.mergeInto(target, dup, Seq("k"), guardUniqueSource = true)
        .collect()
    }
    ex.getMessage should include("multiple source rows")
    // and a unique source passes untouched with the guard on
    val ok = Diff.mergeInto(target, Seq((1L, "z", 3.0)).toDF("k", "s", "v"),
        Seq("k"), guardUniqueSource = true)
      .as[(Long, String, Double)].collect().toSet
    ok shouldBe Set((1L, "z", 3.0))
  }

  "Diff.scdApply" should "close changed versions, open new ones, and pass history through" in {
    import graft.operators.Diff
    val dim = Seq(
      // key 1: history row + current
      (1L, 10L, false, 0L, Some(50L)),
      (1L, 11L, true, 50L, Option.empty[Long]),
      // key 2: current only, will be unchanged in the snapshot
      (2L, 20L, true, 0L, Option.empty[Long]),
      // key 3: current only, absent from the snapshot → untouched
      (3L, 30L, true, 0L, Option.empty[Long]))
      .toDF("k", "bal", "is_current", "valid_from_us", "valid_to_us")
    val changes = Seq((1L, 12L), (2L, 20L), (9L, 90L)).toDF("k", "bal")
    val got = Diff.scdApply(dim, changes, Seq("k"), Seq("bal"),
        effectiveUs = 100L)
      .select("k", "bal", "valid_from_us", "valid_to_us", "is_current")
      .as[(Long, Long, Long, Option[Long], Boolean)].collect().toSet
    got shouldBe Set(
      (1L, 10L, 0L, Some(50L), false),   // history untouched
      (1L, 11L, 50L, Some(100L), false), // closed at the effective instant
      (1L, 12L, 100L, None, true),       // new open version
      (2L, 20L, 0L, None, true),         // unchanged
      (3L, 30L, 0L, None, true),         // absent from snapshot: kept
      (9L, 90L, 100L, None, true))       // brand-new key
  }

  it should "treat null-to-value compare transitions as changes (null-safe)" in {
    import graft.operators.Diff
    val dim = Seq((1L, Option.empty[Long], true, 0L, Option.empty[Long]))
      .toDF("k", "bal", "is_current", "valid_from_us", "valid_to_us")
    val changes = Seq((1L, Some(5L))).toDF("k", "bal")
    val got = Diff.scdApply(dim, changes, Seq("k"), Seq("bal"), 7L)
      .select("k", "bal", "valid_to_us", "is_current")
      .as[(Long, Option[Long], Option[Long], Boolean)].collect().toSet
    got shouldBe Set((1L, None, Some(7L), false), (1L, Some(5L), None, true))
  }

  "Profile.psiDrift" should "measure zero drift on identical halves and flag a shift" in {
    import graft.operators.Profile
    // identical distributions ref/cur → every p == q → every term 0
    val same = ((1 to 100).map(i => (i % 10 * 1.0, true)) ++
      (1 to 100).map(i => (i % 10 * 1.0, false))).toDF("v", "is_ref")
    val zero = Profile.psiDrift(same, col("v"), col("is_ref"), bins = 5)
      .agg(sum("psi_term")).as[Double].head()
    zero shouldBe 0.0
    // cur concentrated in the top bin → large positive PSI
    val shifted = ((1 to 100).map(i => (i % 10 * 1.0, true)) ++
      (1 to 100).map(_ => (9.0, false))).toDF("v", "is_ref")
    val psi = Profile.psiDrift(shifted, col("v"), col("is_ref"), bins = 5)
      .agg(sum("psi_term")).as[Double].head()
    psi should be > 0.2
  }

  it should "clamp out-of-reference-range current values into edge bins" in {
    import graft.operators.Profile
    val df = (Seq((0.0, true), (10.0, true)) ++
      Seq((-50.0, false), (999.0, false))).toDF("v", "is_ref")
    val got = Profile.psiDrift(df, col("v"), col("is_ref"), bins = 4)
      .as[(Int, Long, Long, Double)].collect().map(r => r._1 -> r).toMap
    got(0)._3 shouldBe 1L // -50 → bin 0
    got(3)._3 shouldBe 1L // 999 → bin 3
  }

  it should "refuse an empty or constant reference slice loudly" in {
    import graft.operators.Profile
    val flat = Seq((1.0, true), (1.0, true), (2.0, false)).toDF("v", "is_ref")
    an[IllegalArgumentException] should be thrownBy
      Profile.psiDrift(flat, col("v"), col("is_ref"))
  }

  "Sketches.HdrAggregator" should "agree with the closed-form bucket math on boundaries" in {
    import graft.operators.Sketches
    val agg = new Sketches.HdrAggregator(6, 40, Seq(500))
    // power-of-two boundaries land on fresh buckets whose lower bound is
    // the value itself; bucket width doubles per exponent
    for (e <- 6 to 39) {
      val v = 1L << e
      agg.lowerBound(agg.bucketIndex(v)) shouldBe v
      agg.lowerBound(agg.bucketIndex(v - 1)) should be <= (v - 1)
    }
    // every value maps into a bucket whose [lb, lb+width) contains it
    for (v <- Seq(63L, 64L, 65L, 127L, 128L, 1000L, 123456789L)) {
      val lb = agg.lowerBound(agg.bucketIndex(v))
      lb should be <= v
      (v - lb) should be < math.max(1L, lb / 32) + 1
    }
  }

  "Sampling.weightedSample" should
      "rank by deterministic exponential arrival times and favor heavy weights" in {
    import spark.implicits._
    val df = (1L to 400L).map(i => (i, if (i <= 20) 1000L else 1L))
      .toDF("id", "w")
    val got = Sampling.weightedSample(df, col("id"), col("w"), k = 10,
      seed = "t1")
    got.count() shouldBe 10
    // the 20 heavy rows carry 1000× the weight of the 380 light rows
    // (~98% of total mass) — the sample should be dominated by them
    val heavy = got.where(col("id") <= 20).count()
    heavy should be >= 8L
    // deterministic: same seed → same rows; different seed → different
    val again = Sampling.weightedSample(df, col("id"), col("w"), k = 10,
      seed = "t1").select("id").as[Long].collect().toSet
    again shouldBe got.select("id").as[Long].collect().toSet
    val other = Sampling.weightedSample(df, col("id"), col("w"), k = 10,
      seed = "t2").select("id").as[Long].collect().toSet
    other should not be again
    // non-positive weights are excluded even at k > candidates
    val withZero = Seq((1L, 0L), (2L, -5L), (3L, 7L)).toDF("id", "w")
    Sampling.weightedSample(withZero, col("id"), col("w"), k = 10)
      .select("id").as[Long].collect().toSeq shouldBe Seq(3L)
  }

  "Corpus.tfidfCosinePairs" should
      "match a brute-force weighted cosine and honor threshold and df-cut" in {
    import spark.implicits._
    import graft.functions.PolyHash
    val rows = Seq(
      (1L, "red fox jumps over the lazy fence"),
      (2L, "red fox jumps over the lazy wall"), // shares 4 of its 5 3-grams
      (3L, "blue bird sings at dawn"))
    val docs = rows.toDF("id", "txt")
    // brute force in Scala with the same integer-micro contract
    def grams(t: String) = t.split("\\s+").filter(_.nonEmpty)
      .sliding(3).map(_.mkString(" ")).toSeq.map(g => PolyHash.hash(g, 31L))
    val tf = rows.map { case (i, t) =>
      i -> grams(t).groupBy(identity).view.mapValues(_.size.toLong).toMap }
    val dfm = tf.flatMap(_._2.keys).groupBy(identity).view.mapValues(_.size.toLong).toMap
    val n = rows.size.toDouble
    val w = tf.map { case (i, m) =>
      i -> m.map { case (g, c) =>
        g -> math.floor(c * math.log(n / dfm(g)) * 1000000 + 0.5).toLong }
    }.toMap
    def cos(a: Long, b: Long): Double = {
      val sh = w(a).keySet intersect w(b).keySet
      val num = sh.toSeq.map(g => w(a)(g) * w(b)(g)).sum.toDouble
      val na = math.sqrt(w(a).values.map(v => v * v).sum.toDouble)
      val nb = math.sqrt(w(b).values.map(v => v * v).sum.toDouble)
      if (na == 0 || nb == 0) 0.0 else num / (na * nb)
    }
    val expected = (for {
      a <- rows.map(_._1); b <- rows.map(_._1) if a < b
      c = cos(a, b) if c >= 0.3
    } yield (a, b, math.floor(c * 1000000 + 0.5) / 1000000.0)).toSet
    val got = graft.operators.Corpus.tfidfCosinePairs(
        docs, col("id"), col("txt"), n = 3, threshold = 0.3)
      .as[(Long, Long, Double)].collect().toSet
    got shouldBe expected
    got.map(p => (p._1, p._2)) shouldBe Set((1L, 2L)) // 3 is unrelated
    // a df-cut at 1 drops the shared grams (df 2) — no pair survives
    graft.operators.Corpus.tfidfCosinePairs(
      docs, col("id"), col("txt"), n = 3, threshold = 0.3, maxDf = 1)
      .count() shouldBe 0L
  }

  "Corpus.compressionRatios" should
      "rank repetitive text below prose below noise, deterministically" in {
    import spark.implicits._
    val docs = Seq(
      (1L, "spam spam spam " * 200),                       // hyper-compressible
      (2L, ("the quick brown fox jumps over the lazy dog; " +
        "pack my box with five dozen liquor jugs. ") * 40), // prose-ish
      (3L, (0 until 3000).map(i =>                          // hash noise
        Integer.toString((i * 2654435761L % 1099511627776L).toInt, 36))
        .mkString(" ")))
      .toDF("id", "txt")
    val got = Corpus.compressionRatios(docs, col("id"), col("txt"))
      .as[(Long, Long, Long, Long)].collect().map(r => r._1 -> r).toMap
    got(1L)._4 should be < got(2L)._4
    got(2L)._4 should be < got(3L)._4
    got(1L)._4 should be < 50000L   // ~x1000 repetition compresses > 20x
    got(3L)._4 should be > 400000L  // noise stays above 40%
    // deterministic and exact: same input -> identical quadruples
    val again = Corpus.compressionRatios(docs, col("id"), col("txt"))
      .as[(Long, Long, Long, Long)].collect().map(r => r._1 -> r).toMap
    again shouldBe got
    // ratio is the documented fixed-point of the two integer columns
    val (_, nb, nc, rm) = got(2L)
    rm shouldBe math.floor(nc.toDouble / nb * 1000000 + 0.5).toLong
  }

  "Sampling.uniformHash" should "produce 3-dp-uniform draws over sequential keys" in {
    import spark.implicits._
    val df = (0L until 100000L).toDF("id")
    val u = Sampling.uniformHash(col("id"), "spec")
    val got = df.select(avg(u).as("mean"),
        stddev_pop(u).as("sd"),
        sum(when(u <= 0 || u > 1, 1).otherwise(0)).as("oob"),
        (count(when(u < 0.1, 1)) / count(lit(1))).as("low_decile"))
      .as[(Double, Double, Long, Double)].head()
    got._1 shouldBe 0.5 +- 0.005
    got._2 shouldBe 0.288675 +- 0.003 // 1/sqrt(12)
    got._3 shouldBe 0L
    got._4 shouldBe 0.1 +- 0.005
  }

  "Corpus.stripHtml" should "drop script/style, strip tags, decode entities once" in {
    import spark.implicits._
    val html = "<html><script>if (1 &lt; 2) { x(); }</script>" +
      "<style>.a{}</style><p>A &amp;lt; B &nbsp;&quot;q&quot;" +
      "<br/>tail   spaces</p></html>"
    val got = Corpus.stripHtml(Seq((1L, html)).toDF("id", "h"),
      col("id"), col("h")).as[(Long, String, Long)].head()
    // "&amp;lt;" decodes to the literal "&lt;" (amp last), not "<"
    got._2 shouldBe "A &lt; B \"q\" tail spaces"
    got._3 shouldBe got._2.length.toLong
  }

  "Corpus.linearQualityScores" should
      "pool hashed unigram+bigram weights into an integer-exact logit" in {
    import spark.implicits._
    import graft.functions.PolyHash
    val docs = Seq((1L, "alpha beta gamma"), (2L, "solo"), (3L, "  "))
      .toDF("id", "txt")
    val got = Corpus.linearQualityScores(docs, col("id"), col("txt"))
      .as[(Long, Long, Long, Double, Boolean)].collect()
      .map(r => r._1 -> r).toMap
    // the empty doc is dropped
    got.keySet shouldBe Set(1L, 2L)
    def wMicro(f: String): Long = {
      val b = PolyHash.hash(f, 31L) % 1024
      ((b * 2654435761L + 911382323L) % 1000000007L) % 1000001L - 500000L
    }
    // doc 1: 3 unigrams + 2 bigrams
    val feats1 = Seq("alpha", "beta", "gamma", "alpha beta", "beta gamma")
    val s1 = feats1.map(wMicro).sum
    got(1L)._2 shouldBe 5L
    got(1L)._3 shouldBe s1
    got(1L)._5 shouldBe (s1 >= 0)
    val logit = s1.toDouble / (5 * 1000000.0)
    got(1L)._4 shouldBe
      math.floor(1.0 / (1.0 + math.exp(-logit)) * 1000000 + 0.5) / 1000000.0
    // doc 2: single token, no bigrams
    got(2L)._2 shouldBe 1L
    got(2L)._3 shouldBe wMicro("solo")
  }
}
