package graft

import graft.functions.{Binning, Domains, Entropy, PolyHash}
import org.scalacheck.{Gen, Prop, Properties}
import org.scalacheck.Prop.forAll

/** Property-based invariants (SURVEY.md §5 test plan: binning
  * monotonicity, entropy bounds, hash ranges, word shapes). Pure
  * ScalaCheck — runs under sbt's test framework alongside ScalaTest. */
object PropertiesSpec extends Properties("graft") {

  private val asciiText = Gen.listOf(Gen.oneOf(
    Gen.alphaNumChar, Gen.const(' '), Gen.oneOf(".,:!?-_/".toSeq)))
    .map(_.mkString)

  property("entropy within [0, log2(len)]") = forAll(asciiText) { s =>
    val h = Entropy.stringEntropy(s)
    h >= 0.0 && (s.isEmpty ||
      h <= math.log(s.length.toDouble) / math.log(2) + 1e-9)
  }

  property("entropy of uniform strings is 0") =
    forAll(Gen.alphaChar, Gen.choose(1, 50)) { (c, n) =>
      Entropy.stringEntropy(c.toString * n) == 0.0
    }

  private val cutsGen = Gen.nonEmptyListOf(Gen.choose(-100.0, 100.0))
    .map(_.distinct.sorted.toArray)

  property("bin monotone until overflow; above-max is -1") =
    forAll(cutsGen, Gen.choose(-150.0, 150.0), Gen.choose(0.0, 10.0)) {
      (cuts, v, delta) =>
        val a = Binning.bin(v, cuts)
        val b = Binning.bin(v + delta, cuts)
        val mono = a == -1 || b == -1 || b >= a
        mono && Binning.bin(cuts.last + 1e-6, cuts) == -1
    }

  property("polyHash lands in [0, P)") = forAll(asciiText) { s =>
    val h = PolyHash.hash(s, 31L)
    h >= 0L && h < PolyHash.Prime
  }

  private val ipGen = Gen.listOfN(4, Gen.choose(0, 255)).map(_.mkString("."))
  private val portGen = Gen.oneOf(Gen.const(0), Gen.choose(1, 1024),
    Gen.choose(1025, 65535))

  property("adjustPort: sorted ip pair, 4-part words, <=1 service marker") =
    forAll(ipGen, ipGen, portGen, portGen) { (sip, dip, dport, sport) =>
      val w = FlowWordsOracle.adjustPort(sip, dip, dport, sport, 1.0, 2.0, 3.0)
      val parts = w.ipPair.split(" ")
      Prop.all(
        Prop(parts.length == 2 && parts(0) <= parts(1)) :| "sorted pair",
        Prop(w.srcWord.stripPrefix("-1_").split("_").length == 4) :| "src 4 parts",
        Prop(w.dstWord.stripPrefix("-1_").split("_").length == 4) :| "dst 4 parts",
        Prop(Seq(w.srcWord, w.dstWord).count(_.startsWith("-1_")) <= 1) :| "<=1 marker")
    }

  property("extractDomain returns None or a label of the input") = {
    val host = Gen.listOf(Gen.oneOf(Gen.alphaNumStr.suchThat(_.nonEmpty),
      Gen.const("com"), Gen.const("uk"))).map(_.mkString("."))
    forAll(host) { h =>
      val d = Domains.extractDomain(h)
      d == Domains.NoDomain || h.split('.').contains(d)
    }
  }

  // PNG encode→decode round trip: for ANY geometry, color type, and pixel
  // function, the pure-JVM decoder must recover the exact stats of the
  // values the fixture filtered and DEFLATE-compressed (filters cycle
  // row % 5, so height ≥ 5 exercises all five reconstructions)
  property("png pixel stats round-trip exactly") = {
    import graft.multimodal.Media
    val geom = for {
      w <- Gen.choose(1, 12); h <- Gen.choose(1, 12)
      ct <- Gen.oneOf(0, 2, 4, 6)
      mult <- Gen.choose(1, 997); add <- Gen.choose(0, 255)
    } yield (w, h, ct, mult, add)
    forAll(geom) { case (w, h, ct, mult, add) =>
      val ch = ct match { case 0 => 1; case 2 => 3; case 4 => 2; case 6 => 4 }
      val f = (j: Int) => (j * mult + add) % 256
      val png = Media.pngBytesPixels(w, h, f, colorType = ct)
      val st = Media.SampleStatsDecoder.decodeStats(
        Iterator(Media.MediaRecord(1L, "image/png", png))).toSeq
      val vals = (0 until w * h * ch).map(f)
      Prop.all(
        Prop(st.length == 1) :| "one stats row",
        Prop(st.head.n_samples == vals.length.toLong) :| "count",
        Prop(st.head.min_val == vals.min.toLong) :| "min",
        Prop(st.head.max_val == vals.max.toLong) :| "max",
        Prop(st.head.mean_val == vals.sum.toDouble / vals.length) :| "mean")
    }
  }

  // FLAC is lossless BY CONTRACT: any 16-bit PCM, any channel layout,
  // any legal block size, any stereo mode must round-trip bit-exactly
  property("flac round-trips arbitrary PCM losslessly") = {
    import graft.multimodal.Flac
    val pcmGen = for {
      n <- Gen.choose(1, 400)
      ch <- Gen.choose(1, 2)
      blockSize <- Gen.oneOf(16, 64, 192, 4096)
      mode <- if (ch == 2)
        Gen.oneOf(Flac.Mode.Independent, Flac.Mode.MidSide, Flac.Mode.LeftSide)
      else Gen.const(Flac.Mode.Independent)
      chans <- Gen.listOfN(ch,
        Gen.listOfN(n, Gen.choose(Short.MinValue.toInt, Short.MaxValue.toInt)))
    } yield (chans.map(_.toArray).toArray, blockSize, mode)
    forAll(pcmGen) { case (chans, blockSize, mode) =>
      val dec = Flac.decode(Flac.encode(8000, chans, blockSize, mode))
      Prop(dec.exists { case (_, gc, got) =>
        gc == chans.length &&
          chans.indices.forall(c => got(c).sameElements(chans(c)))
      }) :| s"block=$blockSize mode=$mode n=${chans.head.length}"
    }
  }
}
