package graft

import graft.multimodal.Media
import graft.sources.Warc

/** WARC web-archive source: record walk, HTTP split, gzip members,
  * loud all-or-nothing refusal, and the Spark extraction operator. */
class WarcSpec extends SparkSpec {

  import spark.implicits._

  private def archive(): Array[Byte] = Warc.encode(Seq(
    Warc.record("warcinfo", "", "software: fixture\r\n".getBytes("US-ASCII")),
    Warc.record("request", "http://a.example/x",
      "GET /x HTTP/1.1\r\nHost: a.example\r\n\r\n".getBytes("US-ASCII")),
    Warc.record("response", "http://a.example/x",
      Warc.httpResponse(200, "text/html; charset=utf-8",
        "<html><body>alpha</body></html>".getBytes("UTF-8"))),
    Warc.record("response", "http://a.example/y",
      Warc.httpResponse(404, "text/plain", "gone".getBytes("UTF-8")))))

  "Warc.parse" should "walk records and split HTTP responses" in {
    val recs = Warc.parse(archive()).get
    recs.map(_.warcType) shouldBe Seq("warcinfo", "request", "response", "response")
    recs.map(_.recIdx) shouldBe Seq(0, 1, 2, 3)
    val r2 = recs(2)
    r2.targetUri shouldBe "http://a.example/x"
    r2.httpStatus shouldBe 200
    r2.contentType shouldBe "text/html; charset=utf-8"
    new String(r2.body, "UTF-8") shouldBe "<html><body>alpha</body></html>"
    recs(3).httpStatus shouldBe 404
    new String(recs(3).body, "UTF-8") shouldBe "gone"
    // non-response records carry no HTTP fields
    recs(0).httpStatus shouldBe -1
    recs(1).body.length shouldBe 0
  }

  it should "read per-record gzip members identically to plain" in {
    val plain = Warc.parse(archive()).get
    val gz = Warc.encodeGz(Seq(
      Warc.record("warcinfo", "", "software: fixture\r\n".getBytes("US-ASCII")),
      Warc.record("request", "http://a.example/x",
        "GET /x HTTP/1.1\r\nHost: a.example\r\n\r\n".getBytes("US-ASCII")),
      Warc.record("response", "http://a.example/x",
        Warc.httpResponse(200, "text/html; charset=utf-8",
          "<html><body>alpha</body></html>".getBytes("UTF-8"))),
      Warc.record("response", "http://a.example/y",
        Warc.httpResponse(404, "text/plain", "gone".getBytes("UTF-8")))))
    gz.length should not be 0
    (gz(0) & 0xff) shouldBe 0x1f // really gzip on the wire
    val got = Warc.parse(gz).get
    got.map(_.warcType) shouldBe plain.map(_.warcType)
    got.map(r => new String(r.body, "UTF-8")) shouldBe
      plain.map(r => new String(r.body, "UTF-8"))
  }

  it should "refuse malformed archives wholesale, never partially" in {
    val good = archive()
    Warc.parse(good).isDefined shouldBe true
    // truncation inside the last payload: the WHOLE blob refuses, even
    // though three records parse cleanly before the damage
    Warc.parse(good.take(good.length - 8)) shouldBe None
    // bad version line
    val badVer = good.clone(); badVer(5) = '9'.toByte
    Warc.parse(badVer) shouldBe None
    // missing Content-Length
    val noLen = Warc.record("response", "http://a/x",
      Warc.httpResponse(200, "t", "b".getBytes))
    val stripped = new String(noLen, "US-ASCII")
      .replaceAll("Content-Length: \\d+\r\n", "")
    Warc.parse(stripped.getBytes("US-ASCII")) shouldBe None
    // corrupted gzip member
    val gz = Warc.encodeGz(Seq(Warc.record("warcinfo", "", "a\r\n".getBytes)))
    gz(gz.length - 3) = (gz(gz.length - 3) ^ 0x55).toByte
    Warc.parse(gz) shouldBe None
    // response payload without an HTTP header split
    val noHttp = Warc.record("response", "http://a/x", "nope".getBytes)
    Warc.parse(noHttp) shouldBe None
  }

  private def writeArchiveDir(): String = {
    val dir = ScratchDirs.create("warcds").toString
    java.nio.file.Files.write(java.nio.file.Paths.get(dir, "a.warc"),
      archive())
    java.nio.file.Files.write(java.nio.file.Paths.get(dir, "b.warc.gz"),
      Warc.encodeGz(Seq(
        Warc.record("response", "http://b.example/z",
          Warc.httpResponse(301, "text/plain", "moved".getBytes("UTF-8"))))))
    dir
  }

  "format(\"warc\")" should "pack small archives into size-targeted partitions" in {
    val dir = writeArchiveDir()
    val df = spark.read.format("warc").load(dir)
    // both fixture files are far below the 128 MiB default target, so
    // planning bin-packs them into ONE task instead of two tiny ones
    df.rdd.getNumPartitions shouldBe 1
    val rows = df.collect()
    rows.length shouldBe 5 // 4 records in a.warc + 1 in b.warc.gz
    val resp = df.where($"warc_type" === "response")
      .select($"target_uri", $"http_status", $"body_text").collect()
      .map(r => (r.getString(0), r.getInt(1), r.getString(2))).sortBy(_._1)
    resp shouldBe Array(
      ("http://a.example/x", 200, "<html><body>alpha</body></html>"),
      ("http://a.example/y", 404, "gone"),
      ("http://b.example/z", 301, "moved"))
  }

  it should "prune columns and push the warc_type filter into the scan" in {
    val dir = writeArchiveDir()
    val df = spark.read.format("warc").load(dir)
      .where($"warc_type" === "response").select($"target_uri")
    val plan = df.queryExecution.executedPlan.toString
    plan should include("WarcScan")
    plan should include("columns=target_uri")    // body_text pruned away
    plan should include("warc_type=response")    // filter pushed
    // the pushed equality leaves no residual Filter operator
    plan should not include "Filter ("
    df.collect().map(_.getString(0)).sorted shouldBe Array(
      "http://a.example/x", "http://a.example/y", "http://b.example/z")
    // count() never touches bodies: schema collapses to zero data columns
    spark.read.format("warc").load(dir).count() shouldBe 5L
  }

  it should "stream file arrivals as incremental micro-batches" in {
    val dir = ScratchDirs.create("warcstream").toString
    java.nio.file.Files.write(java.nio.file.Paths.get(dir, "a.warc"),
      archive())
    val q = spark.readStream.format("warc").load(dir)
      .where($"warc_type" === "response")
      .select($"target_uri", $"http_status")
      .writeStream.format("memory").queryName("warc_stream")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      val b1 = spark.table("warc_stream").collect()
      b1.map(_.getString(0)).sorted shouldBe
        Array("http://a.example/x", "http://a.example/y")
      // a later lexicographic arrival becomes its own micro-batch
      java.nio.file.Files.write(java.nio.file.Paths.get(dir, "b.warc.gz"),
        Warc.encodeGz(Seq(Warc.record("response", "http://b.example/z",
          Warc.httpResponse(301, "text/plain", "moved".getBytes("UTF-8"))))))
      q.processAllAvailable()
      val b2 = spark.table("warc_stream").collect()
      b2.map(_.getString(0)).sorted shouldBe Array(
        "http://a.example/x", "http://a.example/y", "http://b.example/z")
      b2.find(_.getString(0).endsWith("/z")).get.getInt(1) shouldBe 301
    } finally q.stop()
  }

  it should "range-split an oversized arriving archive in streaming mode" in {
    // a 100 GiB crawl drop used to land as ONE streaming task; the batch
    // now plans with the same member-indexed slicer as the batch reader.
    // The sidecar written during stream planning is the observable proof
    // that the cut-index path engaged (and rec_idx exactness proves the
    // range union).
    val dir = ScratchDirs.create("warcstreamsplit")
    def rec(i: Int) = Warc.record("response", s"http://ss.example/$i",
      Warc.httpResponse(200, "text/plain",
        (s"payload $i :: " + "y" * (60 + i * 5)).getBytes("UTF-8")))
    java.nio.file.Files.write(dir.resolve("big.warc.gz"),
      Warc.encodeGz((0 until 40).map(rec)))
    val q = spark.readStream.format("warc")
      .option("split_size", 700).option("index_sidecar", "write")
      .load(dir.toString)
      .select($"rec_idx", $"target_uri")
      .writeStream.format("memory").queryName("warc_split_stream")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      val rows = spark.table("warc_split_stream")
        .as[(Int, String)].collect().sortBy(_._1)
      rows.map(_._1).toSeq shouldBe (0 until 40)
      rows.map(_._2).toSeq shouldBe (0 until 40).map(i => s"http://ss.example/$i")
      java.nio.file.Files.exists(
        dir.resolve(".big.warc.gz.graftidx")) shouldBe true
    } finally q.stop()
  }

  it should "bound a replayed all-legacy batch by its recorded end index" in {
    import graft.sources.WarcDataSource.selectBatch
    // crash between offset-WAL write and commit under the r8 bare-int
    // format: the pending batch replays with BOTH offsets legacy
    // (empty names). Files c,d arrived AFTER the recorded end (n=2) —
    // the replay must stop at index 2 or the next batch (start = that
    // same end) re-plans c,d as duplicates.
    val files = Seq("a.warc", "b.warc", "c.warc", "d.warc")
    selectBatch(files, 0, "", 2, "") shouldBe Seq("a.warc", "b.warc")
    selectBatch(files, 2, "", 4, "") shouldBe Seq("c.warc", "d.warc")
    // legacy start + name-format end: index lower bound, name upper bound
    selectBatch(files, 1, "", 3, "c.warc") shouldBe Seq("b.warc", "c.warc")
    // name-format both: pure (start, end] name interval
    selectBatch(files, 9, "a.warc", 9, "c.warc") shouldBe Seq("b.warc", "c.warc")
    // name-format start + legacy end: names above start, capped at index
    selectBatch(files, 0, "a.warc", 3, "") shouldBe Seq("b.warc", "c.warc")
    // empty stream boundaries select nothing
    selectBatch(files, 0, "", 0, "") shouldBe Seq.empty
  }

  it should "fail loudly when a late file sorts into the committed prefix" in {
    val dir = ScratchDirs.create("warcooo").toString
    java.nio.file.Files.write(java.nio.file.Paths.get(dir, "b.warc"),
      archive())
    val q = spark.readStream.format("warc").load(dir)
      .select($"target_uri")
      .writeStream.format("memory").queryName("warc_ooo")
      .outputMode("append").start()
    try {
      q.processAllAvailable() // commits offset (1, .../b.warc)
      // an arrival that sorts BEFORE the committed boundary would shift
      // the slice — the offset's recorded file name catches it loudly
      // instead of silently duplicating b and dropping a
      java.nio.file.Files.write(java.nio.file.Paths.get(dir, "a.warc"),
        archive())
      val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
        q.processAllAvailable()
        q.awaitTermination(10000)
      }
      e.getMessage should include("lexicographically")
    } finally q.stop()
  }

  it should "split one large archive across partitions with exact record boundaries" in {
    // 40 records across plain and gzip archives, read with a split_size
    // small enough to force multi-way splits: the union must be
    // bit-identical to the unsplit read — every rec_idx exactly once,
    // bodies intact across every split point
    val dir = ScratchDirs.create("warcsplit").toString
    def rec(i: Int) = Warc.record("response", s"http://s.example/$i",
      Warc.httpResponse(200 + 100 * (i % 2), "text/plain",
        (s"payload $i :: " + "x" * (50 + i * 7)).getBytes("UTF-8")))
    val recs = (0 until 40).map(rec)
    java.nio.file.Files.write(java.nio.file.Paths.get(dir, "big.warc"),
      Warc.encode(recs.take(25)))
    java.nio.file.Files.write(java.nio.file.Paths.get(dir, "big2.warc.gz"),
      Warc.encodeGz(recs.drop(25)))
    val whole = spark.read.format("warc").load(dir)
      .orderBy("path", "rec_idx").collect()
    val split = spark.read.format("warc").option("split_size", 700)
      .load(dir)
    split.rdd.getNumPartitions should be > 2
    split.orderBy("path", "rec_idx").collect() shouldBe whole
    // rec_idx is the archive-global index in BOTH reads: 0..24 and 0..14
    split.where($"path".endsWith("big.warc")).select($"rec_idx").collect()
      .map(_.getInt(0)).sorted shouldBe (0 until 25).toArray
    split.where($"path".endsWith("big2.warc.gz")).select($"rec_idx")
      .collect().map(_.getInt(0)).sorted shouldBe (0 until 15).toArray
    // pushdown composes with splitting: each split filters its own records
    spark.read.format("warc").option("split_size", 700).load(dir)
      .where($"warc_type" === "response").count() shouldBe 40L
  }

  it should "read scheme-qualified file: URIs through the Hadoop FS layer" in {
    // the r10 lister/opener go through the Hadoop FileSystem API so
    // object-store URIs (s3a://, abfs://) work like local dirs; prove the
    // scheme'd path round-trip locally: listing, batch read, and the
    // emitted path column keep the user's scheme form
    val dir = ScratchDirs.create("warcuri")
    java.nio.file.Files.write(dir.resolve("a.warc"), archive())
    val uri = "file:" + dir.toString
    val rows = spark.read.format("warc").load(uri)
      .where($"warc_type" === "response")
      .select($"path", $"target_uri")
      .as[(String, String)].collect().sortBy(_._2)
    rows.map(_._2).toSeq shouldBe Seq("http://a.example/x", "http://a.example/y")
    all(rows.map(_._1)) should startWith("file:")
    // and the schemeless form of the same dir still yields bare paths
    val bare = spark.read.format("warc").load(dir.toString)
      .select($"path").distinct().as[String].collect()
    all(bare) should startWith("/")
    // FS-layer listing helper agrees in both renderings
    val conf = spark.sessionState.newHadoopConf()
    graft.sources.WarcDataSource.listFiles(uri, conf)
      .map(_._1).foreach(_ should startWith("file:"))
    graft.sources.WarcDataSource.listFiles(dir.toString, conf)
      .map(_._1).foreach(_ should startWith("/"))
  }

  "Warc.streamRecords" should "walk a stream identically to the byte-array parse" in {
    val bytes = archive()
    val streamed = Warc.streamRecords(
      new java.io.ByteArrayInputStream(bytes), _ => true).toSeq
    val parsed = Warc.parse(bytes).get
    streamed.map(r => (r.recIdx, r.warcType, r.targetUri, r.httpStatus,
      r.contentType, new String(r.body, "UTF-8"))) shouldBe
      parsed.map(r => (r.recIdx, r.warcType, r.targetUri, r.httpStatus,
        r.contentType, new String(r.body, "UTF-8")))
    // gzip members too, and ownership restriction skips bodies
    val gzStreamed = Warc.streamRecords(
      new java.io.ByteArrayInputStream(Warc.encodeGz(Seq(
        Warc.record("warcinfo", "", "software: fixture\r\n".getBytes("US-ASCII")),
        Warc.record("request", "http://a.example/x",
          "GET /x HTTP/1.1\r\nHost: a.example\r\n\r\n".getBytes("US-ASCII")),
        Warc.record("response", "http://a.example/x",
          Warc.httpResponse(200, "text/html; charset=utf-8",
            "<html><body>alpha</body></html>".getBytes("UTF-8"))),
        Warc.record("response", "http://a.example/y",
          Warc.httpResponse(404, "text/plain", "gone".getBytes("UTF-8")))))),
      idx => idx % 2 == 1).toSeq
    gzStreamed.map(_.recIdx) shouldBe Seq(1, 3)
    gzStreamed.last.httpStatus shouldBe 404
  }

  it should "throw on malformation instead of yielding partial silence" in {
    val bad = archive().dropRight(2) // truncated record separator
    val e = intercept[Warc.WarcFormatException] {
      Warc.streamRecords(new java.io.ByteArrayInputStream(bad), _ => true)
        .toSeq
    }
    e.getMessage should include("malformed")
  }

  it should "read a >2 GiB (inflated) multi-member archive with O(record) heap" in {
    // The byte-array walk could never do this: readAllBytes / the inflate
    // buffer cap at Int.MaxValue, and the whole archive would resident on
    // heap per slice. Generate (not commit) a gzip archive whose INFLATED
    // size passes 2 GiB — 72 members × 32 MiB zero bodies ≈ 2.25 GiB —
    // compressed to a few MB on disk; walk it via the DSv2 source with a
    // split_size that fans it into slices, asserting exact global record
    // indexes and that bodies never materialize for a uri-only projection.
    val members = 72
    val bodyLen = 32 * 1024 * 1024
    val dir = ScratchDirs.create("warcbig")
    val f = dir.resolve("big.warc.gz")
    val out = new java.io.BufferedOutputStream(
      java.nio.file.Files.newOutputStream(f), 1 << 20)
    val body = new Array[Byte](bodyLen) // zeros: ~32K gz per member
    (0 until members).foreach { i =>
      val gz = new java.util.zip.GZIPOutputStream(out, 1 << 16)
      gz.write(Warc.record("response", s"http://big.example/$i",
        Warc.httpResponse(200, "application/octet-stream", body)))
      gz.finish()
    }
    out.close()
    (members.toLong * bodyLen) should be > (Int.MaxValue.toLong)
    try {
      // split on DISK size (the planner's unit): ~0.5 MB over a ~2 MB gz
      // file fans into several slices, each an independent O(record) walk
      val rows = spark.read.format("warc")
        .option("split_size", (512L * 1024).toString)
        .load(dir.toString)
        .select($"rec_idx", $"target_uri")
        .as[(Int, String)].collect().sortBy(_._1)
      rows.length shouldBe members
      rows.map(_._1).toSeq shouldBe (0 until members)
      rows.map(_._2).toSeq shouldBe (0 until members).map(i => s"http://big.example/$i")

      // member-indexed splits must cost ~1x total inflate: replay the
      // planned slices through the production slice reader over a
      // COUNTING stream — total compressed bytes read across ALL slices
      // bounded by ~1.2x the file size (the round-robin form would read
      // numSlices x size). Planning here mirrors planInputPartitions
      // exactly (same index, same target).
      import graft.sources.WarcDataSource
      val size = java.nio.file.Files.size(f)
      val target = 512L * 1024
      val index = {
        val in = new java.io.BufferedInputStream(
          java.nio.file.Files.newInputStream(f), 1 << 16)
        try Warc.buildCutIndex(in, "big", WarcDataSource.indexMinGap(target))
        finally in.close()
      }
      index.records shouldBe members
      val plan = WarcDataSource.planSlicesIndexed(
        Seq((f.toString, size)), target, Map(f.toString -> index))
      val slices = plan.flatten
      slices.length should be > 2
      all(slices) shouldBe a[WarcDataSource.RangeSlice]
      class CountingSeekable extends java.io.InputStream
          with org.apache.hadoop.fs.Seekable {
        private val raf = new java.io.RandomAccessFile(f.toFile, "r")
        var bytesRead = 0L
        override def read(): Int =
          { val b = raf.read(); if (b >= 0) bytesRead += 1; b }
        override def read(b: Array[Byte], off: Int, len: Int): Int =
          { val n = raf.read(b, off, len); if (n > 0) bytesRead += n; n }
        override def seek(pos: Long): Unit = raf.seek(pos)
        override def getPos: Long = raf.getFilePointer
        override def seekToNewSource(t: Long): Boolean = false
        override def close(): Unit = raf.close()
      }
      var totalRead = 0L
      val replayed = slices.flatMap { sl =>
        val cs = new CountingSeekable
        try WarcDataSource.sliceRecords(sl, cs)
          .map(r => (r.recIdx, r.targetUri)).toList
        finally { totalRead += cs.bytesRead; cs.close() }
      }
      replayed.map(_._1).sorted shouldBe (0 until members)
      info(f"slices=${slices.length} file=$size%d totalRead=$totalRead%d " +
        f"ratio=${totalRead.toDouble / size}%.3f")
      totalRead should be <= (size * 1.2).toLong
    } finally {
      java.nio.file.Files.delete(f); java.nio.file.Files.delete(dir)
    }
  }

  "MemberGzipInputStream" should "inflate multi-member streams identically to encode order" in {
    import graft.sources.MemberGzipInputStream
    val recs = (0 until 5).map(i => Warc.record("response", s"http://m.example/$i",
      Warc.httpResponse(200, "text/plain", s"body-$i".getBytes("UTF-8"))))
    val gz = Warc.encodeGz(recs)
    val out = new java.io.ByteArrayOutputStream()
    val in = new MemberGzipInputStream(new java.io.ByteArrayInputStream(gz))
    val buf = new Array[Byte](1000) // odd size: force partial chunk serves
    var n = in.read(buf)
    while (n >= 0) { out.write(buf, 0, n); n = in.read(buf) }
    out.toByteArray shouldBe Warc.encode(recs)
  }

  it should "report member boundaries with exact compressed and inflated offsets" in {
    import graft.sources.MemberGzipInputStream
    val recs = (0 until 3).map(i => Warc.record("metadata", s"http://m/$i",
      ("x" * (10 + 7 * i)).getBytes("US-ASCII")))
    // per-member compressed lengths: encode each alone
    val memberBytes = recs.map(r => Warc.encodeGz(Seq(r)))
    val expectedCompressed = memberBytes.map(_.length.toLong).scanLeft(0L)(_ + _).dropRight(1)
    val expectedInflated = recs.map(_.length.toLong).scanLeft(0L)(_ + _).dropRight(1)
    val seen = collection.mutable.ArrayBuffer[(Long, Long)]()
    val in = new MemberGzipInputStream(
      new java.io.ByteArrayInputStream(memberBytes.reduce(_ ++ _)),
      (c, i) => seen += ((c, i)))
    while (in.read() >= 0) ()
    seen.toSeq shouldBe expectedCompressed.zip(expectedInflated)
  }

  it should "throw on trailing garbage and corrupt members instead of silent EOF" in {
    import graft.sources.MemberGzipInputStream
    def drain(b: Array[Byte]): Unit = {
      val in = new MemberGzipInputStream(new java.io.ByteArrayInputStream(b))
      while (in.read() >= 0) ()
    }
    val one = Warc.encodeGz(Seq(Warc.record("warcinfo", "", "a\r\n".getBytes)))
    // trailing garbage after a clean member: java.util.zip reads this as
    // clean EOF — here it must throw (a crawl archive corrupted at a
    // member boundary would otherwise silently truncate the record set)
    intercept[java.io.IOException] { drain(one ++ "junk!".getBytes) }
      .getMessage should include("magic")
    // a second member whose header is damaged: same silent-EOF trap
    val two = one ++ one
    val dmg = two.clone(); dmg(one.length + 1) = 0x00
    intercept[java.io.IOException] { drain(dmg) }.getMessage should include("magic")
    // and prove the trap is real: GZIPInputStream reads both corruptions
    // as clean EOF after member one
    def gzipDrains(b: Array[Byte]): Boolean = {
      val in = new java.util.zip.GZIPInputStream(new java.io.ByteArrayInputStream(b))
      try { while (in.read() >= 0) (); true }
      catch { case _: java.io.IOException => false }
    }
    gzipDrains(one ++ "junk!".getBytes) shouldBe true
    gzipDrains(dmg) shouldBe true
    // payload CRC damage still throws (parity with GZIPInputStream)
    val crcBad = one.clone(); crcBad(crcBad.length - 6) = (crcBad(crcBad.length - 6) ^ 0x7f).toByte
    intercept[java.io.IOException] { drain(crcBad) }.getMessage should include("CRC")
    // truncation mid-member
    intercept[java.io.IOException] { drain(one.dropRight(3)) }
  }

  it should "skip optional header fields (FNAME, FEXTRA, FCOMMENT)" in {
    import graft.sources.MemberGzipInputStream
    // hand-build a member with FLG = FEXTRA|FNAME|FCOMMENT around a raw
    // deflate stream (GZIPOutputStream never emits these, real crawlers do)
    val payload = Warc.record("warcinfo", "", "hdrs\r\n".getBytes("US-ASCII"))
    val deflater = new java.util.zip.Deflater(6, true)
    deflater.setInput(payload); deflater.finish()
    val dbuf = new Array[Byte](payload.length * 2 + 64)
    val dlen = deflater.deflate(dbuf)
    val crc = new java.util.zip.CRC32(); crc.update(payload)
    val out = new java.io.ByteArrayOutputStream()
    out.write(Array(0x1f, 0x8b, 8, 0x1c).map(_.toByte)) // FEXTRA|FNAME|FCOMMENT
    out.write(new Array[Byte](6)) // MTIME XFL OS
    out.write(Array[Byte](3, 0)); out.write(Array[Byte](9, 9, 9)) // FEXTRA len 3
    out.write("name.warc ".getBytes("US-ASCII"))
    out.write("a comment ".getBytes("US-ASCII"))
    out.write(dbuf, 0, dlen)
    val t = java.nio.ByteBuffer.allocate(8).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    t.putInt(crc.getValue.toInt); t.putInt(payload.length)
    out.write(t.array())
    val got = new java.io.ByteArrayOutputStream()
    val in = new MemberGzipInputStream(new java.io.ByteArrayInputStream(out.toByteArray))
    val buf = new Array[Byte](4096)
    var n = in.read(buf)
    while (n >= 0) { got.write(buf, 0, n); n = in.read(buf) }
    got.toByteArray shouldBe payload
  }

  it should "verify the FHCRC header checksum when present" in {
    import graft.sources.MemberGzipInputStream
    val payload = Warc.record("warcinfo", "", "crc\r\n".getBytes("US-ASCII"))
    val deflater = new java.util.zip.Deflater(6, true)
    deflater.setInput(payload); deflater.finish()
    val dbuf = new Array[Byte](payload.length * 2 + 64)
    val dlen = deflater.deflate(dbuf)
    val crc = new java.util.zip.CRC32(); crc.update(payload)
    def member(goodHcrc: Boolean): Array[Byte] = {
      val head = new java.io.ByteArrayOutputStream()
      head.write(Array(0x1f, 0x8b, 8, 0x02).map(_.toByte)) // FLG = FHCRC
      head.write(new Array[Byte](6)) // MTIME XFL OS
      val hcrc = new java.util.zip.CRC32(); hcrc.update(head.toByteArray)
      val stored = (hcrc.getValue & 0xffffL).toInt ^ (if (goodHcrc) 0 else 0x5a5a)
      head.write(stored & 0xff); head.write((stored >> 8) & 0xff)
      head.write(dbuf, 0, dlen)
      val t = java.nio.ByteBuffer.allocate(8)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      t.putInt(crc.getValue.toInt); t.putInt(payload.length)
      head.write(t.array())
      head.toByteArray
    }
    def drain(b: Array[Byte]): Array[Byte] = {
      val got = new java.io.ByteArrayOutputStream()
      val in = new MemberGzipInputStream(new java.io.ByteArrayInputStream(b))
      val buf = new Array[Byte](4096)
      var n = in.read(buf)
      while (n >= 0) { got.write(buf, 0, n); n = in.read(buf) }
      got.toByteArray
    }
    drain(member(goodHcrc = true)) shouldBe payload
    intercept[java.io.IOException] { drain(member(goodHcrc = false)) }
      .getMessage should include("header CRC")
  }

  "Warc.parse" should "refuse trailing garbage after the final gzip member" in {
    val gz = Warc.encodeGz(Seq(Warc.record("warcinfo", "", "a\r\n".getBytes)))
    Warc.parse(gz).isDefined shouldBe true
    Warc.parse(gz ++ "tail".getBytes) shouldBe None
  }

  "Warc.streamRecords" should "cap runaway header lines instead of buffering the stream" in {
    // a corrupt archive with no LF left: without the cap this accumulates
    // the remainder into one StringBuilder, defeating O(record) heap
    val junk = ("WARC/1.0\r\n" + "X" * (Warc.MaxHeaderLine + 100)).getBytes("US-ASCII")
    val e = intercept[Warc.WarcFormatException] {
      Warc.streamRecords(new java.io.ByteArrayInputStream(junk), _ => true).toSeq
    }
    e.getMessage should include("header line exceeds")
  }

  it should "decode non-ASCII header bytes exactly like the byte-array walk" in {
    // a WARC-Target-URI with a raw 0xE9 byte: US-ASCII decoding maps it
    // to U+FFFD in parseOwned; the streaming walk must agree (it used to
    // decode Latin-1, yielding 'é' — two walks, two different strings)
    val fixed = Warc.record("metadata", "http://x.example/caf_", "b".getBytes)
    fixed(fixed.indexOf('_'.toByte)) = 0xe9.toByte
    val streamed = Warc.streamRecords(
      new java.io.ByteArrayInputStream(fixed), _ => true).toSeq
    val parsed = Warc.parse(fixed).get
    streamed.map(_.targetUri) shouldBe parsed.map(_.targetUri)
    streamed.head.targetUri shouldBe "http://x.example/caf�"
  }

  it should "start mid-archive at a given record index" in {
    val recs = (0 until 6).map(i => Warc.record("metadata", s"http://s/$i",
      s"p$i".getBytes))
    val tail = Warc.encode(recs.drop(4))
    val got = Warc.streamRecords(new java.io.ByteArrayInputStream(tail),
      _ => true, startIdx = 4).toSeq
    got.map(_.recIdx) shouldBe Seq(4, 5)
    got.map(_.targetUri) shouldBe Seq("http://s/4", "http://s/5")
  }

  "Warc.buildCutIndex" should "cut per-record gzip archives at exact member offsets" in {
    val recs = (0 until 8).map(i => Warc.record("response", s"http://c/$i",
      Warc.httpResponse(200, "text/plain", ("y" * (20 + i)).getBytes)))
    val memberBytes = recs.map(r => Warc.encodeGz(Seq(r)))
    val offsets = memberBytes.map(_.length.toLong).scanLeft(0L)(_ + _).dropRight(1)
    val idx = Warc.buildCutIndex(
      new java.io.ByteArrayInputStream(memberBytes.reduce(_ ++ _)), minGap = 1L)
    idx.records shouldBe 8
    idx.cuts.map(_.offset) shouldBe offsets
    idx.cuts.map(_.recIdx) shouldBe (0 until 8)
    // thinning: a wide minGap keeps ~every other cut, always from (0,0)
    val thin = Warc.buildCutIndex(
      new java.io.ByteArrayInputStream(memberBytes.reduce(_ ++ _)),
      minGap = memberBytes.head.length * 2L)
    thin.cuts.head shouldBe Warc.CutPoint(0L, 0)
    thin.cuts.length should (be < 8 and be > 1)
    thin.records shouldBe 8
  }

  it should "cut plain archives at record byte offsets and monolithic gzip only at zero" in {
    val recs = (0 until 5).map(i => Warc.record("metadata", s"http://p/$i",
      ("z" * (30 + i)).getBytes))
    val plainIdx = Warc.buildCutIndex(
      new java.io.ByteArrayInputStream(Warc.encode(recs)), minGap = 1L)
    plainIdx.cuts.map(_.offset) shouldBe
      recs.map(_.length.toLong).scanLeft(0L)(_ + _).dropRight(1)
    plainIdx.cuts.map(_.recIdx) shouldBe (0 until 5)
    // one gzip member spanning all records: no interior safe cut exists
    val mono = {
      val out = new java.io.ByteArrayOutputStream()
      val gz = new java.util.zip.GZIPOutputStream(out)
      recs.foreach(gz.write); gz.finish()
      out.toByteArray
    }
    val monoIdx = Warc.buildCutIndex(new java.io.ByteArrayInputStream(mono),
      minGap = 1L)
    monoIdx.cuts shouldBe IndexedSeq(Warc.CutPoint(0L, 0))
    monoIdx.records shouldBe 5
  }

  "planSlicesIndexed" should "emit byte-range slices for indexed files and fall back otherwise" in {
    import graft.sources.WarcDataSource.{planSlicesIndexed, FileSlice, RangeSlice}
    val idx = Warc.CutIndex(IndexedSeq(Warc.CutPoint(0, 0), Warc.CutPoint(4, 2),
      Warc.CutPoint(8, 5), Warc.CutPoint(11, 7)), 9)
    val plan = planSlicesIndexed(
      Seq(("indexed", 14L), ("mono", 10L), ("small", 2L)), 4L,
      Map("indexed" -> idx,
        "mono" -> Warc.CutIndex(IndexedSeq(Warc.CutPoint(0, 0)), 3)))
    val slices = plan.flatten
    // indexed: ranges on cut boundaries ≥ target, carrying first indexes
    slices.collect { case r: RangeSlice => r }.sortBy(_.startOffset) shouldBe Seq(
      RangeSlice("indexed", 0, 4, 0), RangeSlice("indexed", 4, 8, 2),
      RangeSlice("indexed", 8, 14, 5))
    // monolithic gzip (one cut): legacy round-robin fan-out
    slices.collect { case f: FileSlice if f.file == "mono" => f }.toSet shouldBe
      Set(FileSlice("mono", 0, 3), FileSlice("mono", 1, 3), FileSlice("mono", 2, 3))
    // small file: whole-file slice
    slices should contain (FileSlice("small", 0, 1))
    // deterministic
    planSlicesIndexed(Seq(("small", 2L), ("indexed", 14L), ("mono", 10L)), 4L,
      Map("indexed" -> idx,
        "mono" -> Warc.CutIndex(IndexedSeq(Warc.CutPoint(0, 0)), 3))) shouldBe plan
  }

  it should "persist, reuse, and staleness-check a sidecar cut index" in {
    import graft.sources.WarcDataSource
    val dir = ScratchDirs.create("warcsidecar")
    def rec(i: Int) = Warc.record("response", s"http://sc.example/$i",
      Warc.httpResponse(200, "text/plain",
        (s"payload $i :: " + "x" * (50 + i * 7)).getBytes("UTF-8")))
    val f = dir.resolve("big.warc.gz")
    java.nio.file.Files.write(f,
      Warc.encodeGz((0 until 40).map(rec)))
    val size = java.nio.file.Files.size(f)
    val conf = spark.sessionState.newHadoopConf()
    // write mode: the read plans with an index AND persists it
    val viaWrite = spark.read.format("warc")
      .option("split_size", 700).option("index_sidecar", "write")
      .load(dir.toString).orderBy("rec_idx").collect()
    viaWrite.length shouldBe 40
    val sidecar = dir.resolve(".big.warc.gz.graftidx")
    java.nio.file.Files.exists(sidecar) shouldBe true
    // the lister never surfaces the dot-prefixed sidecar as an archive
    WarcDataSource.listFiles(dir.toString, conf).map(_._1) shouldBe
      Seq(f.toString)
    // a fresh JVM-cache miss loads the sidecar instead of rebuilding:
    // its parsed content equals a fresh build at the same granularity
    WarcDataSource.indexCache.clear()
    val loaded = WarcDataSource.readSidecar(f.toString, size, conf)
    loaded shouldBe defined
    val built = {
      val in = new java.io.BufferedInputStream(
        java.nio.file.Files.newInputStream(f))
      try Warc.buildCutIndex(in, "big", WarcDataSource.indexMinGap(700))
      finally in.close()
    }
    loaded.get shouldBe built
    // and the sidecar-planned read is bit-identical to the legacy mode
    val viaSidecar = spark.read.format("warc")
      .option("split_size", 700).load(dir.toString)
      .orderBy("rec_idx").collect()
    val viaRR = spark.read.format("warc")
      .option("split_size", 700).option("split_mode", "roundrobin")
      .load(dir.toString).orderBy("rec_idx").collect()
    viaSidecar shouldBe viaRR
    viaSidecar shouldBe viaWrite
    // staleness: a size mismatch (archive replaced) ignores the sidecar
    WarcDataSource.readSidecar(f.toString, size + 1, conf) shouldBe None
    // corruption degrades to None, never a wrong plan
    java.nio.file.Files.write(sidecar, "not an index".getBytes)
    WarcDataSource.readSidecar(f.toString, size, conf) shouldBe None
  }

  it should "intersect conflicting warc_type equalities to the empty scan" in {
    val dir = writeArchiveDir()
    // both equalities are accepted as pushed; their value sets intersect
    // to ∅ — the correct result is zero rows, never first-filter-wins
    spark.read.format("warc").load(dir)
      .where($"warc_type" === "response" && $"warc_type" === "request")
      .count() shouldBe 0L
    // sanity: a self-consistent conjunction still returns the real rows
    spark.read.format("warc").load(dir)
      .where($"warc_type" === "response" && $"warc_type" === "response")
      .count() shouldBe 3L
  }

  "planSlices" should "fan out big files and bin-pack small ones deterministically" in {
    import graft.sources.WarcDataSource.{planSlices, FileSlice}
    // one 10-unit file at target 4 → 3 splits; two 1-unit files pack
    val plan = planSlices(Seq(("big", 10L), ("s1", 1L), ("s2", 1L)), 4L)
    plan.flatten.toSet shouldBe Set(
      FileSlice("big", 0, 3), FileSlice("big", 1, 3), FileSlice("big", 2, 3),
      FileSlice("s1", 0, 1), FileSlice("s2", 0, 1))
    // first-fit packs each tiny file into a big-split bin's 1-unit gap
    // (3 bins total, never 5 single-slice tasks)
    plan.length shouldBe 3
    plan.find(_.exists(_.file == "s1")).get.length shouldBe 2
    plan.find(_.exists(_.file == "s2")).get.length shouldBe 2
    // deterministic: same inputs, same plan, any listing order
    planSlices(Seq(("s2", 1L), ("big", 10L), ("s1", 1L)), 4L) shouldBe plan
  }

  it should "fail the task loudly on a malformed archive file" in {
    val dir = ScratchDirs.create("warcbad").toString
    java.nio.file.Files.write(java.nio.file.Paths.get(dir, "bad.warc"),
      "WARC/9.9\r\nnope".getBytes("US-ASCII"))
    val e = intercept[org.apache.spark.SparkException] {
      spark.read.format("warc").load(dir).collect()
    }
    e.getMessage should include("malformed WARC archive")
  }

  "decodeBody" should "honor HTTP charset, meta fallback, and UTF-8 default" in {
    val latin = "café crème".getBytes("windows-1252")
    // HTTP header charset wins
    Warc.decodeBody("text/html; charset=windows-1252", latin) shouldBe
      "café crème"
    // meta tag in the first 1024 bytes is the fallback
    val metaPage = ("<html><head><meta charset=\"ISO-8859-1\"></head>" +
      "<body>café</body></html>").getBytes("ISO-8859-1")
    Warc.decodeBody("text/html", metaPage) should include("café")
    // no charset anywhere: UTF-8
    Warc.decodeBody("text/plain",
      "é中文".getBytes("UTF-8")) shouldBe "é中文"
    // unknown charset name falls back to UTF-8 instead of dropping
    Warc.decodeBody("text/html; charset=not-a-charset",
      "plain".getBytes("UTF-8")) shouldBe "plain"
    // mislabeled bytes surface as replacement chars, never an exception
    val garbled = Warc.decodeBody("text/plain; charset=utf-8", latin)
    garbled should include("�")
  }

  it should "transcode identically through the operator and the connector" in {
    val body = "naïve résumé".getBytes("windows-1252")
    val arch = Warc.encode(Seq(Warc.record("response", "http://l.example/1",
      Warc.httpResponse(200, "text/html; charset=windows-1252", body))))
    val viaOp = Warc.extractResponses(
      Seq(Media.MediaRecord(1L, "application/warc", arch)).toDS())
      .select($"body_text").head().getString(0)
    val dir = ScratchDirs.create("warccs").toString
    java.nio.file.Files.write(java.nio.file.Paths.get(dir, "l.warc"), arch)
    val viaDs = spark.read.format("warc").load(dir)
      .where($"warc_type" === "response")
      .select($"body_text").head().getString(0)
    viaOp shouldBe "naïve résumé"
    viaDs shouldBe viaOp
  }

  "extractResponses" should "emit one row per HTTP response, dropping bad archives" in {
    val rows = Warc.extractResponses(Seq(
      Media.MediaRecord(1L, "application/warc", archive()),
      Media.MediaRecord(2L, "application/warc", Warc.encodeGz(Seq(
        Warc.record("response", "http://b.example/z",
          Warc.httpResponse(301, "text/plain", "moved".getBytes("UTF-8")))))),
      Media.MediaRecord(3L, "application/warc", "not a warc".getBytes))
      .toDS()).collect()
    rows.map(_.getLong(0)).sorted shouldBe Seq(1L, 1L, 2L)
    val r = rows.filter(_.getLong(0) == 2L).head
    r.getString(2) shouldBe "http://b.example/z"
    r.getInt(3) shouldBe 301
    r.getString(5) shouldBe "moved"
    // request/warcinfo records of archive 1 contribute no rows
    rows.filter(_.getLong(0) == 1L).map(_.getInt(1)).sorted shouldBe Seq(2, 3)
  }

  "planSlicesIndexed fallback warning" should "fire exactly for oversized round-robin fallbacks" in {
    import graft.sources.WarcDataSource.planSlicesIndexed
    val idx = Warc.CutIndex(IndexedSeq(Warc.CutPoint(0, 0), Warc.CutPoint(4, 2),
      Warc.CutPoint(8, 5)), 9)
    val mono = Warc.CutIndex(IndexedSeq(Warc.CutPoint(0, 0)), 3)
    val fired = collection.mutable.ArrayBuffer[(String, Long, Int, Boolean)]()
    planSlicesIndexed(
      Seq(("indexed", 14L), ("mono", 10L), ("unindexed", 9L), ("small", 2L)),
      4L, Map("indexed" -> idx, "mono" -> mono),
      (f, s, n, i) => fired += ((f, s, n, i)))
    // range-split files and sub-target files never warn; an
    // indexed-but-cutless file (monolithic gzip) warns with hadIndex =
    // true, an unindexed oversized file (roundrobin mode) with false
    fired.sortBy(_._1) shouldBe Seq(
      ("mono", 10L, 3, true), ("unindexed", 9L, 3, false))
  }

  "Warc.streamRecordsIndexed" should "fire onIndex only on clean exhaustion" in {
    val bytes = Warc.encodeGz((0 until 6).map(i =>
      Warc.record("response", s"http://ix.example/$i",
        Warc.httpResponse(200, "text/plain", s"body $i".getBytes("UTF-8")))))
    // abandoned early: never fires
    var fired = 0
    val it = Warc.streamRecordsIndexed(
      new java.io.ByteArrayInputStream(bytes), _ => true, "ix", 1L,
      _ => fired += 1)
    it.next()
    fired shouldBe 0
    // full drain: fires exactly once, with the same index buildCutIndex
    // yields (they share the walk), and re-asking hasNext never refires
    var got: Warc.CutIndex = null
    var n = 0
    val it2 = Warc.streamRecordsIndexed(
      new java.io.ByteArrayInputStream(bytes), _ => true, "ix", 1L,
      idx => { got = idx; n += 1 })
    while (it2.hasNext) it2.next()
    it2.hasNext shouldBe false
    n shouldBe 1
    got shouldBe Warc.buildCutIndex(
      new java.io.ByteArrayInputStream(bytes), "ix", 1L)
    got.records shouldBe 6
    got.cuts.length shouldBe 6 // per-record members at minGap 1
    // malformation: throws, never fires a (partial) index
    var badFired = 0
    val truncated = java.util.Arrays.copyOf(bytes, bytes.length - 3)
    intercept[java.io.IOException] {
      val it3 = Warc.streamRecordsIndexed(
        new java.io.ByteArrayInputStream(truncated), _ => true, "ix", 1L,
        _ => badFired += 1)
      while (it3.hasNext) it3.next()
    }
    badFired shouldBe 0
  }

  "Warc.transcodeToMemberGzip" should "re-materialize a monolithic archive into per-record members, byte-verbatim" in {
    import graft.sources.MemberGzipInputStream
    val plain = archive()
    val monoGz = {
      val bo = new java.io.ByteArrayOutputStream()
      val gz = new java.util.zip.GZIPOutputStream(bo)
      gz.write(plain); gz.close()
      bo.toByteArray
    }
    // the monolithic form has no interior cut: range-unsplittable
    Warc.buildCutIndex(new java.io.ByteArrayInputStream(monoGz), "mono", 1L)
      .cuts.length shouldBe 1
    val out = new java.io.ByteArrayOutputStream()
    Warc.transcodeToMemberGzip(
      new java.io.ByteArrayInputStream(monoGz), out, "mono") shouldBe 4
    val t = out.toByteArray
    (t(0) & 0xff) shouldBe 0x1f // gzip on the wire
    // record-VERBATIM: the transcoded archive inflates to the exact
    // original bytes (every header line preserved, not just parsed fields)
    def inflate(b: Array[Byte]): Array[Byte] = {
      val in = new MemberGzipInputStream(new java.io.ByteArrayInputStream(b))
      val bo = new java.io.ByteArrayOutputStream()
      val buf = new Array[Byte](4096)
      var n = in.read(buf)
      while (n >= 0) { bo.write(buf, 0, n); n = in.read(buf) }
      bo.toByteArray
    }
    inflate(t) shouldBe plain
    // and now every record starts a member: indexable at record grain
    val ci = Warc.buildCutIndex(new java.io.ByteArrayInputStream(t), "t", 1L)
    ci.records shouldBe 4
    ci.cuts.length shouldBe 4
    // plain input transcodes identically to gzip input
    val out2 = new java.io.ByteArrayOutputStream()
    Warc.transcodeToMemberGzip(
      new java.io.ByteArrayInputStream(plain), out2, "plain") shouldBe 4
    inflate(out2.toByteArray) shouldBe plain
    // malformation refuses loudly, same contract as every walk
    intercept[Warc.WarcFormatException] {
      Warc.transcodeToMemberGzip(
        new java.io.ByteArrayInputStream(
          java.util.Arrays.copyOf(plain, plain.length - 3)),
        new java.io.ByteArrayOutputStream(), "trunc")
    }
  }

  it should "rematerialize through the path helper so the next scan range-splits" in {
    import graft.sources.WarcDataSource
    val srcDir = ScratchDirs.create("warcmonosrc")
    val dstDir = ScratchDirs.create("warcmonodst")
    def rec(i: Int) = Warc.record("response", s"http://rm.example/$i",
      Warc.httpResponse(200, "text/plain",
        (s"payload $i :: " + "z" * (50 + i * 7)).getBytes("UTF-8")))
    val plain = Warc.encode((0 until 40).map(rec))
    val monoGz = {
      val bo = new java.io.ByteArrayOutputStream()
      val gz = new java.util.zip.GZIPOutputStream(bo)
      gz.write(plain); gz.close()
      bo.toByteArray
    }
    val src = srcDir.resolve("mono.warc.gz")
    java.nio.file.Files.write(src, monoGz)
    val conf = spark.sessionState.newHadoopConf()
    // the monolithic read (round-robin fallback) is still exact
    val before = spark.read.format("warc").option("split_size", 700)
      .load(srcDir.toString)
      .select($"rec_idx", $"target_uri", $"body_text")
      .orderBy("rec_idx").collect()
    before.length shouldBe 40
    // re-materialize → per-record members in the destination
    val dst = dstDir.resolve("remat.warc.gz")
    WarcDataSource.rematerialize(src.toString, dst.toString, conf) shouldBe 40
    // the transcoded archive reads bit-identically (modulo path)...
    val after = spark.read.format("warc").option("split_size", 700)
      .load(dstDir.toString)
      .select($"rec_idx", $"target_uri", $"body_text")
      .orderBy("rec_idx").collect()
    after shouldBe before
    // ...and its plan is now byte-range slices, not N full walks
    val size = java.nio.file.Files.size(dst)
    val idx = {
      val in = new java.io.BufferedInputStream(
        java.nio.file.Files.newInputStream(dst))
      try Warc.buildCutIndex(in, "remat", WarcDataSource.indexMinGap(700))
      finally in.close()
    }
    idx.cuts.length should be > 1
    val slices = WarcDataSource.planSlicesIndexed(
      Seq((dst.toString, size)), 700, Map(dst.toString -> idx)).flatten
    slices.length should be > 1
    all(slices) shouldBe a[WarcDataSource.RangeSlice]
  }

  it should "rematerialize a whole directory distributed, preserving names and content" in {
    import graft.sources.WarcDataSource
    val srcDir = ScratchDirs.create("warcdirsrc")
    val dstDir = ScratchDirs.create("warcdirdst")
    def rec(tag: String, i: Int) = Warc.record("response",
      s"http://dm.example/$tag/$i",
      Warc.httpResponse(200, "text/plain",
        s"payload $tag $i".getBytes("UTF-8")))
    // a plain archive and a monolithic-gzip archive — both layouts a
    // real bucket mixes, both must land as per-record members
    java.nio.file.Files.write(srcDir.resolve("a.warc"),
      Warc.encode((0 until 5).map(rec("a", _))))
    val bo = new java.io.ByteArrayOutputStream()
    val gz = new java.util.zip.GZIPOutputStream(bo)
    gz.write(Warc.encode((0 until 7).map(rec("b", _)))); gz.close()
    java.nio.file.Files.write(srcDir.resolve("b.warc.gz"), bo.toByteArray)
    val res = WarcDataSource.rematerializeDir(srcDir.toString, dstDir.toString)
    res.map(_._2).sum shouldBe 12
    // names: .gz appended to plain sources, order preserved
    val conf = spark.sessionState.newHadoopConf()
    WarcDataSource.listFiles(dstDir.toString, conf).map(_._1)
      .map(p => new org.apache.hadoop.fs.Path(p).getName) shouldBe
      Seq("a.warc.gz", "b.warc.gz")
    // content: the migrated bucket reads identically (rec_idx included)
    val cols = Seq("rec_idx", "target_uri", "http_status", "body_text")
    val before = spark.read.format("warc").load(srcDir.toString)
      .select(cols.head, cols.tail: _*).orderBy("target_uri").collect()
    val after = spark.read.format("warc").load(dstDir.toString)
      .select(cols.head, cols.tail: _*).orderBy("target_uri").collect()
    after shouldBe before
    // and every output is per-record-member: record-grain cut indexes
    WarcDataSource.listFiles(dstDir.toString, conf).foreach { case (p, _) =>
      val in = new java.io.BufferedInputStream(
        java.nio.file.Files.newInputStream(java.nio.file.Paths.get(p)))
      val ci = try Warc.buildCutIndex(in, p, 1L) finally in.close()
      ci.cuts.length shouldBe ci.records
    }
  }

  "roundrobin + index_sidecar=write" should "piggyback sidecar emission on the fallback read" in {
    import graft.sources.WarcDataSource
    val dir = ScratchDirs.create("warcpiggy")
    def rec(i: Int) = Warc.record("response", s"http://pg.example/$i",
      Warc.httpResponse(200, "text/plain",
        (s"payload $i :: " + "w" * (50 + i * 7)).getBytes("UTF-8")))
    val f = dir.resolve("big.warc.gz")
    java.nio.file.Files.write(f, Warc.encodeGz((0 until 40).map(rec)))
    val size = java.nio.file.Files.size(f)
    val conf = spark.sessionState.newHadoopConf()
    WarcDataSource.indexCache.clear()
    // the first-contact combination: a roundrobin read that leaves the
    // index behind as a side effect of slice 0's full-structure walk
    val viaRR = spark.read.format("warc")
      .option("split_size", 700)
      .option("split_mode", "roundrobin").option("index_sidecar", "write")
      .load(dir.toString).orderBy("rec_idx").collect()
    viaRR.length shouldBe 40
    val sidecar = dir.resolve(".big.warc.gz.graftidx")
    java.nio.file.Files.exists(sidecar) shouldBe true
    // the sidecar is valid and matches a dedicated index build
    val loaded = WarcDataSource.readSidecar(f.toString, size, conf)
    loaded shouldBe defined
    val built = {
      val in = new java.io.BufferedInputStream(
        java.nio.file.Files.newInputStream(f))
      try Warc.buildCutIndex(in, "big", WarcDataSource.indexMinGap(700))
      finally in.close()
    }
    loaded.get shouldBe built
    // the NEXT (default index-mode) plan uses it: byte-range slices
    val slices = WarcDataSource.planSlicesIndexed(
      Seq((f.toString, size)), 700, Map(f.toString -> loaded.get)).flatten
    slices.length should be > 1
    all(slices) shouldBe a[WarcDataSource.RangeSlice]
    // and the index-mode read (fresh JVM cache, sidecar-planned) is
    // bit-identical to the roundrobin rows
    WarcDataSource.indexCache.clear()
    val viaIndex = spark.read.format("warc").option("split_size", 700)
      .load(dir.toString).orderBy("rec_idx").collect()
    viaIndex shouldBe viaRR
  }

  "indexesFor" should "return every freshly-built index even past the LRU cache bound" in {
    import graft.sources.WarcDataSource
    // more oversized files than IndexCacheMaxFiles can hold: the scan
    // must still plan ALL of them with their fresh indexes (building
    // then re-reading through the cache would lose early entries to
    // eviction and silently degrade to round-robin walks)
    val dir = ScratchDirs.create("warclru")
    val nFiles = 5
    (0 until nFiles).foreach { k =>
      java.nio.file.Files.write(dir.resolve(f"f$k%02d.warc.gz"),
        Warc.encodeGz((0 until 8).map(i =>
          Warc.record("response", s"http://lru.example/$k/$i",
            Warc.httpResponse(200, "text/plain",
              (s"payload $k/$i :: " + "q" * 60).getBytes("UTF-8"))))))
    }
    val conf = spark.sessionState.newHadoopConf()
    val files = WarcDataSource.listFiles(dir.toString, conf)
    files.length shouldBe nFiles
    val bc = spark.sparkContext.broadcast(
      new org.apache.spark.util.SerializableConfiguration(conf))
    // shrink the LRU bound below the listing size so the cache REALLY
    // evicts during the puts — the returned map must still carry every
    // file's fresh index (the pre-r12 re-read-through-the-cache form
    // lost the evicted ones and degraded them to round-robin)
    val saved = WarcDataSource.IndexCacheMaxFiles
    try {
      WarcDataSource.IndexCacheMaxFiles = 2
      WarcDataSource.indexCache.clear()
      val got = WarcDataSource.indexesFor(files, 1L, bc, sidecar = "off")
      got.keySet shouldBe files.map(_._1).toSet
      got.values.foreach(_.cuts.length should be > 1)
      // the cache itself honors the shrunken bound (evictions happened)
      WarcDataSource.indexCache.size() should be <= 2
    } finally {
      WarcDataSource.IndexCacheMaxFiles = saved
      WarcDataSource.indexCache.clear()
    }
  }
}
