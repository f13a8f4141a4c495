package graft

import graft.sources.Sinks
import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.schema.MessageTypeParser
import org.apache.spark.sql.functions._
import java.nio.file.Files

/** Partitioned-layout write + partition pruning (SURVEY.md §4: the
  * reference picked dated directories in shell; here `y=/m=/d=` layout is
  * written by the engine and Catalyst prunes partitions from filters). */
class PartitioningSpec extends SparkSpec {

  import spark.implicits._

  "writeParquet with partition columns" should "produce a prunable dated layout" in {
    val dir = ScratchDirs.create("part").toFile.getAbsolutePath + "/t"
    val df = (1 to 200).map { i =>
      (i.toLong, 2024, 1 + i % 3, s"payload$i")
    }.toDF("id", "y", "m", "payload")
    Sinks.writeParquet(df, dir, partitionCols = Seq("y", "m"))

    new java.io.File(s"$dir/y=2024/m=2").exists() shouldBe true

    val back = spark.read.parquet(dir).where(col("m") === 2)
    back.count() shouldBe (1 to 200).count(i => 1 + i % 3 == 2)
    // the physical scan must prune to the single matching partition
    val scan = back.queryExecution.executedPlan.collectLeaves().head.toString
    scan should include ("PartitionFilters")
    scan should include ("(m#")
  }

  "Tables.loadPaths" should "read every path, not just the first" in {
    val a = ScratchDirs.create("pa").toFile.getAbsolutePath + "/a"
    val b = ScratchDirs.create("pb").toFile.getAbsolutePath + "/b"
    Seq(1L, 2L).toDF("v").write.parquet(a)
    Seq(3L).toDF("v").write.parquet(b)
    Tables.loadPaths(spark, Seq(a, b)).as[Long].collect().sorted shouldBe
      Array(1L, 2L, 3L)
  }

  "Tables.load" should "leave the session conf unchanged" in {
    val dir = ScratchDirs.create("tl").toFile.getAbsolutePath
    Seq((1L, java.sql.Timestamp.valueOf("2024-01-01 00:00:00"), "a", 1.5),
      (2L, java.sql.Timestamp.valueOf("2024-01-01 02:00:00"), "a", 2.0))
      .toDF("event_id", "ts", "event_type", "value")
      .coalesce(1).write.parquet(s"$dir/part")
    // one parquet FILE named events.parquet, as the fixtures ship it (the
    // streaming gates glob for that file name)
    val part = new java.io.File(s"$dir/part").listFiles()
      .filter(_.getName.endsWith(".parquet")).head
    Files.move(part.toPath, java.nio.file.Paths.get(dir, "events.parquet"))
    val s = spark.newSession()
    s.conf.set(GraftSession.NanosAsLong, "false")
    Tables.load(s, dir, "events").count() shouldBe 2
    s.conf.get(GraftSession.NanosAsLong) shouldBe "false"
    // a streaming gate reads the same TIMESTAMP(MICROS) file under the
    // session's setting, never by writing its own
    SparkEntry.queries("st3_stream_window")(s, dir)
      .as[(Long, String, Long, Long)].collect() shouldBe
      Array((java.sql.Timestamp.valueOf("2024-01-01 00:00:00").getTime / 1000,
        "a", 1L, 150L))
    s.conf.get(GraftSession.NanosAsLong) shouldBe "false"
  }

  "SparkEntry.entry" should "adopt a session built without the nanosecond key" in {
    // events.parquet as the harness writes it: ts is TIMESTAMP(NANOS),
    // which Spark itself cannot write
    val dir = ScratchDirs.create("ns").toFile.getAbsolutePath
    val schema = MessageTypeParser.parseMessageType("message events { " +
      "required int64 event_id; required int64 ts (TIMESTAMP(NANOS,false)); }")
    val w = ExampleParquetWriter.builder(new Path(s"$dir/events.parquet"))
      .withType(schema).build()
    w.write(new SimpleGroupFactory(schema).newGroup()
      .append("event_id", 1L).append("ts", 1704067200000001999L))
    w.close()
    val s = spark.newSession()
    s.conf.unset(GraftSession.NanosAsLong)
    // a bare load names the missing setting instead of a parquet type error
    val e = intercept[IllegalStateException](Tables.load(s, dir, "events"))
    e.getMessage should include (GraftSession.NanosAsLong)
    SparkEntry.entry(s).count() should be > 0L
    Tables.load(s, dir, "events").select(unix_micros(col("ts")))
      .as[Long].head() shouldBe 1704067200000001L
  }

  "loadPaths with a partition-pruned filter" should "skip non-matching files" in {
    val dir = ScratchDirs.create("pp").toFile.getAbsolutePath + "/t"
    (1 to 100).map(i => (i, i % 4)).toDF("v", "d")
      .write.partitionBy("d").parquet(dir)
    val pruned = spark.read.parquet(dir).where(col("d") === 1)
    pruned.count() shouldBe 25
    pruned.queryExecution.executedPlan.collectLeaves().head.toString should
      include ("PartitionFilters: [isnotnull(d#")
  }

  "Layout.zValue" should "interleave bits exactly and reject out-of-range inputs" in {
    import graft.operators.Layout
    def ref(x: Long, y: Long): Long =
      (0 until 16).map(i => (((x >> i) & 1) << (2 * i)) | (((y >> i) & 1) << (2 * i + 1))).sum
    val rnd = new scala.util.Random(5)
    val pts = (1 to 200).map(_ => (rnd.nextInt(65536).toLong, rnd.nextInt(65536).toLong))
    val got = pts.toDF("x", "y")
      .select(col("x"), col("y"), Layout.zValue(col("x"), col("y")).as("z"))
      .as[(Long, Long, Long)].collect()
    got.foreach { case (x, y, z) => z shouldBe ref(x, y) }
    val ex = intercept[Exception] {
      Seq((70000L, 1L)).toDF("x", "y")
        .select(Layout.zValue(col("x"), col("y"))).collect()
    }
    Iterator.iterate(ex: Throwable)(_.getCause).takeWhile(_ != null)
      .exists(t => Option(t.getMessage).exists(_.contains("zValue"))) shouldBe true
  }

  "Layout.zOrderWrite" should "prune more files than a one-column sort on a 2-D box scan" in {
    import graft.operators.Layout
    // uniform 100×100 grid; the box predicate is narrow in y and wide in
    // x — the adversarial case for an x-sorted layout (every file spans
    // all of y, so nothing skips)
    val grid = for { x <- 0 until 100; y <- 0 until 100 }
      yield (x.toLong, y.toLong, x * 100L + y)
    val df = grid.toDF("x", "y", "payload")
    val zDir = ScratchDirs.create("zord").toFile.getAbsolutePath + "/t"
    val linDir = ScratchDirs.create("lin").toFile.getAbsolutePath + "/t"
    Layout.zOrderWrite(df, zDir, col("x"), col("y"), bits = 7, numFiles = 16)
    df.repartitionByRange(16, col("x")).sortWithinPartitions("x")
      .write.parquet(linDir)

    // file-level min/max footer boxes — the stats any engine prunes by
    def hitFiles(dir: String): Int = {
      val files = new java.io.File(dir).listFiles()
        .filter(_.getName.endsWith(".parquet"))
      files.count { f =>
        val r = spark.read.parquet(f.getAbsolutePath)
          .agg(min("x"), max("x"), min("y"), max("y")).head()
        val (x0, x1, y0, y1) = (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))
        // box: full x, y in [40, 49]
        !(y1 < 40L || y0 > 49L) && !(x1 < 0L || x0 > 99L)
      }
    }
    val zHits = hitFiles(zDir)
    val linHits = hitFiles(linDir)
    linHits shouldBe 16 // x-sorted files all span the y slice
    zHits should be < 8 // z-clustered files cover tight rectangles
    // correctness unchanged by layout
    spark.read.parquet(zDir).where(col("y") >= 40 && col("y") <= 49).count() shouldBe
      spark.read.parquet(linDir).where(col("y") >= 40 && col("y") <= 49).count()
  }

  "Layout.fileStats/prunedRead" should "cut the file list from the manifest and keep rows exact" in {
    import graft.operators.Layout
    val grid = for { x <- 0 until 100; y <- 0 until 100 }
      yield (x.toLong, y.toLong, x * 100L + y)
    val df = grid.toDF("x", "y", "payload")
    val dir = ScratchDirs.create("mani").toFile.getAbsolutePath + "/t"
    Layout.zOrderWrite(df, dir, col("x"), col("y"), bits = 7, numFiles = 16)
    val manifest = Layout.fileStats(spark, dir, Seq("x", "y"))
    manifest.count() shouldBe 16
    manifest.columns.toSeq shouldBe Seq("file", "min_x", "max_x", "min_y", "max_y")
    // the manifest IS the per-file footer stats
    manifest.agg(min("min_x"), max("max_x"), min("min_y"), max("max_y"))
      .as[(Long, Long, Long, Long)].head() shouldBe ((0L, 99L, 0L, 99L))

    val (scan, nSel, nTot) = Layout.prunedRead(spark, dir, manifest,
      Map("x" -> (20L, 29L), "y" -> (40L, 49L)))
    nTot shouldBe 16L
    nSel should be < 8L // tight z rectangles: the box hits few files
    // row set identical to the unpruned filter (residual still applied)
    scan.select("x", "y", "payload").as[(Long, Long, Long)].collect().sorted shouldBe
      df.where(col("x").between(20, 29) && col("y").between(40, 49))
        .as[(Long, Long, Long)].collect().sorted
    // a box outside the data selects zero files and returns zero rows
    val (empty, n0, _) = Layout.prunedRead(spark, dir, manifest,
      Map("x" -> (500L, 600L), "y" -> (0L, 99L)))
    n0 shouldBe 0L
    empty.count() shouldBe 0L
  }

  "Layout.compact" should "collapse a fragmented directory without touching a row" in {
    val frag = ScratchDirs.create("frag").toFile.getAbsolutePath
    val out = ScratchDirs.create("compacted").toFile.getAbsolutePath
    val df = (1 to 5000).map(i => (i.toLong, s"p$i")).toDF("id", "payload")
    df.repartition(40).write.mode("overwrite").parquet(frag)
    val (nIn, nOut, bytes) = graft.operators.Layout.compact(
      spark, frag, out, targetBytes = 1L << 20)
    nIn shouldBe 40L
    nOut shouldBe 1L // 5k tiny rows fit one 1 MiB target file
    bytes should be > 0L
    spark.read.parquet(out).as[(Long, String)].collect().sortBy(_._1) shouldBe
      (1 to 5000).map(i => (i.toLong, s"p$i"))
  }

  it should "honor the maxFiles cap" in {
    val frag = ScratchDirs.create("frag2").toFile.getAbsolutePath
    val out = ScratchDirs.create("compacted2").toFile.getAbsolutePath
    (1 to 1000).map(i => (i.toLong, "x" * 2000)).toDF("id", "payload")
      .repartition(30).write.mode("overwrite").parquet(frag)
    // tiny target would want many output files; the cap wins
    val (_, nOut, _) = graft.operators.Layout.compact(
      spark, frag, out, targetBytes = 1L << 20, maxFiles = Some(2))
    nOut should be <= 2L
  }

  "the engine sources" should "read no env var outside the driver contract" in {
    // engine choices come from CLI flags, session conf or observable
    // input, never from an env var; these are the contract's inputs and
    // graft.Bench's selection, rep count, child output and strict mode
    val allowed = Set("SPARK_GRAFT_CPUS", "SPARK_GRAFT_SF_DIR",
      "SPARK_GRAFT_VERIFY_SKIP") ++
      Seq("SKIP", "ONLY", "REPS", "OUT", "STRICT").map("SPARK_GRAFT_BENCH_" + _)
    val access = """sys\.env|System\.getenv""".r
    val named =
      """(?:sys\.env|System\.getenv)(?:\.getOrElse|\.get)?\(\s*"(\w+)"""".r
    val root = java.nio.file.Paths.get("src/main/scala")
    Files.isDirectory(root) shouldBe true
    import scala.jdk.CollectionConverters._
    val reads = Files.walk(root).iterator.asScala.toSeq
      .filter(_.toString.endsWith(".scala")).flatMap { f =>
        val src = new String(Files.readAllBytes(f), "UTF-8")
        access.findAllMatchIn(src).map { m =>
          val name = named.findPrefixMatchOf(src.substring(m.start))
            .map(_.group(1)).getOrElse("<not a literal name>")
          (root.relativize(f).toString, name)
        }
      }
    reads.map(_._2) should contain ("SPARK_GRAFT_CPUS")
    reads.filterNot { case (_, name) => allowed(name) } shouldBe empty
  }

  it should "set session conf only in GraftSession" in {
    // session state is GraftSession's to set (the builder and `adopt`);
    // an operator or gate that writes it changes the caller's session
    val root = java.nio.file.Paths.get("src/main/scala")
    Files.isDirectory(root) shouldBe true
    import scala.jdk.CollectionConverters._
    val writes = Files.walk(root).iterator.asScala.toSeq
      .filter(_.toString.endsWith(".scala")).flatMap { f =>
        val lines = Files.readAllLines(f).asScala.toSeq
        lines.zipWithIndex.collect { case (l, i) if l.contains("conf.set(") =>
          s"${root.relativize(f)}:${i + 1}"
        }
      }
    writes should not be empty
    writes.filterNot(_.startsWith("graft/GraftSession.scala:")) shouldBe empty
  }

  it should "create temp dirs only through the helper" in {
    // a gate's scratch dir outlives the builder (its frame reads it
    // lazily), so only ScratchDirs may make one: it roots them all under
    // one per-JVM dir that goes at JVM exit. Tests take theirs from it
    // too, so a test run leaves nothing behind in java.io.tmpdir.
    val call = """\bcreateTemp(?:Directory|File)\(""".r
    import scala.jdk.CollectionConverters._
    val sites = Seq("src/main/scala", "src/test/scala").flatMap { dir =>
      val root = java.nio.file.Paths.get(dir)
      Files.isDirectory(root) shouldBe true
      Files.walk(root).iterator.asScala.toSeq
        .filter(_.toString.endsWith(".scala")).flatMap { f =>
          // ISO-8859-1: every byte decodes (WarcSpec holds raw bytes)
          val lines = new String(Files.readAllBytes(f), "ISO-8859-1")
            .split("\n").toSeq
          lines.zipWithIndex.collect {
            case (l, i) if call.findFirstIn(l).isDefined => s"$f:${i + 1}"
          }
        }
    }
    sites should not be empty
    sites.filterNot(_.startsWith("src/main/scala/graft/ScratchDirs.scala:")) shouldBe empty
  }

  "ScratchDirs" should "delete every dir it made when cleanup runs" in {
    val dirs = new ScratchDirs("scratch-spec")
    val a = dirs.create("a")
    val b = dirs.create("b")
    Files.write(a.resolve("part-0.txt"), "x".getBytes("UTF-8"))
    Files.createDirectories(b.resolve("ckpt/offsets"))
    Files.write(b.resolve("ckpt/offsets/0"), "y".getBytes("UTF-8"))
    a.getParent shouldBe b.getParent
    Seq(a, b).foreach(d => Files.isDirectory(d) shouldBe true)
    dirs.cleanup()
    Seq(a, b, a.getParent).foreach(d => Files.exists(d) shouldBe false)
    // the shared helper roots every dir under one per-JVM dir
    ScratchDirs.create("p").getParent shouldBe ScratchDirs.create("q").getParent
  }
}
