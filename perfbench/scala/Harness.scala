package perfbench

import graft.{GraftSession, Main, Tables}
import graft.ml.TopicModel
import graft.operators.Corpus
import graft.pipelines.{DnsPipeline, FlowPipeline}
import graft.sources.Sinks
import org.apache.spark.PerfbenchBus
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.storage.StorageLevel

import java.io.File
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

/** JVM side of the suspicious-connects benchmark (driven by run.py).
  *
  * One JVM runs one workload: it builds a warm [[GraftSession]] (set-up),
  * times the analyst path -- `Main.runAnalysis` + `Sinks.writeTsv`, exactly
  * what `Main.main` does -- until the measured seconds are reached, checks
  * every output, and with `trace=1` runs one warm untraced reference and one
  * pass that calls each layer's public function in the order `runAnalysis`
  * composes them, attributing Spark tasks to the layer through job groups.
  *
  *   Harness <spec.properties>
  *
  * Spec keys: mode (run, or prep: one untimed analyst run that trains a
  * stored model), workload, seconds, trace, work (scratch directory), args
  * (Main CLI arguments, one per line), fresh_model (give each run its own
  * --model directory), result (output JSON path).
  */
object Harness {

  final case class Check(hash: String, rowsOut: Long, bytes: Long, errors: Seq[String])

  def main(argv: Array[String]): Unit = {
    val spec = new java.util.Properties()
    val in = Files.newBufferedReader(Paths.get(argv(0)), UTF_8)
    try spec.load(in) finally in.close()
    def get(k: String) = Option(spec.getProperty(k)).getOrElse(sys.error(s"spec lacks $k"))
    def lines(k: String) = Option(spec.getProperty(k)).toSeq
      .flatMap(_.split("\n")).filter(_.nonEmpty)

    val trace = spec.getProperty("trace", "0") == "1"
    val counters = new Trace.TaskCounters
    val (spark, setupS) = warmSession(if (trace) Some(counters) else None)
    val out = mutable.LinkedHashMap[String, String](
      "setup_s" -> Json.num(setupS),
      "cores" -> spark.sparkContext.defaultParallelism.toString)
    try {
      get("mode") match {
        case "prep" => analystRun(spark, parse(lines("args")))
        case _ => out ++= runWorkload(spark, get("workload"), get("seconds").toDouble,
          trace, get("work"), lines("args"), spec.getProperty("fresh_model") == "1",
          counters, setupS)
      }
      out("peak_rss_mb") = Json.num(peakRssMb())
    } finally spark.stop()
    Files.write(Paths.get(get("result")), Json.obj(out.toSeq).getBytes(UTF_8))
  }

  /** JVM start to a session that has run a job on every core. With
    * `counters`, the set-up job's tasks are recorded as the session layer. */
  def warmSession(counters: Option[Trace.TaskCounters]): (SparkSession, Double) = {
    val jvmStart = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val spark = GraftSession.fromEnv()
    val sc = spark.sparkContext
    counters.foreach(sc.addSparkListener)
    sc.setJobGroup("session", "perfbench session")
    spark.range(0, 1000000, 1, sc.defaultParallelism).selectExpr("sum(id)").collect()
    sc.clearJobGroup()
    val setupS = (System.currentTimeMillis() - jvmStart) / 1e3
    counters.foreach { c => PerfbenchBus.drain(sc); sc.removeSparkListener(c) }
    (spark, setupS)
  }

  def peakRssMb(): Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(Double.NaN)

  def parse(args: Seq[String]): Main.Config =
    Main.parse(args).fold(e => sys.error(s"bad workload arguments: $e"), identity)

  /** Exactly the body of `Main.main`. */
  def analystRun(spark: SparkSession, c: Main.Config): DataFrame = {
    val df = Main.runAnalysis(spark, c)
    Sinks.writeTsv(df, c.scored, singleFile = c.maxResults >= 0, sep = c.delimiter)
    df
  }

  def deleteTree(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.foreach(deleteTree)
    f.delete()
  }

  def treeBytes(f: File): Long =
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.map(treeBytes).sum
    else if (f.isFile) f.length() else 0L

  /** Path, size and modification time of every file under `f`. */
  def treeStamp(f: File): Seq[(String, Long, Long)] =
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.sortBy(_.getName).flatMap(treeStamp)
    else Seq((f.getPath, f.length(), f.lastModified()))

  def runWorkload(spark: SparkSession, workload: String, seconds: Double,
                  trace: Boolean, work: String, args: Seq[String],
                  freshModel: Boolean, counters: Trace.TaskCounters,
                  setupS: Double): Seq[(String, String)] = {
    val base = parse(args)
    val inputCols = Tables.loadPaths(spark, base.input).columns.toSeq
    val expected = base.analysis match {
      case "flow" => inputCols ++ Seq("src_score", "dst_score")
      case _ => inputCols ++ Seq("domain", "subdomain", "subdomain_length",
        "num_periods", "subdomain_entropy", "top_domain", "word", "score")
    }
    var n = 0
    def nextConfig(): Main.Config = {
      n += 1
      base.copy(scored = s"$work/out_$n",
        model = if (freshModel) Some(s"$work/model_$n") else base.model)
    }

    val runS = mutable.ArrayBuffer.empty[Double]
    val checks = mutable.ArrayBuffer.empty[(String, Check)]
    var failed = 0
    var quality: Option[(Double, Long, Long, Long)] = None
    var modelBytes = base.model.map(p => treeBytes(new File(p))).getOrElse(0L)
    // a stored model is only read: `Main.runAnalysis` trains and saves over
    // it when it fails to load, which would time a different job
    val storedModel = base.model.filter(_ => !freshModel).map(p => new File(p))
    val storedStamp = storedModel.map(treeStamp)

    /** One analyst run and its checks; the body returns the result's
      * columns and, for a timed run, its seconds. */
    def attempt(label: String, c: Main.Config)(body: => (Seq[String], Option[Double])): Unit = {
      spark.catalog.clearCache()
      deleteTree(new File(c.scored))
      c.model.filter(_ => freshModel).foreach(p => deleteTree(new File(p)))
      val check = try {
        val (cols, secs) = body
        val ck = checkOutput(c, cols, expected)
        secs.foreach(runS += _)
        if (quality.isEmpty && ck.errors.isEmpty)
          quality = Some(modelQuality(spark, c))
        ck
      } catch {
        case NonFatal(e) =>
          e.printStackTrace()
          Check("", 0, 0, Seq(s"threw ${e.getClass.getSimpleName}: ${e.getMessage}"))
      }
      // TopicModel.assertQuality's bound, counted as a failed check
      val qErr = quality.collect { case q if q._1 > band(c.analysis) =>
        f"perplexity ratio ${q._1}%.4f exceeds the ${band(c.analysis)}%.3f band" }
      val modelErr = storedModel.filter(m => Some(treeStamp(m)) != storedStamp)
        .map(m => s"the stored model $m was rewritten: the run trained instead of loading it")
      val ck = check.copy(errors = check.errors ++ qErr ++ modelErr)
      if (ck.errors.nonEmpty) failed += 1
      checks += label -> ck
      c.model.filter(_ => freshModel).foreach { p =>
        modelBytes = treeBytes(new File(p))
        deleteTree(new File(p))
      }
      deleteTree(new File(c.scored))
    }

    // Like `graft.Main`, the first analysis runs right after set-up: an
    // analyst's job is one JVM per telemetry day, so it is timed cold.
    def timedRun(label: String): Unit = {
      val c = nextConfig()
      attempt(label, c) {
        val t0 = System.nanoTime()
        val df = analystRun(spark, c)
        val secs = (System.nanoTime() - t0) / 1e9
        (df.columns.toSeq, Some(secs))
      }
    }
    // timed runs until their sum reaches `seconds`, or three runs threw
    while (runS.sum < seconds && checks.size - runS.size < 3) timedRun(s"run${n + 1}")

    var traceOut = Seq.empty[(String, String)]
    if (trace) {
      // the traced pass runs warm, so its untraced reference is a warm run
      val timed = runS.size
      timedRun("reference")
      val reference = if (runS.size > timed) runS.remove(timed) else Double.NaN
      val c = nextConfig()
      val sc = spark.sparkContext
      val rec = new Trace.Recorder(sc, s"$workload-traced")
      var wall = 0.0
      // the session layer ran at JVM start: its span is the set-up time
      val session = Trace.layerCounters("session", setupS,
        counters.taskRecs("session"), counters.jobCount("session"))
      counters.reset()
      attempt("traced", c) {
        sc.addSparkListener(counters)
        try {
          val t0 = System.nanoTime()
          val cols = Layered.run(spark, c, rec)
          wall = (System.nanoTime() - t0) / 1e9
          PerfbenchBus.drain(sc)
          if (storedModel.isDefined && counters.jobCount("topicmodel") > 0)
            sys.error("the traced pass ran topic-model jobs with a stored model")
          (cols, None)
        } finally { PerfbenchBus.drain(sc); sc.removeSparkListener(counters) }
      }
      val scans = counters.taskRecs("sources")
      val layers = Trace.Layers.filter(_ != "session")
      val ck = checks.last._2
      traceOut = (session ++ layers.flatMap(l =>
        Trace.layerCounters(l, rec.wall(l), counters.taskRecs(l), counters.jobCount(l))) ++
        Seq("sources.rows" -> scans.map(_.inRows).sum.toDouble,
          "sources.input_bytes" -> scans.map(_.inBytes).sum.toDouble,
          "scoring.rows_out" -> ck.rowsOut.toDouble,
          "sinks.bytes" -> ck.bytes.toDouble,
          "modelio.bytes" -> modelBytes.toDouble,
          "unattributed_s" -> (wall - layers.map(rec.wall).sum),
          "trace_overhead_s" -> (wall - reference)))
        .map { case (k, v) => k -> Json.num(v) }
      Files.write(Paths.get(s"$work/spans.json"),
        Trace.spansJson(rec.spans.toSeq).getBytes(UTF_8))
    }

    val q = quality.getOrElse((Double.NaN, 0L, 0L, 0L))
    Seq(
      "run_s" -> Json.arr(runS.toSeq.map(Json.num)),
      "attempted" -> checks.size.toString,
      "failed" -> failed.toString,
      "checks" -> Json.arr(checks.toSeq.map { case (label, ck) =>
        Json.obj(Seq("run" -> Json.str(label), "hash" -> Json.str(ck.hash),
          "rows_out" -> ck.rowsOut.toString,
          "errors" -> Json.arr(ck.errors.map(Json.str))))
      }),
      "perplexity_ratio" -> Json.num(q._1),
      "corpus_pairs" -> q._2.toString,
      "corpus_docs" -> q._3.toString,
      "corpus_vocab" -> q._4.toString,
      "trace" -> Json.obj(traceOut))
  }

  def band(analysis: String): Double =
    if (analysis == "flow") FlowPipeline.PerplexityBand else DnsPipeline.PerplexityBand

  /** `TopicModel.qualityRatio` of the model a run used, on the run's own
    * input corpus, with the corpus's size: (ratio, pairs, docs, vocab). */
  def modelQuality(spark: SparkSession, c: Main.Config): (Double, Long, Long, Long) = {
    val input = Tables.loadPaths(spark, c.input)
    val (topics, corpus, label) = c.analysis match {
      case "flow" =>
        val m = FlowPipeline.load(spark, c.model.get)
        (m.topics, FlowPipeline.corpus(FlowPipeline.featurize(
          FlowPipeline.validTimes(input), m.cuts)), "flow LDA")
      case _ =>
        val m = DnsPipeline.load(spark, c.model.get)
        (m.topics, Corpus.wordCounts(DnsPipeline.featurizeWithLookup(
          DnsPipeline.withSubdomains(DnsPipeline.validRows(input)), m.cuts, m.popular),
          col("ip_dst"), col("word")), "dns LDA")
    }
    val wc = corpus.persist(StorageLevel.MEMORY_AND_DISK)
    try {
      val ratio = TopicModel.qualityRatio(topics, wc, label)
      (ratio, wc.count(), wc.select("doc").distinct().count(),
        wc.select("word").distinct().count())
    } finally wc.unpersist()
  }

  /** The output checks every run must pass; the hash is over the sorted
    * lines, with rows tied at a top-k cut reduced to their score and count
    * (which of the tied rows a top-k keeps is not specified). */
  def checkOutput(c: Main.Config, cols: Seq[String], expected: Seq[String]): Check = {
    val errors = mutable.ArrayBuffer.empty[String]
    if (cols != expected)
      errors += s"row shape ${cols.mkString(",")} is not ${expected.mkString(",")}"
    val dir = new File(c.scored)
    val parts = Option(dir.listFiles()).toSeq.flatten
      .filter(f => f.getName.startsWith("part-")).sortBy(_.getName)
    if (!new File(dir, "_SUCCESS").exists()) errors += "no _SUCCESS marker"
    val rows = parts.flatMap(f => Files.readAllLines(f.toPath, UTF_8).asScala)
    val scores = rows.map { line =>
      val f = line.split(java.util.regex.Pattern.quote(c.delimiter), -1)
      if (f.length != expected.size) {
        errors += s"row has ${f.length} fields, expected ${expected.size}"
        Double.NaN
      } else if (c.analysis == "flow") math.min(f(f.length - 2).toDouble, f(f.length - 1).toDouble)
      else f(f.length - 1).toDouble
    }
    if (c.maxResults >= 0 && rows.size > c.maxResults)
      errors += s"${rows.size} rows exceed max-results ${c.maxResults}"
    if (rows.isEmpty) errors += "no rows written"
    if (!scores.forall(s => s >= 0.0 && s <= c.threshold))
      errors += s"a score lies outside [0, ${c.threshold}]"
    if (scores.zip(scores.drop(1)).exists { case (a, b) => !(a <= b) })
      errors += "scores are not ascending"
    val cut = if (c.maxResults >= 0 && rows.size == c.maxResults && scores.nonEmpty)
      scores.max else Double.PositiveInfinity
    val kept = rows.zip(scores).filter(_._2 < cut).map(_._1).sorted
    val md = java.security.MessageDigest.getInstance("SHA-256")
    kept.foreach(l => md.update((l + "\n").getBytes(UTF_8)))
    md.update(s"tied ${scores.count(_ == cut)} at $cut".getBytes(UTF_8))
    Check(md.digest().map(b => f"$b%02x").mkString.take(16), rows.size.toLong,
      parts.map(_.length()).sum, errors.distinct.toSeq)
  }
}
