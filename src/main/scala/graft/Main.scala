package graft

import graft.pipelines.SuspiciousConnects
import graft.sources.{Feedback, Lookups, Sinks}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** User-facing analysis CLI — the reference's `SuspiciousConnects` entry
  * point (SuspiciousConnects.scala:29-58 + SuspiciousConnectsArgumentParser
  * .scala:9-110) re-expressed for the in-JVM engine: the MPI/ssh/model-file
  * plumbing (--mpicmd, --lpath, --nodes, ...) has no equivalent because
  * Spark owns training and distribution; everything a user steers survives.
  *
  *   graft.Main --analysis flow --input /data/flow.parquet \
  *     --scored /out/flow_results [--feedback scores.tsv] [--dupfactor 1000]
  *     [--threshold 1e-4] [--maxresults 200] [--topiccount 20]
  *     [--topdomains top-1m.csv] [--model /models/flow] [--delimiter \t]
  *     [--seed 42]
  *
  * `--model` is a model store: an existing dir is loaded (a partial one
  * fails, naming the missing part) and its stored `topic_count` wins over
  * `--topiccount`; a missing dir is trained into.
  *
  * Output: delimited text in the reference's per-analysis row shape
  * (flow: input + src_score + dst_score; dns: worded row + score;
  * proxy: input + word + score), ascending by score.
  * The arg parser is hand-rolled: the surface is 10 flags and the build
  * deliberately adds no dependencies beyond Spark.
  */
object Main {

  final case class Config(analysis: String = "",
                          input: Seq[String] = Nil,
                          scored: String = "",
                          feedback: Option[String] = None,
                          dupFactor: Int = 1000,
                          threshold: Double = 1.0,
                          maxResults: Int = -1,
                          topicCount: Int = 20,
                          topDomains: Option[String] = None,
                          model: Option[String] = None,
                          delimiter: String = "\t",
                          seed: Long = 42L)

  /** The pipelines the CLI runs: those that declare a feedback schema. */
  private val analyses: Seq[String] =
    SuspiciousConnects.all.filter(_.feedbackSchema.isDefined).map(_.name)

  val usage: String =
    s"""Usage: graft.Main --analysis <${analyses.mkString("|")}> --input <parquet[,parquet...]>
      |                  --scored <output dir>
      |  [--feedback <tsv>]     headered TSV of analyst-scored rows (sev column)
      |  [--dupfactor <n>]      corpus weight for sev=3 feedback rows (default 1000)
      |  [--threshold <x>]      max probability to report (default 1.0 = everything)
      |  [--maxresults <k>]     top-k most suspicious rows (-1 = all below threshold)
      |  [--topiccount <k>]     LDA topics, at least 2 (default 20)
      |  [--topdomains <csv>]   rank,domain popularity list (reference top-1m.csv)
      |  [--model <dir>]        model store: load if the dir exists (its topic count
      |                         wins over --topiccount), else train + save here
      |  [--delimiter <c>]      output field separator (default tab)
      |  [--seed <n>]           LDA seed (default 42)""".stripMargin

  def parse(args: Seq[String]): Either[String, Config] = {
    @annotation.tailrec
    def loop(rest: List[String], c: Config): Either[String, Config] = rest match {
      case Nil => Right(c)
      case ("--analysis" | "-z") :: v :: t => loop(t, c.copy(analysis = v))
      case ("--input" | "-i") :: v :: t =>
        loop(t, c.copy(input = v.split(",").toSeq.filter(_.nonEmpty)))
      case ("--scored" | "-s") :: v :: t => loop(t, c.copy(scored = v))
      case ("--feedback" | "-f") :: v :: t => loop(t, c.copy(feedback = Some(v)))
      case ("--dupfactor" | "-d") :: v :: t => loop(t, c.copy(dupFactor = v.toInt))
      case ("--threshold" | "-e") :: v :: t => loop(t, c.copy(threshold = v.toDouble))
      case ("--maxresults" | "-k") :: v :: t => loop(t, c.copy(maxResults = v.toInt))
      case ("--topiccount" | "-u") :: v :: t => loop(t, c.copy(topicCount = v.toInt))
      case "--topdomains" :: v :: t => loop(t, c.copy(topDomains = Some(v)))
      case ("--model" | "-m") :: v :: t => loop(t, c.copy(model = Some(v)))
      case ("--delimiter" | "-b") :: v :: t => loop(t, c.copy(delimiter = v))
      case "--seed" :: v :: t => loop(t, c.copy(seed = v.toLong))
      case other :: _ => Left(s"unrecognized or valueless argument: $other")
    }
    try loop(args.toList, Config()).flatMap { c =>
      if (!analyses.contains(c.analysis))
        Left(s"--analysis must be one of: ${analyses.mkString(", ")}")
      else if (c.input.isEmpty) Left("--input is required")
      else if (c.scored.isEmpty) Left("--scored is required")
      // MLlib's LDA requires k > 1, and a negative weight would subtract
      // feedback rows from the corpus counts
      else if (c.topicCount < 2) Left("--topiccount must be at least 2")
      else if (c.dupFactor < 0) Left("--dupfactor must not be negative")
      else Right(c)
    } catch {
      case e: NumberFormatException => Left(s"bad numeric argument: ${e.getMessage}")
    }
  }

  /** The feedback TSV schema of a CLI analysis (its pipeline's
    * [[SuspiciousConnects.feedbackSchema]]); any other name fails. */
  def feedbackSchema(analysis: String): StructType =
    SuspiciousConnects(analysis).feedbackSchema.getOrElse(
      throw new IllegalArgumentException(s"the $analysis pipeline takes no feedback"))

  /** Train + score + shape results for one analysis; factored out of main
    * so tests can drive the full CLI path on an existing session. */
  def runAnalysis(spark: SparkSession, c: Config): DataFrame = {
    val p = SuspiciousConnects(c.analysis)
    val input = Tables.loadPaths(spark, c.input)
    val fb = c.feedback.map(path => Feedback.load(spark, path,
      feedbackSchema(c.analysis), sevCol = "sev", sev = 3,
      duplicationFactor = c.dupFactor))
    // --topdomains, else the reference's default: a top-1m.csv in the
    // working directory when one exists (DNSWordCreation.scala:41 reads it
    // unconditionally; here its absence just means an empty popular list).
    // The list stays a DISTRIBUTED frame end-to-end — classing is a
    // broadcast join, never a driver collect of a million strings (the
    // reference's TopDomains.scala:9-13 Set is the shape avoided here).
    // Only a pipeline that takes a list reads one: flow must not pay the
    // CSV scan.
    val popular = c.topDomains
      .orElse(Some("top-1m.csv").filter(path => new java.io.File(path).exists))
      .filter(_ => p.takesPopular)
      .map(path => Lookups.topDomainsDF(spark, path))
      .getOrElse(SuspiciousConnects.popularFrame(spark, Set.empty))
    // --model: score with the model stored at the path when the path
    // exists, otherwise train and persist there (train-once-score-later).
    // A path that exists but does not load (a partial or interrupted
    // save) fails with the load's error, which names the missing part:
    // retraining over it would silently replace what is there.
    val stored = c.model.filter { path =>
      val hp = new org.apache.hadoop.fs.Path(path)
      hp.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(hp)
    }
    val model = stored.map(p.load(spark, _)).getOrElse {
      val m = p.train(input, popular, c.topicCount, seed = c.seed, feedback = fb)
      c.model.foreach(p.save(m, _))
      m
    }
    p.results(input, model, c.threshold, c.maxResults)
  }

  def main(args: Array[String]): Unit = parse(args.toIndexedSeq) match {
    case Left(err) =>
      System.err.println(s"error: $err\n$usage")
      sys.exit(2)
    case Right(c) =>
      val spark = GraftSession.fromEnv()
      // one output file only when the result is top-k bounded; an unbounded
      // (--maxresults -1) result keeps its partitioning.
      // sys.exit inside the catch would throw past the finally (the session
      // would only stop via the JVM shutdown hook) — record the code, let
      // try/finally complete, exit after.
      var exitCode = 0
      try Sinks.writeTsv(runAnalysis(spark, c), c.scored,
        singleFile = c.maxResults >= 0, sep = c.delimiter)
      catch {
        case e: org.apache.spark.sql.AnalysisException =>
          System.err.println(s"error: ${e.getMessage}")
          exitCode = 1
      } finally spark.stop()
      if (exitCode != 0) sys.exit(exitCode)
  }
}
