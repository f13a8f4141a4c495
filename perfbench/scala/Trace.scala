package perfbench

import org.apache.spark.scheduler._

import scala.collection.mutable

/** Spans and Spark task counters of the traced pass.
  *
  * A span is one call into a layer (name, start, end, parent, run id), kept
  * in memory and written as JSON when the workload ends. Each span tags its
  * Spark jobs with `setJobGroup(layer)`; [[TaskCounters]] attributes every
  * finished task to the group of the job that ran it. */
object Trace {

  final case class Span(name: String, startNs: Long, endNs: Long,
                        parent: String, run: String) {
    def seconds: Double = (endNs - startNs) / 1e9
  }

  /** The pipeline's layers, in the order a run composes them. */
  val Layers: Seq[String] = Seq("session", "sources", "quantiles", "corpus",
    "topicmodel", "modelio", "scoring", "sinks")

  final class Recorder(sc: org.apache.spark.SparkContext, run: String) {
    val spans = mutable.ArrayBuffer.empty[Span]

    /** Runs `body` as one call into `layer`; every span's parent is the
      * traced run. */
    def span[T](layer: String)(body: => T): T = {
      sc.setJobGroup(layer, s"perfbench $run $layer", interruptOnCancel = false)
      val t0 = System.nanoTime()
      try body
      finally {
        spans += Span(layer, t0, System.nanoTime(), "run", run)
        sc.clearJobGroup()
      }
    }

    def wall(layer: String): Double =
      spans.filter(_.name == layer).map(_.seconds).sum
  }

  final case class TaskRec(launch: Long, finish: Long, runMs: Long, cpuNs: Long,
                           gcMs: Long, shuffleBytes: Long, spillBytes: Long,
                           inRows: Long, inBytes: Long, failed: Boolean)

  /** Per-group task counters. Listener callbacks arrive on Spark's bus
    * thread; readers call [[org.apache.spark.PerfbenchBus.drain]] first. */
  final class TaskCounters extends SparkListener {
    private val stageGroup = mutable.HashMap.empty[Int, String]
    private val jobs = mutable.HashMap.empty[String, Int].withDefaultValue(0)
    private val tasks = mutable.HashMap.empty[String, mutable.ArrayBuffer[TaskRec]]

    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      val g = Option(e.properties).flatMap(p =>
        Option(p.getProperty("spark.jobGroup.id"))).getOrElse("none")
      jobs(g) += 1
      e.stageIds.foreach(stageGroup(_) = g)
    }

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      val g = stageGroup.getOrElse(e.stageId, "none")
      val m = Option(e.taskMetrics)
      val info = e.taskInfo
      tasks.getOrElseUpdate(g, mutable.ArrayBuffer.empty) += TaskRec(
        info.launchTime, info.finishTime,
        m.map(_.executorRunTime).getOrElse(0L),
        m.map(_.executorCpuTime).getOrElse(0L),
        m.map(_.jvmGCTime).getOrElse(0L),
        m.map(_.shuffleWriteMetrics.bytesWritten).getOrElse(0L),
        m.map(x => x.memoryBytesSpilled + x.diskBytesSpilled).getOrElse(0L),
        m.map(_.inputMetrics.recordsRead).getOrElse(0L),
        m.map(_.inputMetrics.bytesRead).getOrElse(0L),
        !info.successful)
    }

    def reset(): Unit = synchronized { jobs.clear(); tasks.clear() }

    def jobCount(g: String): Int = synchronized(jobs(g))

    def taskRecs(g: String): Seq[TaskRec] =
      synchronized(tasks.get(g).map(_.toList).getOrElse(Nil))
  }

  /** Length of the union of [launch, finish) intervals, seconds. */
  def busySeconds(ts: Seq[TaskRec]): Double = {
    var busy = 0L
    var end = Long.MinValue
    for (t <- ts.sortBy(_.launch)) {
      if (t.launch >= end) { busy += t.finish - t.launch; end = t.finish }
      else if (t.finish > end) { busy += t.finish - end; end = t.finish }
    }
    busy / 1e3
  }

  /** The twelve counters of one layer. */
  def layerCounters(layer: String, wall: Double, ts: Seq[TaskRec],
                    jobs: Int): Seq[(String, Double)] = {
    val busy = busySeconds(ts)
    val times = ts.map(t => (t.finish - t.launch).toDouble).sorted
    val skew = if (times.isEmpty) 0.0 else {
      val n = times.size
      val median = if (n % 2 == 1) times(n / 2) else (times(n / 2 - 1) + times(n / 2)) / 2
      times.last / math.max(median, 1.0)
    }
    Seq(
      "wall_s" -> wall,
      "busy_s" -> busy,
      "idle_s" -> math.max(wall - busy, 0.0),
      "task_s" -> ts.map(_.runMs).sum / 1e3,
      "cpu_s" -> ts.map(_.cpuNs).sum / 1e9,
      "gc_s" -> ts.map(_.gcMs).sum / 1e3,
      "jobs" -> jobs.toDouble,
      "tasks" -> ts.size.toDouble,
      "shuffle_bytes" -> ts.map(_.shuffleBytes).sum.toDouble,
      "spill_bytes" -> ts.map(_.spillBytes).sum.toDouble,
      "failed_tasks" -> ts.count(_.failed).toDouble,
      "skew" -> skew
    ).map { case (k, v) => s"$layer.$k" -> v }
  }

  def spansJson(spans: Seq[Span]): String = spans.map { s =>
    Json.obj(Seq("name" -> Json.str(s.name), "start_ns" -> s.startNs.toString,
      "end_ns" -> s.endNs.toString, "parent" -> Json.str(s.parent),
      "run" -> Json.str(s.run)))
  }.mkString("[\n", ",\n", "\n]\n")
}

/** Minimal JSON rendering for the harness's result file. */
object Json {
  def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)

  def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}: $v" }.mkString("{", ", ", "}")

  def arr(vs: Seq[String]): String = vs.mkString("[", ", ", "]")
}
