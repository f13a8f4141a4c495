package graft.pipelines

import graft.functions.Binning
import graft.operators.Quantiles
import graft.pipelines.SuspiciousConnects.Perspective
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The suspicious-connects dataflow applied to the generic `events` table
  * (event_id, ts, user_id, event_type, value, props): document = user,
  * word = eventType_hourBin_valueQuintile. This is the flagship end-to-end
  * query, runnable on the generated test tables.
  */
object EventsPipeline extends SuspiciousConnects {

  val name = "events"

  def validRows(events: DataFrame): DataFrame = events

  def cutSpecs: Seq[Quantiles.CutSpec] = Seq(
    Quantiles.CutSpec("hour", hour(col("ts")), Quantiles.Deciles),
    Quantiles.CutSpec("value", col("value"), Quantiles.Quintiles))

  def featurizeWithLookup(events: DataFrame, cuts: Cuts, popular: DataFrame): DataFrame =
    events
      .withColumn("ev_hour", hour(col("ts")).cast("double"))
      .withColumn("word", concat_ws("_",
        col("event_type"),
        Binning.binCol(col("ev_hour"), cuts("hour").toSeq),
        Binning.binCol(col("value"), cuts("value").toSeq)))

  val perspectives: Seq[Perspective] = Seq(Perspective("user_id", "word", "score"))

  def resultColumns(events: DataFrame): Seq[String] =
    Seq("event_id", "user_id", "event_type", "word", "score")

  override def tiebreakBy: Seq[Column] = Seq(col("event_id"))

  /** Pinned training-quality band: trained perplexity must stay below
    * this fraction of the uniform baseline. Derivation: the seeded,
    * deterministic trainer measures ratio 0.9818 on the sf0.01 gate
    * corpus (0.95-0.97 at sf0.001); the band sits at the midpoint
    * between healthy and uniform, so a HALF-degraded model — one the
    * old "≤ uniform" bound silently accepted — now flips the gate's
    * err non-null, while the healthy value keeps ~1% headroom. The
    * events corpus is deliberately flat (equal-mass bins), which is why
    * healthy sits so close to 1.0 here; pipelines with more corpus
    * structure pin far tighter (flow 0.71, proxy 0.92). */
  val PerplexityBand: Double = 0.991

  override def trainIterations: Int = 10
}
