package perfbench

import java.io.File

import org.apache.spark.sql.SparkSession

/** What every workload can see: the session, its seed, the core count
  * and its own scratch directory under the run's temp root.
  */
final class Ctx(val spark: SparkSession, val seed: Long, val cores: Int,
                val scratch: File, val checks: Checks)

/** A metric as reported: value and unit. */
final case class Metric(value: Double, unit: String)

/** One benchmark workload. The loop in [[Main]] calls `setup`
  * several times (each call rebuilds the inputs from the seed and
  * replaces what the previous call loaded), then `warmup` untimed, then
  * `unit` timed as many times as the run's seconds allow at
  * `unitSeconds` a unit. Every unit is the same fixed amount of work for
  * a given index.
  */
trait Workload {
  def ctx: Ctx
  def spark: SparkSession = ctx.spark
  def seed: Long = ctx.seed

  def setup(rec: Recorder): Unit

  /** How many times a run repeats `setup`; set-up time is their median. */
  def setupReps: Int = 3

  /** Fingerprint of the generated inputs: equal seeds must give equal
    * fingerprints.
    */
  def inputHash: Long

  /** One unit of work; returns the number of items (edges or
    * documents) it processed.
    */
  def unit(i: Int, rec: Recorder): Long

  /** Untimed work before measuring, so class loading, code generation
    * and JIT are done: one unit unless the workload has a cheaper way.
    */
  def warmup(i: Int, rec: Recorder): Unit = unit(i, rec)

  /** Warm-up units to run at the least, whatever time they take. */
  def warmupUnits: Int = 1

  /** Warm-up seconds to spend at the least. */
  def warmupSeconds: Double = 4.0

  /** About how long one unit takes on a 4-cpu box. A run times
    * `seconds / unitSeconds` units, rounded, at least one: the same work
    * in every run whatever the box's speed at the time, so a faster
    * moment does not add later, warmer units to the samples.
    */
  def unitSeconds: Double

  /** Name of the span whose durations give the latency metrics. */
  def latencySpan: String

  /** Time spent in engine calls, which the items processed divide. */
  def busySeconds(rec: Recorder): Double

  /** Checks that need the whole run (recall over all probes). */
  def finish(): Unit = ()

  /** The workload's own metrics under the names the benchmark doc uses,
    * computed from the untraced phase's spans.
    */
  def named(rec: Recorder, items: Long): Seq[(String, Metric)]

  /** Workload-specific layer metrics from the traced phase. */
  def layerMetrics(rec: Recorder, layers: SparkLayers, units: Int): Map[String, Double] = Map.empty

  /** Table-name suffix of the partitioned index whose partition reads
    * the traced run counts, if the workload has one.
    */
  def bucketTableSuffix: Option[String] = None
}

object Workload {
  val Names = Seq("edge_stream", "graph_snapshots", "graph_rounds", "dedup_index")

  def apply(name: String, ctx: Ctx): Workload = name match {
    case "edge_stream" => new EdgeStream(ctx)
    case "graph_snapshots" => new GraphSuite(ctx, rounds = false)
    case "graph_rounds" => new GraphSuite(ctx, rounds = true)
    case "dedup_index" => new DedupRounds(ctx)
    case other => throw new IllegalArgumentException(
      s"unknown workload '$other'; expected one of ${Names.mkString(", ")}")
  }
}
