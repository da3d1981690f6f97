package perfbench

import java.nio.file.Path

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec

/** What an op handed back, checked after its timer stopped. `NoopSink`
 * delivered to the `noop` sink; its row count comes from Spark's task
 * metrics. `Checked` carries the result of comparing collected output with
 * the closed-form expectation (None = correct). */
sealed trait Delivered
case object NoopSink extends Delivered
final case class Checked(error: Option[String]) extends Delivered

/** One timed call. `points` is the expected number of whisper points the
 * scan delivers after filtering. `headline` ops make up the workload's
 * per-op latency (`op_p50_s`). */
final case class Op(
    kind: String,
    key: String,
    headline: Boolean,
    points: Long,
    sorted: Boolean,
    files: Seq[String],
    patterns: Seq[String],
    archives: Option[Set[Int]],
    gzip: Boolean,
    run: Ctx => Delivered)

/** Handles an op's code uses to mark its calls into layers. Untraced, each
 * is a plain call. */
final class Ctx(val spark: SparkSession, val tracer: Tracer, val opId: String) {

  /** Build the DataFrame: path resolution, listing, header reads and
   * Catalyst's analysis. */
  def load[T](body: => T): T = tracer.span("whisper.io", "load", opId) {
    loadSpan = tracer.current
    body
  }
  private var loadSpan = -1

  /** Force physical planning (traced runs only; the action plans anyway)
   * and record Catalyst's own phase times under the span they ran in:
   * analysis under the load, the rest under the planning span. */
  def plan(df: DataFrame): Unit =
    if (tracer.enabled) {
      val qe = df.queryExecution
      val planStartNs = System.nanoTime()
      tracer.span("whisper.scan", "plan", opId)(qe.executedPlan)
      val planSpan = tracer.lastId
      val skewNs = System.nanoTime() - System.currentTimeMillis() * 1000000L
      qe.tracker.phases.foreach { case (phase, s) =>
        val start = s.startTimeMs * 1000000L + skewNs
        tracer.record("spark.sql", phase, opId, start, s.endTimeMs * 1000000L + skewNs,
          parent = if (start < planStartNs && loadSpan >= 0) loadSpan else planSpan)
      }
      lastPlan = Some(Ctx.physical(qe.executedPlan))
    }

  /** The action that moves the data. */
  def run[T](body: => T): T = tracer.span("spark.exec", "run", opId) {
    runSpan = tracer.current
    body
  }
  private var runSpan = -1

  /** Record a finished streaming query's progress: its phase durations
   * become spans under the action's span. */
  def streamed(progress: Seq[org.apache.spark.sql.streaming.StreamingQueryProgress]): Unit = {
    streamProgress = progress
    if (tracer.enabled) {
      var at = System.nanoTime()
      for (p <- progress; (phase, ms) <- Seq("latestOffset", "queryPlanning", "addBatch", "walCommit",
          "commitOffsets").map(k => k -> Option(p.durationMs.get(k)).map(_.longValue).getOrElse(0L))) {
        tracer.record("whisper.stream", phase, opId, at, at + ms * 1000000L, parent = runSpan)
        at += ms * 1000000L
      }
    }
  }

  /** Physical plan seen by [[plan]] in this op (traced runs). */
  var lastPlan: Option[SparkPlan] = None

  /** Progress of the op's streaming query (traced runs). */
  var streamProgress: Seq[org.apache.spark.sql.streaming.StreamingQueryProgress] = Nil
}

object Ctx {
  /** The current physical plan, looking through AQE's wrapper. */
  def physical(p: SparkPlan): SparkPlan = p match {
    case a: AdaptiveSparkPlanExec => a.executedPlan
    case other                    => other
  }
}

/** A benchmark workload: seeded fixtures plus a fixed-composition cycle of
 * ops whose parameters and order come from the seed. */
trait Workload {
  def name: String

  /** Synthesize and validate the fixtures under `dir` (a fresh directory
   * on every call). Returns fixture facts for the run record. */
  def setup(dir: Path): Map[String, Any]

  /** Set-up work done once, after the last [[setup]] (e.g. a derived
   * fixture). Returns extra fixture facts. */
  def setupOnce(): Map[String, Any] = Map.empty

  /** Whole cycles run untimed before the timed loop, so the JIT has
   * settled by the first timed op. */
  def warmupCycles: Int

  /** About how long one cycle takes on a 4-core box; the timed loop runs
   * `round(seconds / cycleSeconds)` cycles, a fixed op count for a given
   * run length. */
  def cycleSeconds: Double

  /** The ops of cycle `c` (c >= 1; the first are the warm-up). */
  def cycle(c: Int): Seq[Op]

  /** Work done before each cycle's ops (e.g. a writer flushing points);
   * part of the loop's wall time but not an op. */
  def beforeCycle(c: Int): Unit = ()

  /** Untimed output checks that run once per run after the timed loop,
   * one per distinct op key seen; each returns an error or None. */
  def checksums(keys: Seq[String]): Seq[(String, Option[String])]
}
