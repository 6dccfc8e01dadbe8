package perfbench

import org.apache.spark.sql.SparkSession

/** A benchmark workload. In one fresh JVM the harness calls
  * [[prepare]] (untimed: inputs into the run's own directory), then
  * [[setup]] in a fresh session with its own index root (timed as
  * setup_s), then [[load]] (untimed: the ground truth),
  * then [[run]] until the deadline, then [[finish]] before the output
  * checks run.
  */
trait Workload {
  def name: String

  /** The group whose operations define the latency metrics. */
  def latencyGroup: String = "read"

  /** Tail percentile: the highest one with at least ten samples beyond
    * it at the benchmark's fixed run length.
    */
  def tailPct: Double

  /** Copies the workload's inputs into the run directory. `spark`
    * starts a session only when a cached input must first be generated.
    */
  def prepare(ctx: Ctx, spark: () => SparkSession): Unit

  /** Cold set-up: everything before the first operation can run. */
  def setup(ctx: Ctx, spark: SparkSession): Unit

  /** Loads the ground truth and generates queries; untimed. */
  def load(ctx: Ctx, spark: SparkSession): Unit

  /** The closed loop: issues operations until `deadlineNs` (a batch
    * workload runs a fixed amount of work instead). Returns the
    * nanoseconds of the loop spent preparing inputs, which the
    * throughput excludes.
    */
  def run(ctx: Ctx, spark: SparkSession, deadlineNs: Long): Long

  /** Post-loop work outside the timed phase (for example a restart). */
  def finish(ctx: Ctx): Unit = ()

  /** Raw input bytes the index footprint is compared against. */
  def rawBytes: Double

  /** Workload-specific metrics printed with every run. */
  def report(ctx: Ctx): Unit = ()
}
