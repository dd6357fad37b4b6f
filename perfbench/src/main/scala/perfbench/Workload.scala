package perfbench

import java.nio.file.Path

import org.apache.spark.sql.SparkSession

import graft.pipeline.Warehouse

/** One closed-loop workload: a single client issuing operations through
  * the engine's public entry points, on inputs generated from a seed.
  * The engine only ever sees the generated files.
  */
trait Workload {
  /** Operation kinds behind the gated `main_p50_ms` and `side_p50_ms`. */
  def mainKinds: Set[String]
  def sideKinds: Set[String]
  /** Untimed operations run after set-up so caches fill and code is
    * compiled before timing starts. */
  def warmup(rec: Recorder): Unit
  /** Operation seconds of one step on the reference machine (4-core VM).
    * A run takes `round(seconds / stepSeconds)` steps rather than stopping
    * on elapsed time, so every build performs the same operations on the
    * same growing state: a faster build finishes sooner instead of going
    * further. */
  def stepSeconds: Double

  /** Generates the inputs and seeds the warehouse under `dir`; runs
    * several times per process (each into a fresh `dir`) so set-up time
    * is a median. */
  def setup(spark: SparkSession, dir: Path, seed: Long): Unit
  /** One step of the closed loop: one or more operations via `rec`. */
  def step(rec: Recorder): Unit
  /** Root of everything the engine writes (storage accounting). */
  def warehouseDir: Path
  /** The warehouse the operations write, and its tables. */
  def warehouse: Warehouse
  def tables: Seq[String]
  /** Bytes of user data landed by timed operations so far. */
  def landedBytes: Long
  /** End-of-run output checks; each returned string is a failure. */
  def finalChecks(): Seq[String]
  /** Report-named end-to-end metrics specific to this workload, as
    * (name -> (value, unit)), from its timed operations. */
  def namedMetrics(ops: Seq[Op]): Seq[(String, (Double, String))]
  /** Workload-specific per-layer metrics (traced runs). */
  def layerMetrics(ops: Seq[Op], t: Tracer): Map[String, Double]
  /** Row and input counts of the workload's tables and landings. */
  def sizes(): Map[String, Any]
}
