package perfbench

import org.apache.spark.sql.SparkSession

/** Everything a workload needs from the run: the session, where it may
  * write, its seed, and the tracer its ops report spans to.
  */
final case class Ctx(spark: SparkSession, root: java.nio.file.Path,
    work: java.nio.file.Path, seed: Long, cores: Int, tracer: Tracer,
    attribution: Attribution)

/** One closed-loop workload: one client issuing `op`s back to back.
  *
  * `generate` makes the inputs from the seed and is repeatable (set-up
  * time is its median over several calls plus `warm`). `op` is the timed
  * unit and returns the items it completed; `check` validates the op's
  * output against an oracle outside the timed region.
  */
trait Workload {
  def name: String
  def itemUnit: String
  /** Ops that form one unit of the workload mix; a run measures whole
    * rounds so every run measures the same mix.
    */
  def opsPerRound: Int = 1
  /** Nominal seconds of one round on a 4-core box. A run of `--seconds s`
    * measures ceil(s / roundSeconds) rounds, a count fixed by `s` alone, so
    * every run measures the same amount of work whatever the box's speed.
    */
  def roundSeconds: Double
  /** Ops traced (and as many untraced) in a traced run. */
  def traceOps: Int
  /** Whether the `i`th op of a traced run is traced: untraced, traced,
    * traced, untraced, ... so a warm-up trend favours neither side.
    */
  def traced(i: Int): Boolean = i % 4 == 1 || i % 4 == 2

  /** Op `i`'s label in the run summary. */
  def opName(i: Int): String = Workload.opId(i)

  def generate(): Unit
  def warm(): Unit
  /** Untimed preparation of op `i`'s inputs. */
  def before(i: Int): Unit = ()
  def op(i: Int): Long
  def check(i: Int): Either[String, Unit]

  /** Per-layer metrics of a traced op, after the bus is drained, with the
    * op's layer self seconds (these plus `trace.unattributed_s` make the
    * op's wall time).
    */
  def layers(i: Int, id: String, wall: Double): Layers
  /** Whole-run per-layer metrics (e.g. landed bytes over input bytes). */
  def runLayers(): Map[String, Double] = Map.empty
  /** Stops whatever the workload left running (a streaming query). */
  def close(): Unit = ()
}

object Workload {
  /** The id op `i`'s spans and jobs are recorded under. */
  def opId(i: Int): String = s"op-$i"
}

final case class Layers(metrics: Map[String, Double], selfSeconds: Double)
