package graft.perfbench

import org.apache.spark.sql.SparkSession

import java.nio.file.Path
import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

/** One workload's contract with the runner. */
trait Workload {
  /** Build the workload's data, tables or indexes from scratch;
    * the runner times several repetitions and keeps the last one.
    */
  def setup(rep: Int): Unit
  /** Warm caches and JIT on the kept setup before timing (timed once). */
  def warmUp(): Unit
  /** One timed unit of closed-loop work (an epoch, round or iteration). */
  def unit(index: Int): Unit
  /** Units that repeat as a whole (a SQL round cycle ends in OPTIMIZE);
    * tracing is switched per cycle.
    */
  def unitsPerCycle: Int = 1
  /** Correctness checks after the timed phase. */
  def verify(): Unit
  /** The `bulk_rows_per_s` end-to-end metric over the timed units. */
  def bulkRowsPerSec: Double
  /** This workload's per-layer metrics (traced run only). */
  def layerMetrics(): Map[String, Double]
  /** Workload facts recorded in the run's environment line. */
  def env: Seq[(String, Any)] = Nil
  def close(): Unit
}

/** Shared state of one benchmark run: the session, the seed, latency
  * samples of the timed phase, the correctness tally, and the traced-run
  * instruments.
  */
final class Run(val spark: SparkSession, val workload: String, val seed: Long,
    val traced: Boolean, val work: Path, val out: Path) {

  val trace = new Trace(s"$workload-s$seed-${System.currentTimeMillis()}")
  val rollup: Option[SparkRollup] =
    if (traced) Some(new SparkRollup(spark.sparkContext)) else None

  /** True while the timed phase runs; only then are ops counted. */
  var timing = false

  var attempted = 0L
  var failed = 0L

  /** Latency samples (ms) of the timed phase, per op class. */
  val latency: mutable.Map[String, ArrayBuffer[Double]] =
    mutable.LinkedHashMap.empty[String, ArrayBuffer[Double]]
  val readClasses: mutable.Set[String] = mutable.LinkedHashSet.empty[String]
  val tracedReads = ArrayBuffer.empty[Double]
  val untracedReads = ArrayBuffer.empty[Double]
  /** Ops per class inside traced units (the denominators of spark.*). */
  val tracedOps: mutable.Map[String, Long] = mutable.Map.empty[String, Long].withDefaultValue(0L)

  /** Time one operation of class `cls`. */
  def op[T](cls: String, read: Boolean)(body: => T): T = {
    val sc = spark.sparkContext
    val classed = timing && trace.on
    if (classed) sc.setLocalProperty(SparkRollup.Key, cls)
    val t0 = System.nanoTime()
    val result =
      try trace("bench", cls)(body)
      finally if (classed) sc.setLocalProperty(SparkRollup.Key, null)
    val ms = (System.nanoTime() - t0) / 1e6
    if (timing) {
      attempted += 1
      latency.getOrElseUpdate(cls, ArrayBuffer.empty[Double]) += ms
      if (read) {
        readClasses += cls
        (if (trace.on) tracedReads else untracedReads) += ms
      }
      if (classed) tracedOps(cls) += 1
    }
    result
  }

  /** Record a correctness check; a failure counts as a failed op. Checks
    * made outside the timed phase also count as attempted ops.
    */
  def check(ok: Boolean, what: => String): Unit = {
    if (!timing) attempted += 1
    if (!ok) {
      failed += 1
      if (failed <= 20) System.err.println(s"perfbench MISMATCH [$workload]: $what")
    }
  }

  def samples(cls: String): Seq[Double] = latency.get(cls).map(_.toSeq).getOrElse(Nil)

  /** Write `text` under the run's output directory. */
  def save(name: String, text: String): Unit = {
    val p = out.resolve(name)
    java.nio.file.Files.createDirectories(p.getParent)
    java.nio.file.Files.writeString(p, text)
  }
}
