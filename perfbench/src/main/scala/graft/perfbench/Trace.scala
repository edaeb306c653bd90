package graft.perfbench

import scala.collection.mutable.ArrayBuffer

/** In-memory span recorder for the traced run. A span brackets one call
  * from the benchmark into a layer's public function: layer, name, start,
  * end, parent span and run id. Spark jobs seen by [[SparkRollup]] are
  * attached afterwards as children of the innermost span that encloses
  * them, so a layer's self time excludes the Spark work it launched.
  * Nothing is written until [[write]] at the end of the run.
  */
final class Trace(val runId: String) {

  final class Span(val id: Int, val parent: Int, val layer: String,
      val name: String, val start: Long) {
    var end: Long = start
  }

  private val spans = ArrayBuffer.empty[Span]
  private var stack: List[Int] = Nil

  /** Whether spans are recorded right now; the runner toggles this per
    * timed unit so traced and untraced units interleave.
    */
  var on: Boolean = false

  def apply[T](layer: String, name: String)(body: => T): T =
    if (!on) body
    else {
      val s = new Span(spans.size, stack.headOption.getOrElse(-1), layer, name,
        System.nanoTime())
      spans += s
      stack = s.id :: stack
      try body
      finally {
        s.end = System.nanoTime()
        stack = stack.tail
      }
    }

  /** Durations (ms) of recorded spans with this layer and name. */
  def durationsMs(layer: String, name: String): Seq[Double] =
    spans.iterator.filter(s => s.layer == layer && s.name == name)
      .map(s => (s.end - s.start) / 1e6).toSeq

  // Offset from the listener's wall-clock milliseconds to nanoTime.
  private val nanoMinusMillis: Long =
    System.nanoTime() - System.currentTimeMillis() * 1000000L

  private def toNanos(ms: Long): Long = ms * 1000000L + nanoMinusMillis

  /** Spark jobs (wall-clock ms) as nano intervals with their parent span:
    * the innermost span open at the job's midpoint (job times have only
    * millisecond resolution), the job clipped to it. Jobs outside every
    * span belong to untraced units and are dropped.
    */
  private def attach(jobs: Seq[(Long, Long)]): Seq[(Long, Long, Int)] =
    jobs.flatMap { case (a, b) =>
      val (js, je) = (toNanos(a), toNanos(b))
      val mid = js / 2 + je / 2
      val open = spans.filter(s => s.start <= mid && mid <= s.end)
      if (open.isEmpty) None
      else {
        val p = open.maxBy(_.start)
        Some((math.max(js, p.start), math.min(je, p.end), p.id))
      }
    }

  /** Self time per layer in seconds, over every recorded span plus the
    * given Spark jobs as child spans; Spark's own entry is the union of the
    * attached job intervals.
    */
  def selfSeconds(jobs: Seq[(Long, Long)]): Map[String, Double] = {
    val kids = Array.fill(spans.size)(ArrayBuffer.empty[(Long, Long)])
    spans.foreach(s => if (s.parent >= 0) kids(s.parent) += ((s.start, s.end)))
    val attached = attach(jobs)
    attached.foreach { case (a, b, p) => kids(p) += ((a, b)) }
    val self = scala.collection.mutable.Map.empty[String, Double].withDefaultValue(0.0)
    spans.foreach { s =>
      val covered = unionLength(kids(s.id).toSeq, s.start, s.end)
      self(s.layer) += math.max(0L, s.end - s.start - covered) / 1e9
    }
    self("spark") += unionLength(attached.map(j => (j._1, j._2)), Long.MinValue, Long.MaxValue) / 1e9
    self.toMap
  }

  private def unionLength(iv: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1).foreach { case (a, b) =>
        if (a > curE) {
          if (curE > curS) total += curE - curS
          curS = a; curE = b
        } else curE = math.max(curE, b)
      }
    if (curE > curS) total += curE - curS
    total
  }

  /** One JSON object per span and per attached Spark job to `path`. */
  def write(path: java.nio.file.Path, jobs: Seq[(Long, Long)]): Unit = {
    val sb = new StringBuilder
    def line(id: Int, parent: Int, layer: String, name: String, s: Long, e: Long): Unit =
      sb.append(Json.obj(Seq("run" -> runId, "id" -> id, "parent" -> parent,
        "layer" -> layer, "name" -> name,
        "start_us" -> (s / 1000L), "end_us" -> (e / 1000L)))).append('\n')
    spans.foreach(s => line(s.id, s.parent, s.layer, s.name, s.start, s.end))
    attach(jobs).zipWithIndex.foreach { case ((a, b, p), i) =>
      line(spans.size + i, p, "spark", "job", a, b)
    }
    java.nio.file.Files.writeString(path, sb.toString)
  }
}
