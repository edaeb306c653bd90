package graft.perfbench

import org.apache.spark.sql.SparkSession

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

/** Benchmark entry point:
  * {{{
  *   Main --workload <kv_serve|sql_mixed|pipeline> --seed <n> --seconds <s>
  *        --trace <0|1> --cores <n> --work <dir> --out <dir>
  * }}}
  * Starts a `local[cores]` session, sets the workload up [[SetupReps]]
  * times and warms it up, runs whole timed units of one closed-loop client until `seconds`
  * have passed, checks the answers, and prints one JSON result as the last
  * line of stdout (end-to-end metrics untraced, per-layer metrics traced).
  */
object Main {

  val SetupReps = 3

  def main(argv: Array[String]): Unit =
    try run(argv)
    catch {
      case e: Throwable =>
        // Spark's non-daemon threads would keep a failed run alive.
        e.printStackTrace()
        sys.exit(1)
    }

  private def run(argv: Array[String]): Unit = {
    val args = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = args("workload")
    require(Catalog.Workloads.contains(workload), s"unknown workload $workload")
    val seed = args("seed").toLong
    val seconds = args("seconds").toDouble
    val traced = args("trace") == "1"
    val cores = args("cores").toInt
    val work = Paths.get(args("work")).toAbsolutePath
    val out = Paths.get(args("out")).toAbsolutePath
    Files.createDirectories(out)

    val spark = session(cores, work)
    // JVM start to a session that has run a query
    spark.range(1).count()
    val sessionStartS = ManagementFactory.getRuntimeMXBean.getUptime / 1000.0

    val run = new Run(spark, workload, seed, traced, work, out)
    val w: Workload = workload match {
      case Catalog.KV => new KvServe(run)
      case Catalog.SQL => new SqlMixed(run)
      case Catalog.PIPE => new Pipeline(run)
    }
    val setupS = (0 until SetupReps).map { rep =>
      val t0 = System.nanoTime()
      w.setup(rep)
      (System.nanoTime() - t0) / 1e9
    }
    val w0 = System.nanoTime()
    w.warmUp()
    val warmUpS = (System.nanoTime() - w0) / 1e9

    val gcBefore = gcMillis()
    run.timing = true
    val t0 = System.nanoTime()
    var units = 0
    var tracedWallS = 0.0
    val unitS = scala.collection.mutable.ArrayBuffer.empty[Double]
    // Whole cycles only (a run that stopped mid-cycle would weigh the
    // cycle's positions unevenly); traced runs alternate traced and
    // untraced cycles.
    val minUnits = w.unitsPerCycle * (if (traced) 2 else 1)
    while (units < minUnits || units % w.unitsPerCycle != 0 ||
        (System.nanoTime() - t0) / 1e9 < seconds) {
      run.trace.on = traced && (units / w.unitsPerCycle) % 2 == 0
      val u0 = System.nanoTime()
      w.unit(units)
      unitS += (System.nanoTime() - u0) / 1e9
      if (run.trace.on) tracedWallS += unitS.last
      units += 1
    }
    run.trace.on = false
    val timedS = (System.nanoTime() - t0) / 1e9
    val gcMs = gcMillis() - gcBefore
    run.timing = false
    val heapReadings = retainedHeapMb()
    val heapMb = heapReadings.last

    w.verify()

    val metrics: Seq[(String, Double)] =
      if (!traced) Seq(
        "setup_s" -> (sessionStartS + Stats.median(setupS) + warmUpS),
        "heap_retained_mb" -> heapMb,
        "bulk_rows_per_s" -> w.bulkRowsPerSec,
        "read_p50_ms" -> readGeoMean(run),
        "read_class_p50_ratio" -> readClassRatio(run))
      else {
        val layer = w.layerMetrics() ++ sparkMetrics(run) ++
          traceMetrics(run, tracedWallS) + ("jvm.driver_gc_ms_per_s" -> gcMs / timedS)
        Catalog.perLayer.map { m =>
          m.name -> layer.getOrElse(m.name, {
            require(!m.workloads.contains(workload), s"$workload did not report ${m.name}")
            0.0
          })
        }
      }

    val env = Seq("workload" -> workload, "seed" -> seed, "trace" -> (if (traced) 1 else 0),
      "nproc" -> cores, "master" -> spark.sparkContext.master,
      "driver_heap_mb" -> Runtime.getRuntime.maxMemory / (1024 * 1024),
      "java" -> System.getProperty("java.version"), "spark" -> spark.version,
      "seconds" -> seconds, "timed_s" -> timedS, "units" -> units, "unit_s" -> unitS.toSeq,
      "heap_readings_mb" -> heapReadings,
      "session_start_s" -> sessionStartS, "setup_reps_s" -> setupS, "warm_up_s" -> warmUpS,
      "clients" -> 1, "loop" -> "closed",
      "samples" -> run.latency.map { case (c, xs) => c -> xs.size }.toMap,
      "p50_ms" -> run.latency.map { case (c, xs) => c -> Stats.median(xs) }.toMap) ++ w.env
    val result = Json.obj(Seq("correct" -> (run.failed == 0),
      "attempted" -> run.attempted, "failed" -> run.failed,
      "metrics" -> metrics.map { case (k, v) =>
        val unit = Catalog.forMode(traced).find(_.name == k).get.unit
        k -> Map("value" -> v, "unit" -> unit)
      }.toMap))
    val tag = s"$workload-s$seed-t${if (traced) 1 else 0}"
    run.save(s"result-$tag.json",
      Json.obj(Seq("env" -> env.toMap, "result" -> Json.Raw(result),
        "latency_ms" -> run.latency.map { case (c, xs) => c -> xs.toSeq }.toMap)) + "\n")
    if (traced) run.trace.write(out.resolve(s"trace-$tag.jsonl"),
      run.rollup.map(_.jobs).getOrElse(Nil))

    w.close()
    run.rollup.foreach(_.stop())
    spark.stop()
    println("env " + Json.obj(env))
    println(result)
  }

  /** Geometric mean over the read classes of each class's median: every
    * class counts once however many reads it had, so the figure does not
    * jump between the classes' latency clusters from run to run.
    */
  private def readGeoMean(run: Run): Double = {
    val ps = run.readClasses.toSeq.map(c => Stats.median(run.samples(c)))
    math.exp(ps.map(math.log).sum / ps.size)
  }

  /** Power mean, exponent [[ClassPowerMean]], over the read classes of each
    * class's median divided by its reference median ([[Catalog.RefP50Ms]]).
    * It sits near the largest ratio, so one slower class moves it nearly as
    * much as the maximum would, yet it is about as steady as the geometric
    * mean: over three ten-run sets of sql_mixed its spread was 0.09-0.23, the
    * maximum's 0.14-0.25, with a class median taken from four samples.
    */
  private def readClassRatio(run: Run): Double = {
    val rs = run.readClasses.toSeq.map(c => Stats.median(run.samples(c)) / ref(run, c))
    math.pow(rs.map(math.pow(_, ClassPowerMean)).sum / rs.size, 1.0 / ClassPowerMean)
  }

  private val ClassPowerMean = 8.0

  private def ref(run: Run, cls: String): Double =
    Catalog.RefP50Ms.getOrElse((run.workload, cls),
      throw new IllegalStateException(s"no reference median for ${run.workload}/$cls"))

  def session(cores: Int, work: Path): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graft-perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.extensions", "graft.sources.GraftExtensions")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("spark-warehouse").toString)
      .config("spark.hadoop.hadoop.tmp.dir", work.resolve("hadoop-tmp").toString)
      .config("spark.sql.catalog.graft", "graft.sources.GraftCatalog")
      .config("spark.sql.catalog.graft.warehouse", work.resolve("warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  private def gcMillis(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(b => math.max(0L, b.getCollectionTime)).sum

  /** Live heap after each of three full collections: the heap pools' usage
    * as the collection left it (not the current usage, which also counts
    * what Spark's background threads allocated since). The pauses let
    * Spark's cleaner drop the broadcast and shuffle state that the previous
    * collection freed; the last reading is reported.
    */
  private def retainedHeapMb(): Seq[Double] = (1 to 3).map { _ =>
    Thread.sleep(300); System.gc()
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
      .flatMap(p => Option(p.getCollectionUsage)).map(_.getUsed).sum / (1024.0 * 1024.0)
  }

  /** spark.* metrics from the listener, per op of the traced units. */
  private def sparkMetrics(run: Run): Map[String, Double] = run.rollup match {
    case None => Map.empty
    case Some(r) =>
      val ops = run.tracedOps.values.sum.toDouble
      val reads = run.readClasses.toSeq.map(run.tracedOps).sum.toDouble
      val all = r.totals(run.tracedOps.keys)
      val rd = r.totals(run.readClasses)
      Map(
        "spark.jobs_per_read" -> Stats.ratio(rd.jobs, reads),
        "spark.tasks_per_read" -> Stats.ratio(rd.tasks, reads),
        "spark.jobs_per_op" -> Stats.ratio(all.jobs, ops),
        "spark.tasks_per_op" -> Stats.ratio(all.tasks, ops),
        "spark.executor_cpu_ms_per_op" -> Stats.ratio(all.cpuNs / 1e6, ops),
        "spark.gc_ms_per_op" -> Stats.ratio(all.gcMs, ops),
        "spark.shuffle_write_bytes_per_op" -> Stats.ratio(all.shuffleWrite, ops),
        "spark.shuffle_read_bytes_per_op" -> Stats.ratio(all.shuffleRead, ops),
        "spark.spill_bytes_per_op" -> Stats.ratio(all.spill, ops),
        "spark.input_bytes_per_op" -> Stats.ratio(all.input, ops))
  }

  /** Self-time shares over the traced units, and the tracing overhead. */
  private def traceMetrics(run: Run, tracedWallS: Double): Map[String, Double] = {
    val self = run.trace.selfSeconds(run.rollup.map(_.jobs).getOrElse(Nil))
    val shares = Catalog.ProgramLayers.map(l =>
      s"trace.${l}_self_share" -> Stats.ratio(self.getOrElse(l, 0.0), tracedWallS)).toMap
    val overhead =
      if (run.tracedReads.isEmpty || run.untracedReads.isEmpty) 0.0
      else (Stats.median(run.tracedReads) / Stats.median(run.untracedReads) - 1) * 100
    shares ++ Map(
      "trace.reads" -> run.tracedReads.size.toDouble,
      "trace.unattributed_share" -> (1.0 - shares.values.sum),
      "trace.overhead_pct" -> overhead)
  }
}
