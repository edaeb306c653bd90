package graft.perfbench

import graft.mergetree.{KVRow, MergeTreeConfig, MergeTreeTable}
import graft.perfbench.Gen.{Get, KvOp, Put, Scan}

import scala.collection.mutable.ArrayBuffer

/** kv_serve: the reference client's write shape through `MergeTreeTable`
  * (insert, flush every 1,000 rows, `maxParts` 10, `mergePartsSync()`
  * whenever `partCount > maxParts`) with seeded point lookups and narrow
  * range scans between writes. A timed unit is one epoch: a fresh table
  * receiving [[Rows]] puts, so every epoch sees the same table sizes and
  * merge costs however fast the engine runs. Every read is compared with
  * an in-memory model of the table.
  */
final class KvServe(run: Run) extends Workload {
  import KvServe._

  private val maxParts = 10
  private val config = MergeTreeConfig(memtableFlushThreshold = 1000, maxParts = maxParts)
  private var tables = 0

  // traced-unit instruments
  private val insertUs = ArrayBuffer.empty[Double]
  private val flushMs = ArrayBuffer.empty[Double]
  private var tracedEpochs = 0
  private var flushBytes = 0L
  private var createdBytes = 0L
  private val spaceAmp = ArrayBuffer.empty[Double]
  private val partsLive = ArrayBuffer.empty[Double]
  private val cacheRows = ArrayBuffer.empty[Double]
  private val scanRows = ArrayBuffer.empty[Double]
  private var localReads = 0L
  private var tracedReads = 0L

  private var ingestRows = 0L

  def setup(rep: Int): Unit =
    epoch(Gen.kvEpoch(run.seed, -1 - rep, Rows / 4, KeySpace, ReadEvery))

  /** [[WarmUpEpochs]] full-size epochs, so the timed epochs run JIT-compiled
    * code (merge times keep falling through the first two).
    */
  def warmUp(): Unit = (1 to WarmUpEpochs).foreach { i =>
    epoch(Gen.kvEpoch(run.seed, -i - Main.SetupReps, Rows, KeySpace, ReadEvery))
  }

  def unit(index: Int): Unit =
    epoch(Gen.kvEpoch(run.seed, index, Rows, KeySpace, ReadEvery))

  private def epoch(ops: Vector[KvOp]): Unit = {
    tables += 1
    val dir = run.work.resolve(s"kv/t$tables")
    val t = MergeTreeTable.create(run.spark, dir.toString, config)
    val model = new KvModel
    val traced = run.timing && run.trace.on
    var known: Set[Long] = Set.empty

    def newPartBytes(): Long = {
      val ps = t.parts
      val fresh = ps.filterNot(p => known.contains(p.partId))
      known = ps.map(_.partId).toSet
      fresh.map(_.diskSize).sum
    }
    def maybeMerge(): Unit = if (t.partCount > maxParts) {
      run.op("merge", read = false)(run.trace("mergetree", "merge")(t.mergePartsSync()))
      if (traced) createdBytes += newPartBytes()
    }
    def flushed(ms: Double): Unit = if (traced) {
      flushMs += ms
      val b = newPartBytes()
      flushBytes += b; createdBytes += b
    }

    ops.foreach {
      case Put(k, v, ts) =>
        val t0 = System.nanoTime()
        run.op("insert", read = false)(run.trace("mergetree", "insert")(t.insert(k, v, ts)))
        val d = System.nanoTime() - t0
        model.put(k, v, ts)
        if (run.timing) ingestRows += 1
        if (traced) {
          if (t.memtableSize == 0) flushed(d / 1e6) else insertUs += d / 1e3
        }
        maybeMerge()
      case Get(k) =>
        val rows = run.op("lookup", read = true)(run.trace("mergetree", "lookup")(t.queryRows(k, k)))
        run.check(rows == model.range(k, k), s"lookup $k: ${rows.size} rows")
        if (traced) sampleRead(t)
      case Scan(lo, hi) =>
        val rows = run.op("scan", read = true)(run.trace("mergetree", "scan")(t.queryRows(lo, hi)))
        run.check(rows == model.range(lo, hi), s"scan [$lo, $hi]: ${rows.size} rows")
        if (traced) { sampleRead(t); scanRows += rows.size }
    }
    // the reference client's closing flush_memtable(), a flush only when
    // the memtable holds rows
    if (t.memtableSize > 0) {
      val t0 = System.nanoTime()
      run.op("flush", read = false)(run.trace("mergetree", "flush")(t.flush()))
      flushed((System.nanoTime() - t0) / 1e6)
      maybeMerge()
    }
    if (traced) {
      tracedEpochs += 1
      spaceAmp += t.diskUsage.toDouble / model.rawBytes
    }
    val all = t.fullScan().collect().toSeq
    run.check(all == model.range("", "\uffff"), s"full scan: ${all.size} rows")
    t.shutdown()
    deleteTree(dir)
  }

  private def sampleRead(t: MergeTreeTable): Unit = {
    tracedReads += 1
    if (t.lastScanLocal) localReads += 1
    partsLive += t.partCount
    cacheRows += t.localCacheStats._2.toDouble
  }

  def verify(): Unit = ()

  def bulkRowsPerSec: Double = {
    val s = (run.samples("insert") ++ run.samples("flush") ++ run.samples("merge")).sum / 1e3
    Stats.ratio(ingestRows, s)
  }

  def layerMetrics(): Map[String, Double] = {
    val epochs = math.max(1, tracedEpochs).toDouble
    val mergeMs = run.trace.durationsMs("mergetree", "merge")
    Map(
      "mergetree.insert_us_p50" -> Stats.median(insertUs),
      "mergetree.flush_count" -> flushMs.size / epochs,
      "mergetree.flush_ms_p50" -> Stats.median(flushMs),
      "mergetree.flush_ms_total" -> flushMs.sum / epochs,
      "mergetree.merge_count" -> mergeMs.size / epochs,
      "mergetree.merge_ms_p50" -> Stats.median(mergeMs),
      "mergetree.merge_ms_max" -> (if (mergeMs.isEmpty) 0.0 else mergeMs.max),
      "mergetree.merge_ms_total" -> mergeMs.sum / epochs,
      "mergetree.write_amp" -> Stats.ratio(createdBytes, flushBytes),
      "mergetree.space_amp" -> Stats.mean(spaceAmp),
      "mergetree.parts_live_mean" -> Stats.mean(partsLive),
      "mergetree.local_share" -> Stats.ratio(localReads, tracedReads),
      "mergetree.cache_rows" -> Stats.mean(cacheRows),
      "mergetree.rows_per_scan" -> Stats.mean(scanRows),
      "mergetree.lookup_ms_p50" -> Stats.median(run.trace.durationsMs("mergetree", "lookup")),
      "mergetree.lookup_ms_p99" -> Stats.pct(run.trace.durationsMs("mergetree", "lookup"), 99),
      "mergetree.scan_ms_p50" -> Stats.median(run.trace.durationsMs("mergetree", "scan")),
      "mergetree.scan_ms_p99" -> Stats.pct(run.trace.durationsMs("mergetree", "scan"), 99))
  }

  def close(): Unit = deleteTree(run.work.resolve("kv"))
}

object KvServe {
  /** Puts per epoch; the reference client's key space for this size. */
  val Rows = 20000
  val KeySpace = 10000
  /** About one read per this many puts. */
  val ReadEvery = 25
  val WarmUpEpochs = 2

  def deleteTree(p: java.nio.file.Path): Unit =
    if (java.nio.file.Files.exists(p)) {
      val s = java.nio.file.Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder()).forEach(x => java.nio.file.Files.delete(x))
      finally s.close()
    }
}

/** The benchmark's own model of a kv table: (key, timestamp) -> value,
  * keeping max(value) when a (key, timestamp) is written twice, read back
  * in (key, timestamp) order like the engine's scans.
  */
final class KvModel {
  private val rows = new java.util.TreeMap[String, java.util.TreeMap[java.lang.Long, String]]()
  private var bytes = 0L

  def put(k: String, v: String, ts: Long): Unit = {
    val m = rows.computeIfAbsent(k, _ => new java.util.TreeMap[java.lang.Long, String]())
    val old = m.get(ts)
    if (old == null) {
      m.put(ts, v)
      bytes += k.length + v.length + 8
    } else if (v > old) {
      m.put(ts, v)
      bytes += v.length - old.length
    }
  }

  /** Raw bytes of the live rows (key + value + 8-byte timestamp). */
  def rawBytes: Double = bytes.toDouble

  def range(lo: String, hi: String): Seq[KVRow] =
    if (lo > hi) Nil
    else {
      val out = ArrayBuffer.empty[KVRow]
      rows.subMap(lo, true, hi, true).forEach((k, m) =>
        m.forEach((ts, v) => out += KVRow(k, v, ts)))
      out.toSeq
    }
}
