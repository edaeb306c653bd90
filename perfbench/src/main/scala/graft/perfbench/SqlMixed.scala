package graft.perfbench

import graft.mergetree.ColumnarMergeTree
import graft.perfbench.Gen.{Line, Order, Stmt}

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.FormattedMode
import org.apache.spark.sql.functions._

import java.time.LocalDate
import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

/** sql_mixed: ClickHouse-dialect SQL through `GraftCatalog` against a
  * `mode 'replacing'` lineitem-shaped table. A timed unit is one round:
  * the six-class SELECT mix (key lookups three times, as the most frequent
  * request) and one INSERT of a version batch; every [[RoundsPerCycle]]-th
  * round ends in `OPTIMIZE TABLE ... FINAL`, so the live part count cycles
  * from 1 to [[RoundsPerCycle]] + 1. Key lookups,
  * key-range aggregates and FINAL aggregates are checked against the
  * benchmark's model on every call; after the timed phase the FINAL and
  * aggregate answers are compared with plain Spark over the source rows.
  */
final class SqlMixed(run: Run) extends Workload {
  import SqlMixed._

  private val spark = run.spark
  private val tablePath = run.work.resolve("warehouse/b/li")

  // model: latest version per key, and every version currently stored
  private var keys: IndexedSeq[(Long, Int)] = IndexedSeq.empty
  private val latest = mutable.HashMap.empty[(Long, Int), Line]
  private val stored = mutable.HashMap.empty[(Long, Int), List[Line]]
  private val finalAgg = mutable.TreeMap.empty[(String, String), Array[Long]]
  private val history = ArrayBuffer.empty[Line]
  private var orders: Vector[Order] = Vector.empty
  private var nCust = 1

  private var table: ColumnarMergeTree = _

  // traced-unit instruments
  private val exchanges = ArrayBuffer.empty[Double]
  private val finalBefore = ArrayBuffer.empty[Double]
  private val finalAfter = ArrayBuffer.empty[Double]
  private val partsLive = ArrayBuffer.empty[Double]
  private val readPerReturned = ArrayBuffer.empty[Double]
  private val planSaved = mutable.Set.empty[String]

  def setup(rep: Int): Unit = {
    spark.sql(s"DROP TABLE IF EXISTS ${Gen.Table}")
    spark.sql(s"DROP TABLE IF EXISTS ${Gen.OrdersTable}")
    spark.sql(s"CREATE TABLE ${Gen.Table} (l_orderkey BIGINT, l_linenumber INT, " +
      "l_partkey BIGINT, l_suppkey BIGINT, l_quantity BIGINT, l_extendedprice BIGINT, " +
      "l_discount INT, l_shipdate DATE, l_returnflag STRING, l_linestatus STRING, " +
      "ver BIGINT) USING mergetree OPTIONS (orderBy 'l_orderkey,l_linenumber', " +
      "mode 'replacing', keys 'l_orderkey,l_linenumber', version 'ver')")
    spark.sql(s"CREATE TABLE ${Gen.OrdersTable} (o_orderkey BIGINT, o_custkey BIGINT, " +
      "o_orderpriority STRING) USING mergetree OPTIONS (orderBy 'o_orderkey')")
    latest.clear(); stored.clear(); finalAgg.clear(); history.clear()
    val (os, batches) = Gen.lineitems(run.seed, Orders, Batches)
    orders = os
    nCust = os.iterator.map(_.custkey).max.toInt
    import spark.implicits._
    os.map(o => (o.orderkey, o.custkey, o.priority)).toDF("k", "c", "p")
      .createOrReplaceTempView("perfbench_orders")
    spark.sql(s"INSERT INTO ${Gen.OrdersTable} SELECT k, c, p FROM perfbench_orders")
    batches.foreach { b =>
      linesDf(b).createOrReplaceTempView("perfbench_batch")
      spark.sql(s"INSERT INTO ${Gen.Table} SELECT * FROM perfbench_batch")
      b.foreach(applyInsert)
    }
    keys = latest.keys.toVector.sorted
    table = ColumnarMergeTree.open(spark, tablePath.toString)
  }

  /** [[WarmUpCycles]] whole cycles, so every timed cycle starts at one part. */
  def warmUp(): Unit = (1 to WarmUpCycles).foreach { c =>
    // versions above the load's (1 and 2), below the timed rounds' (10 on)
    (0 until RoundsPerCycle).foreach { i =>
      round(-(c * RoundsPerCycle + i), ver = 2L + (c - 1) * RoundsPerCycle + i + 1)
    }
    optimize()
  }

  def unit(index: Int): Unit = {
    val position = index % RoundsPerCycle
    round(index, ver = 10L + index, position = position)
    if (position == RoundsPerCycle - 1) optimize()
  }

  override def unitsPerCycle: Int = RoundsPerCycle

  private def round(r: Int, ver: Long, position: Int = -1): Unit = {
    val traced = run.timing && run.trace.on
    Gen.sqlRound(run.seed, r, Orders, nCust).foreach { st =>
      if (traced) { table.refresh(); partsLive += table.partCount }
      val (df, rows) = select(st, traced)
      checkRead(st, rows)
      if (traced) instrument(st, df, rows, position)
    }
    val batch = Gen.sqlUpdates(run.seed, r, UpdateRows, keys, latest, ver)
    val sql = s"INSERT INTO ${Gen.Table} VALUES " + batch.map(values).mkString(", ")
    run.op("insert", read = false)(run.trace("mergetree", "insert")(spark.sql(sql).collect()))
    batch.foreach(applyInsert)
  }

  private def select(st: Stmt, traced: Boolean): (DataFrame, Array[Row]) =
    run.op(st.cls, read = true) {
      if (!traced) { val df = spark.sql(st.sql); (df, df.collect()) }
      else {
        val df = run.trace("sources", "parse")(spark.sql(st.sql))
        run.trace("sources", "plan")(df.queryExecution.executedPlan)
        (df, run.trace("sources", "exec")(df.collect()))
      }
    }

  private def optimize(): Unit = {
    run.op("optimize", read = false)(run.trace("mergetree", "optimize")(
      spark.sql(s"OPTIMIZE TABLE ${Gen.Table} FINAL").collect()))
    stored.clear()
    latest.foreach { case (k, l) => stored(k) = List(l) }
  }

  private def instrument(st: Stmt, df: DataFrame, rows: Array[Row], position: Int): Unit = {
    val plan = df.queryExecution.executedPlan
    val n = Plans.exchanges(plan).toDouble
    exchanges += n
    if (st.cls == "final" && position == RoundsPerCycle - 1) finalBefore += n
    if (st.cls == "final" && position == 0) finalAfter += n
    if (st.cls == "point") readPerReturned += Plans.scanRows(plan).toDouble / math.max(1, rows.length)
    val tag = if (st.cls == "final" && position == 0) "final_after_optimize"
      else if (st.cls == "final" && position == RoundsPerCycle - 1) "final_before_optimize"
      else st.cls
    if (planSaved.add(tag))
      run.save(s"plans/${run.workload}-s${run.seed}/$tag.txt",
        st.sql + "\n\n" + df.queryExecution.explainString(FormattedMode))
  }

  private def applyInsert(l: Line): Unit = {
    val k = (l.orderkey, l.linenumber)
    history += l
    stored(k) = l :: stored.getOrElse(k, Nil)
    latest.get(k) match {
      case Some(old) if old.ver >= l.ver => ()
      case old =>
        old.foreach(o => aggAdd(o, -1))
        latest(k) = l
        aggAdd(l, 1)
    }
  }

  private def aggAdd(l: Line, sign: Int): Unit = {
    val a = finalAgg.getOrElseUpdate((l.returnflag, l.linestatus), Array(0L, 0L, 0L))
    a(0) += sign; a(1) += sign * l.quantity; a(2) += sign * l.price
  }

  private def checkRead(st: Stmt, rows: Array[Row]): Unit = st.cls match {
    case "point" =>
      val k = st.sql.split("l_orderkey = ")(1).split(" ")(0).toLong
      val want = (1 to 7).flatMap(ln => latest.get((k, ln)))
        .map(l => (l.linenumber, l.quantity, l.price, l.ver))
      val got = rows.map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
      run.check(got == want, s"point $k: got $got want $want")
    case "range" =>
      val Array(a, b) = st.sql.split("BETWEEN ")(1).split(" AND ").map(_.trim.toLong)
      var n = 0L; var q = 0L
      (a to b).foreach(o => (1 to 7).foreach(ln =>
        stored.get((o, ln)).foreach(_.foreach { l => n += 1; q += l.quantity })))
      val got = (rows.head.getLong(0), if (rows.head.isNullAt(1)) 0L else rows.head.getLong(1))
      run.check(got == ((n, q)), s"range [$a, $b]: got $got want ${(n, q)}")
    case "final" =>
      val want = finalAgg.toSeq.filter(_._2(0) > 0)
        .map { case ((f, s), a) => (f, s, a(0), a(1), a(2)) }
      val got = rows.map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3),
        r.getLong(4))).toSeq
      run.check(got == want, s"final aggregate: got $got want $want")
    case _ => ()
  }

  /** FINAL and aggregate answers against plain Spark over the source rows,
    * collapsed to the greatest version per key with a window.
    */
  def verify(): Unit = {
    val src = run.work.resolve("sql_source").toString
    linesDf(history.toSeq).write.mode("overwrite").parquet(src)
    val raw = spark.read.parquet(src)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("l_orderkey", "l_linenumber").orderBy(col("ver").desc)
    raw.withColumn("rn", row_number().over(w)).filter(col("rn") === 1).drop("rn")
      .createOrReplaceTempView("perfbench_li_final")
    import spark.implicits._
    orders.map(o => (o.orderkey, o.custkey, o.priority))
      .toDF("o_orderkey", "o_custkey", "o_orderpriority").createOrReplaceTempView("perfbench_o")
    val t = Gen.Table
    val checks: Seq[(String, String)] = Seq(
      ("SELECT l_returnflag, l_linestatus, count(*), sum(l_quantity), sum(l_extendedprice) " +
        s"FROM $t FINAL GROUP BY 1, 2 ORDER BY 1, 2",
        "SELECT l_returnflag, l_linestatus, count(*), sum(l_quantity), sum(l_extendedprice) " +
          "FROM perfbench_li_final GROUP BY 1, 2 ORDER BY 1, 2"),
      (s"SELECT l_suppkey % 10 AS s, count(*), sum(l_quantity), sum(l_discount) FROM $t FINAL " +
        "GROUP BY 1 ORDER BY 1",
        "SELECT l_suppkey % 10 AS s, count(*), sum(l_quantity), sum(l_discount) " +
          "FROM perfbench_li_final GROUP BY 1 ORDER BY 1"),
      (s"SELECT l_orderkey, l_linenumber, l_extendedprice FROM $t FINAL " +
        "ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber LIMIT 10",
        "SELECT l_orderkey, l_linenumber, l_extendedprice FROM perfbench_li_final " +
          "ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber LIMIT 10"),
      (s"SELECT o.o_orderpriority, count(*), sum(li.l_extendedprice) FROM ${Gen.OrdersTable} o " +
        s"JOIN $t FINAL ON o.o_orderkey = li.l_orderkey GROUP BY 1 ORDER BY 1",
        "SELECT o.o_orderpriority, count(*), sum(li.l_extendedprice) FROM perfbench_o o " +
          "JOIN perfbench_li_final li ON o.o_orderkey = li.l_orderkey GROUP BY 1 ORDER BY 1"))
    checks.foreach { case (q, oracle) =>
      val got = spark.sql(q).collect().map(_.toSeq).toSeq
      val want = spark.sql(oracle).collect().map(_.toSeq).toSeq
      run.check(got == want, s"oracle mismatch for: $q\n got  $got\n want $want")
    }
  }

  private def linesDf(ls: Seq[Line]): DataFrame = {
    import spark.implicits._
    ls.map(l => (l.orderkey, l.linenumber, l.partkey, l.suppkey, l.quantity, l.price,
      l.discount, java.sql.Date.valueOf(Epoch.plusDays(l.shipday.toLong)), l.returnflag,
      l.linestatus, l.ver))
      .toDF("l_orderkey", "l_linenumber", "l_partkey", "l_suppkey", "l_quantity",
        "l_extendedprice", "l_discount", "l_shipdate", "l_returnflag", "l_linestatus", "ver")
  }

  private def values(l: Line): String =
    s"(${l.orderkey}, ${l.linenumber}, ${l.partkey}, ${l.suppkey}, ${l.quantity}, " +
      s"${l.price}, ${l.discount}, DATE'${Epoch.plusDays(l.shipday.toLong)}', " +
      s"'${l.returnflag}', '${l.linestatus}', ${l.ver})"

  /** One round's INSERT plus its share of a cycle's OPTIMIZE, from the
    * medians of the run's INSERTs and OPTIMIZEs.
    */
  def bulkRowsPerSec: Double = {
    val ms = Stats.median(run.samples("insert")) +
      Stats.median(run.samples("optimize")) / RoundsPerCycle
    Stats.ratio(UpdateRows, ms / 1e3)
  }

  def layerMetrics(): Map[String, Double] = {
    def spans(n: String) = Stats.median(run.trace.durationsMs("sources", n))
    def cls(c: String) = Stats.median(run.samples(c))
    Map(
      "mergetree.insert_ms_p50" -> cls("insert"),
      "mergetree.optimize_ms" -> cls("optimize"),
      "mergetree.parts_live_mean" -> Stats.mean(partsLive),
      "mergetree.rows_read_per_row_returned" -> Stats.mean(readPerReturned),
      "sources.point_p50_ms" -> cls("point"),
      "sources.parse_ms_p50" -> spans("parse"),
      "sources.plan_ms_p50" -> spans("plan"),
      "sources.exec_ms_p50" -> spans("exec"),
      "sources.range_p50_ms" -> cls("range"),
      "sources.agg_p50_ms" -> cls("agg"),
      "sources.final_p50_ms" -> cls("final"),
      "sources.topk_p50_ms" -> cls("topk"),
      "sources.join_final_p50_ms" -> cls("join_final"),
      "plans.exchanges_final_before_optimize" -> Stats.median(finalBefore),
      "plans.exchanges_final_after_optimize" -> Stats.median(finalAfter),
      "plans.exchanges_per_query" -> Stats.mean(exchanges))
  }

  def close(): Unit = {
    spark.sql(s"DROP TABLE IF EXISTS ${Gen.Table}")
    spark.sql(s"DROP TABLE IF EXISTS ${Gen.OrdersTable}")
  }
}

object SqlMixed {
  /** Orders in the table; about four lines each, so about 96k stored rows
    * (a sixth of sf0.1 lineitem; README.md gives the sizing runs).
    */
  val Orders = 24000
  /** Load batches, one part each. */
  val Batches = 8
  val RoundsPerCycle = 2
  /** Cycles run before timing, as the JIT compiles the read paths. */
  val WarmUpCycles = 1
  /** Version rows per INSERT. */
  val UpdateRows = 200
  val Epoch: LocalDate = LocalDate.of(1992, 1, 1)
}
