package graft.perfbench

import java.util.SplittableRandom
import scala.collection.mutable.ArrayBuffer

/** Seeded input generators. Every workload input comes from here and
  * depends only on the seed and the position in the run (epoch, round,
  * iteration, setup repetition), so the same seed replays the identical
  * operation sequence.
  */
object Gen {

  /** Independent stream for (seed, stream, index). */
  def rng(seed: Long, stream: String, index: Long): SplittableRandom =
    new SplittableRandom(seed * 0x9E3779B97F4A7C15L ^ stream.hashCode.toLong * 0xBF58476D1CE4E5B9L ^ index)

  // ------------------------------------------------------------ kv_serve

  sealed trait KvOp
  final case class Put(key: String, value: String, ts: Long) extends KvOp
  final case class Get(key: String) extends KvOp
  final case class Scan(lo: String, hi: String) extends KvOp

  /** One kv_serve epoch: `rows` puts in the reference client's shape
    * (`key_<uniform 1..keySpace>`, `value_<i>`, timestamp i), 1% of them
    * rewriting an earlier (key, timestamp) with another value, and after
    * about one put in `readEvery` a read: 80% point lookups (70% of them on
    * one of the last 1,000 keys written), 20% narrow range scans starting
    * at a recent key.
    */
  def kvEpoch(seed: Long, epoch: Int, rows: Int, keySpace: Int,
      readEvery: Int): Vector[KvOp] = {
    val r = rng(seed, "kv", epoch)
    val keys = new Array[Int](rows)
    val stamps = new Array[Long](rows)
    val ops = Vector.newBuilder[KvOp]
    var i = 0
    while (i < rows) {
      if (i > 0 && r.nextInt(100) == 0) {
        val j = r.nextInt(i)
        keys(i) = keys(j); stamps(i) = stamps(j)
        ops += Put(s"key_${keys(j)}", s"value_${i}_dup", stamps(j))
      } else {
        keys(i) = 1 + r.nextInt(keySpace); stamps(i) = i
        ops += Put(s"key_${keys(i)}", s"value_$i", i)
      }
      i += 1
      if (r.nextInt(readEvery) == 0) {
        val recent = keys(i - 1 - r.nextInt(math.min(i, 1000)))
        if (r.nextInt(5) < 4)
          ops += Get(if (r.nextInt(10) < 7) s"key_$recent" else s"key_${1 + r.nextInt(keySpace)}")
        else ops += Scan(s"key_$recent", s"key_${recent + 1 + r.nextInt(16)}")
      }
    }
    ops.result()
  }

  // ----------------------------------------------------------- sql_mixed

  /** A lineitem-shaped row; money in cents so sums are exact. */
  final case class Line(orderkey: Long, linenumber: Int, partkey: Long,
      suppkey: Long, quantity: Long, price: Long, discount: Int,
      shipday: Int, returnflag: String, linestatus: String, ver: Long)

  final case class Order(orderkey: Long, custkey: Long, priority: String)

  val Priorities: Vector[String] =
    Vector("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")

  /** Orders 1..nOrders with 1-7 lines each, at version 1, plus a second
    * version (2) of about 10% of the lines; split into `batches` load
    * batches with every key's version 2 in a later batch than its version 1.
    */
  def lineitems(seed: Long, nOrders: Int, batches: Int): (Vector[Order], Vector[Vector[Line]]) = {
    val r = rng(seed, "lineitem", 0)
    val orders = Vector.newBuilder[Order]
    val base = ArrayBuffer.empty[Line]
    var o = 1
    while (o <= nOrders) {
      orders += Order(o, 1 + r.nextInt(nOrders / 10 + 1), Priorities(r.nextInt(5)))
      val status = if (r.nextBoolean()) "O" else "F"
      var ln = 1
      val n = 1 + r.nextInt(7)
      while (ln <= n) {
        base += Line(o, ln, 1 + r.nextInt(20000), 1 + r.nextInt(1000),
          1 + r.nextInt(50), 90000 + r.nextInt(10000000), r.nextInt(11),
          r.nextInt(2500), "ANR".charAt(r.nextInt(3)).toString, status, 1)
        ln += 1
      }
      o += 1
    }
    val out = Array.fill(batches)(Vector.newBuilder[Line])
    base.foreach { l =>
      val b = r.nextInt(batches)
      out(b) += l
      if (b < batches - 1 && r.nextInt(10) == 0)
        out(b + 1 + r.nextInt(batches - 1 - b)) += revise(l, 2, r)
    }
    (orders.result(), out.toVector.map(_.result()))
  }

  /** The same line at a new version with new quantity, price and discount. */
  def revise(l: Line, ver: Long, r: SplittableRandom): Line =
    l.copy(quantity = 1 + r.nextInt(50), price = 90000 + r.nextInt(10000000),
      discount = r.nextInt(11), ver = ver)

  /** One SQL statement of a round: its class and its text. */
  final case class Stmt(cls: String, sql: String)

  val Table = "graft.b.li"
  val OrdersTable = "graft.b.orders"

  /** Key lookups per round; the other five classes run once. */
  val PointsPerRound = 3

  /** The round's SELECT mix with seeded parameters, in a seeded order. */
  def sqlRound(seed: Long, round: Int, nOrders: Int, nCust: Int): Vector[Stmt] = {
    val r = rng(seed, "sqlround", round)
    val points = Vector.fill(PointsPerRound)(1 + r.nextInt(nOrders)).map(k =>
      Stmt("point", s"SELECT l_linenumber, l_quantity, l_extendedprice, ver FROM $Table FINAL " +
        s"WHERE l_orderkey = $k ORDER BY l_linenumber"))
    val a = 1 + r.nextInt(math.max(1, nOrders - 400))
    val day = r.nextInt(2000)
    val c = 1 + r.nextInt(math.max(1, nCust - 20))
    val stmts = points ++ Vector(
      Stmt("range", s"SELECT count(*) AS n, sum(l_quantity) AS q FROM $Table " +
        s"WHERE l_orderkey BETWEEN $a AND ${a + 399}"),
      Stmt("final", s"SELECT l_returnflag, l_linestatus, count(*) AS n, sum(l_quantity) AS q, " +
        s"sum(l_extendedprice) AS p FROM $Table FINAL GROUP BY l_returnflag, l_linestatus " +
        "ORDER BY l_returnflag, l_linestatus"),
      Stmt("agg", s"SELECT l_suppkey % 10 AS s, count(*) AS n, sum(l_quantity) AS q, " +
        s"avg(l_discount) AS d FROM $Table WHERE l_shipdate >= date_add(DATE'1992-01-01', $day) " +
        "GROUP BY l_suppkey % 10 ORDER BY s"),
      Stmt("topk", s"SELECT l_orderkey, l_linenumber, l_extendedprice FROM $Table " +
        "ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber, ver LIMIT 10"),
      Stmt("join_final", s"SELECT o.o_orderpriority, count(*) AS n, sum(li.l_extendedprice) AS p " +
        s"FROM $OrdersTable o JOIN $Table FINAL ON o.o_orderkey = li.l_orderkey " +
        s"WHERE o.o_custkey BETWEEN $c AND ${c + 19} GROUP BY o.o_orderpriority " +
        "ORDER BY o.o_orderpriority"))
    shuffle(stmts, r)
  }

  /** The round's version batch: `n` distinct keys drawn from `keys`, each
    * revised from its current line at version `ver`.
    */
  def sqlUpdates(seed: Long, round: Int, n: Int, keys: IndexedSeq[(Long, Int)],
      current: collection.Map[(Long, Int), Line], ver: Long): Vector[Line] = {
    val r = rng(seed, "sqlupd", round)
    val picked = scala.collection.mutable.LinkedHashSet.empty[Int]
    while (picked.size < math.min(n, keys.size)) picked += r.nextInt(keys.size)
    picked.toVector.map(i => revise(current(keys(i)), ver, r))
  }

  // ------------------------------------------------------------ pipeline

  /** `n` distinct lowercase words of 3-9 letters. */
  def vocabulary(seed: Long, n: Int): Vector[String] = {
    val r = rng(seed, "vocab", 0)
    val seen = scala.collection.mutable.LinkedHashSet.empty[String]
    while (seen.size < n) {
      val len = 3 + r.nextInt(7)
      seen += (0 until len).map(_ => ('a' + r.nextInt(26)).toChar).mkString
    }
    seen.toVector
  }

  /** `n` documents of 80-139 Zipf-drawn words with light punctuation; about
    * 15% are a copy of an earlier document with one word replaced (Jaccard
    * near 0.9 on word 5-shingles), so copies of copies form clusters.
    */
  def corpus(seed: Long, n: Int, vocab: Vector[String]): Vector[(Long, String)] = {
    val r = rng(seed, "corpus", 0)
    val cdf = zipfCdf(vocab.size)
    val words = ArrayBuffer.empty[Array[String]]
    var i = 0
    while (i < n) {
      val ws =
        if (i > 0 && r.nextInt(100) < 15) {
          val src = words(r.nextInt(i)).clone()
          src(r.nextInt(src.length)) = vocab(zipf(cdf, r))
          src
        } else Array.fill(80 + r.nextInt(60))(vocab(zipf(cdf, r)))
      words += ws
      i += 1
    }
    words.zipWithIndex.map { case (ws, id) =>
      val sb = new StringBuilder
      ws.zipWithIndex.foreach { case (w, j) =>
        if (j > 0) sb.append(if (j % 17 == 0) ". " else if (j % 7 == 0) ", " else " ")
        sb.append(if (j % 17 == 0) w.capitalize else w)
      }
      (id.toLong, sb.toString)
    }.toVector
  }

  /** `n` unit-free vectors of dimension `dim` around 24 seeded centres. */
  def vectors(seed: Long, n: Int, dim: Int): Vector[Array[Double]] = {
    val r = rng(seed, "vectors", 0)
    val centres = Vector.fill(24)(Array.fill(dim)(gauss(r)))
    Vector.fill(n) {
      val c = centres(r.nextInt(centres.size))
      c.map(x => round6(x + 0.35 * gauss(r)))
    }
  }

  /** One pipeline iteration's inputs: the dedup sample (sorted doc ids),
    * BM25 term lists, and ANN query vectors near random stored vectors.
    */
  final case class PipeIter(sample: Vector[Long], bm25: Vector[Vector[String]],
      ann: Vector[Array[Double]])

  def pipeIteration(seed: Long, iter: Int, nDocs: Int, sampleSize: Int,
      searches: Int, vocab: Vector[String], vecs: Vector[Array[Double]]): PipeIter = {
    val r = rng(seed, "pipeiter", iter)
    val sample = scala.collection.mutable.TreeSet.empty[Long]
    while (sample.size < sampleSize) sample += r.nextInt(nDocs).toLong
    val bm25 = Vector.fill(searches)(
      Vector.fill(2 + r.nextInt(2))(vocab(10 + r.nextInt(math.min(vocab.size - 10, 800)))).distinct)
    val ann = Vector.fill(searches) {
      vecs(r.nextInt(vecs.size)).map(x => round6(x + 0.1 * gauss(r)))
    }
    PipeIter(sample.toVector, bm25, ann)
  }

  // ------------------------------------------------------------- helpers

  private def shuffle[A](xs: Vector[A], r: SplittableRandom): Vector[A] = {
    val a = xs.toArray[Any]
    var i = a.length - 1
    while (i > 0) {
      val j = r.nextInt(i + 1)
      val t = a(i); a(i) = a(j); a(j) = t
      i -= 1
    }
    a.toVector.asInstanceOf[Vector[A]]
  }

  private def zipfCdf(n: Int): Array[Double] = {
    val w = Array.tabulate(n)(i => 1.0 / (i + 1))
    val total = w.sum
    var acc = 0.0
    w.map { x => acc += x / total; acc }
  }

  private def zipf(cdf: Array[Double], r: SplittableRandom): Int = {
    val u = r.nextDouble()
    val i = java.util.Arrays.binarySearch(cdf, u)
    math.min(cdf.length - 1, if (i >= 0) i else -i - 1)
  }

  private def gauss(r: SplittableRandom): Double = {
    // Box-Muller; SplittableRandom has no nextGaussian
    val u = math.max(r.nextDouble(), 1e-12)
    math.sqrt(-2 * math.log(u)) * math.cos(2 * math.Pi * r.nextDouble())
  }

  def round6(x: Double): Double = math.floor(x * 1e6 + 0.5) / 1e6
}
