package graft.perfbench

import org.scalatest.funsuite.AnyFunSuite

class GenSpec extends AnyFunSuite {

  private def arrays(xs: Vector[Array[Double]]) = xs.map(_.toSeq)

  test("kv_serve: same seed replays the same ops, another seed does not") {
    val a = Gen.kvEpoch(7, 0, 5000, 1000, 25)
    assert(a == Gen.kvEpoch(7, 0, 5000, 1000, 25))
    assert(a != Gen.kvEpoch(8, 0, 5000, 1000, 25))
    assert(a != Gen.kvEpoch(7, 1, 5000, 1000, 25), "epochs draw their own streams")
    assert(a.count(_.isInstanceOf[Gen.Put]) == 5000)
    assert(a.exists(_.isInstanceOf[Gen.Get]) && a.exists(_.isInstanceOf[Gen.Scan]))
  }

  test("sql_mixed: same seed gives the same table, rounds and version batches") {
    val (o1, b1) = Gen.lineitems(3, 500, 8)
    val (o2, b2) = Gen.lineitems(3, 500, 8)
    assert(o1 == o2 && b1 == b2)
    assert(b1 != Gen.lineitems(4, 500, 8)._2)
    assert(b1.size == 8)
    assert(Gen.sqlRound(3, 5, 500, 50) == Gen.sqlRound(3, 5, 500, 50))
    assert(Gen.sqlRound(3, 5, 500, 50) != Gen.sqlRound(4, 5, 500, 50))
    assert(Gen.sqlRound(3, 5, 500, 50).map(_.cls).sorted ==
      (Seq.fill(Gen.PointsPerRound)("point") ++ Seq("range", "final", "agg", "topk", "join_final")).sorted)
    val latest = b1.flatten.groupBy(l => (l.orderkey, l.linenumber)).map { case (k, ls) => k -> ls.maxBy(_.ver) }
    val keys = latest.keys.toVector.sorted
    val u = Gen.sqlUpdates(3, 0, 50, keys, latest, 10)
    assert(u == Gen.sqlUpdates(3, 0, 50, keys, latest, 10))
    assert(u != Gen.sqlUpdates(4, 0, 50, keys, latest, 10))
    assert(u.map(l => (l.orderkey, l.linenumber)).distinct.size == 50 && u.forall(_.ver == 10))
  }

  test("version 2 of a load line always lands in a later batch than version 1") {
    val (_, batches) = Gen.lineitems(9, 2000, 8)
    val where = batches.zipWithIndex.flatMap { case (b, i) => b.map(l => ((l.orderkey, l.linenumber, l.ver), i)) }.toMap
    where.foreach { case ((o, ln, v), i) => if (v == 2) assert(where((o, ln, 1L)) < i) }
  }

  test("pipeline: same seed gives the same corpus, vectors and iterations") {
    val v = Gen.vocabulary(5, 500)
    assert(v == Gen.vocabulary(5, 500) && v != Gen.vocabulary(6, 500) && v.distinct.size == 500)
    assert(Gen.corpus(5, 200, v) == Gen.corpus(5, 200, v))
    assert(Gen.corpus(5, 200, v) != Gen.corpus(6, 200, v))
    val vecs = Gen.vectors(5, 100, 8)
    assert(arrays(vecs) == arrays(Gen.vectors(5, 100, 8)))
    assert(arrays(vecs) != arrays(Gen.vectors(6, 100, 8)))
    val i1 = Gen.pipeIteration(5, 0, 200, 50, 3, v, vecs)
    val i2 = Gen.pipeIteration(5, 0, 200, 50, 3, v, vecs)
    assert(i1.sample == i2.sample && i1.bm25 == i2.bm25 && arrays(i1.ann) == arrays(i2.ann))
    val i3 = Gen.pipeIteration(6, 0, 200, 50, 3, v, vecs)
    assert(i1.sample != i3.sample)
    assert(i1.sample.size == 50 && i1.sample == i1.sample.sorted)
  }

  test("the corpus plants near-duplicates the exact dedup finds") {
    val v = Gen.vocabulary(1, 2000)
    val docs = Gen.corpus(1, 300, v)
    val sh = docs.map { case (id, t) => id -> Pipeline.shingles(t.split(" ")) }
    val pairs = for ((a, sa) <- sh; (b, sb) <- sh if a < b) yield {
      val inter = sa.count(sb.contains).toDouble
      inter / (sa.size + sb.size - inter)
    }
    assert(pairs.count(_ >= 0.8) > 10)
    assert(pairs.count(j => j > 0.3 && j < 0.8) < pairs.count(_ >= 0.8),
      "near-duplicates stand clear of the 0.8 threshold")
  }
}
