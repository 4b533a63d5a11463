package graftbench

import org.scalatest.funsuite.AnyFunSuite

class GenSpec extends AnyFunSuite {

  test("the same seed gives identical inputs, in any batch split") {
    val a = Gen.vectors(7L, 50, 0L, 100)
    val b = Gen.vectors(7L, 50, 0L, 100)
    assert(a.map(_._1).sameElements(b.map(_._1)))
    assert(a.zip(b).forall { case (x, y) => x._2.sameElements(y._2) })
    assert(Gen.vectors(7L, 50, 40L, 10).zip(a.slice(40, 50)).forall { case (x, y) =>
      x._1 == y._1 && x._2.sameElements(y._2) })
    val (d1, p1) = Gen.documents(7L, 300)
    val (d2, p2) = Gen.documents(7L, 300)
    assert(d1.sameElements(d2) && p1.sameElements(p2))
  }

  test("a different seed gives different inputs") {
    val a = Gen.vectors(7L, 50, 0L, 20)
    val b = Gen.vectors(8L, 50, 0L, 20)
    assert(a.zip(b).forall { case (x, y) => !x._2.sameElements(y._2) })
    assert(!Gen.documents(7L, 50)._1.sameElements(Gen.documents(8L, 50)._1))
  }

  test("vectors keep the clustered shape: 64 dims, ±0.05 around their center") {
    val vs = Gen.vectors(3L, 10, 0L, 40)
    assert(vs.forall(_._2.length == Gen.Dim))
    // ids 0 and 10 share center 0, so every coordinate differs by < 0.1
    val (a, b) = (vs(0)._2, vs(10)._2)
    assert(a.indices.forall(i => math.abs(a(i) - b(i)) < 0.1 + 1e-6))
    assert(a.indices.exists(i => math.abs(a(i) - vs(1)._2(i)) > 0.1))
  }

  test("documents plant about a tenth as near-duplicates of earlier documents") {
    val (docs, planted) = Gen.documents(11L, 2000)
    assert(docs.length == 2000)
    assert(docs.forall(_._2.split(" ").length == Gen.WordsPerDoc))
    assert(planted.length > 150 && planted.length < 250)
    assert(planted.forall { case (base, copy) => base < copy })
    val js = planted.map { case (a, b) =>
      Gen.jaccard(Gen.shingleSet(docs(a.toInt)._2), Gen.shingleSet(docs(b.toInt)._2)) }
    // one to six replaced words put planted pairs on both sides of 0.8
    assert(js.exists(_ >= 0.8) && js.exists(_ < 0.8))
  }

  test("jaccard over sorted hash sets") {
    assert(Gen.jaccard(Array(1L, 2L, 3L), Array(2L, 3L, 4L)) == 0.5)
    assert(Gen.jaccard(Array(1L), Array(1L)) == 1.0)
    assert(Gen.shingleSet("a b c a b c").length == 3)
  }
}
