package graft.perfbench

import org.scalatest.funsuite.AnyFunSuite

class GenSpec extends AnyFunSuite {

  private val replica = Gen.Replica(base = 50, copies = 8)
  private val zipf = Gen.Zipf(n = 400)

  test("the same seed gives the same documents, another seed different ones") {
    for (shape <- Seq(replica, zipf)) {
      val a = (0L until shape.docs).map(Gen.text(7L, shape, _))
      val b = (0L until shape.docs).map(Gen.text(7L, shape, _))
      val c = (0L until shape.docs).map(Gen.text(8L, shape, _))
      assert(a == b)
      assert(a != c)
    }
  }

  test("a document does not depend on which other documents are generated") {
    val all = (0L until zipf.docs).map(Gen.text(3L, zipf, _))
    assert(Gen.text(3L, zipf, 123L) == all(123))
  }

  test("documents have the sf shape: 10 to 99 tokens") {
    for (shape <- Seq(replica, zipf); id <- 0L until shape.docs) {
      val n = Gen.text(5L, shape, id).split(" ").length
      assert(n >= 10 && n <= 99, s"$shape doc $id has $n tokens")
    }
  }

  test("replica copies differ only in the two seeded variant words") {
    val (wa, wb) = Gen.variantWords(11L)
    assert(wa != wb)
    val copies = (0 until replica.copies).map(c =>
      Gen.text(11L, replica, 3L * replica.copies + c).split(" "))
    val base = copies.head
    copies.zipWithIndex.foreach { case (toks, c) =>
      assert(toks.length == base.length)
      toks.zip(base).foreach { case (t, b) =>
        if (b == s"${wa}0") assert(t == s"$wa$c")
        else if (b == s"${wb}0s") assert(t == s"$wb${c / 2}${if (c % 2 == 0) "s" else ""}")
        else assert(t == b)
      }
    }
    assert(base.exists(b => b == s"${wa}0" || b == s"${wb}0s"))
  }

  test("zipf documents carry the hot word and plural suffixed variants") {
    val toks = (0L until zipf.docs).flatMap(Gen.text(2L, zipf, _).split(" "))
    val hot = toks.count(_ == zipf.hotWord).toDouble / toks.size
    assert(hot > 0.09 && hot < 0.16, s"hot word share $hot")
    val suffixed = toks.filter(_.exists(_.isDigit))
    assert(suffixed.size.toDouble / toks.size > 0.4)
    assert(suffixed.count(_.endsWith("s")).toDouble / suffixed.size > 0.4)
  }
}
