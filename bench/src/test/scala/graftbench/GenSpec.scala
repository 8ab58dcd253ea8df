package graftbench

import org.scalatest.funsuite.AnyFunSuite

/** The generator is a pure function of the seed: same seed, same inputs
  * and op sequence; another seed, other parameters. */
class GenSpec extends AnyFunSuite {
  test("same seed gives the same tables, corpus and op-sequence digest") {
    assert(Gen.tables(7) == Gen.tables(7))
    assert(Corpus.build(7, 200) == Corpus.build(7, 200))
    Workload.all.keys.foreach { w =>
      assert(Main.digest(Workload(w), 7) == Main.digest(Workload(w), 7), w)
    }
  }

  test("another seed gives other inputs, parameters and digests") {
    assert(Gen.tables(7).customer != Gen.tables(8).customer)
    val (t7, t8) = (Gen.tables(7), Gen.tables(8))
    val reads = (1 until ZoeOps.cycle)
    val differing = reads.count(i => ZoeOps.read(7, i, t7).json != ZoeOps.read(8, i, t8).json)
    assert(differing > reads.size / 2)
    Workload.all.keys.foreach { w =>
      assert(Main.digest(Workload(w), 7) != Main.digest(Workload(w), 8), w)
    }
  }

  test("each cycle is one batch, then every template once per round") {
    val t = Gen.tables(3)
    assert(ZoeOps.isWrite(0) && ZoeOps.isWrite(ZoeOps.cycle) && !ZoeOps.isWrite(1))
    assert((1 until ZoeOps.cycle).map(i => ZoeOps.read(3, i, t).template) ==
      Seq.fill(ZoeOps.rounds)(ZoeOps.templates).flatten)
  }

  test("the corpus size does not depend on the planted shares") {
    assert((1 to 20).map(s => Corpus.build(s, 1800)._2.size).forall(n => n >= 1795 && n <= 1800))
  }

  test("batches only delete or edit customers earlier batches created") {
    var live = Map.empty[String, Created]
    (0 until 6).foreach { b =>
      val batch = ZoeOps.batch(11, b, live)
      assert((batch.delete ++ batch.dropSegEdge).forall(live.contains))
      live = batch(Mirror(Gen.tables(11), live)).created
    }
    assert(live.nonEmpty)
  }
}
