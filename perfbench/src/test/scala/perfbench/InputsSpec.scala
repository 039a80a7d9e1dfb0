package perfbench

import org.scalatest.funsuite.AnyFunSuite

/** The generated inputs are a pure function of the workload seed. */
class InputsSpec extends AnyFunSuite {
  // input generation happens in the workload constructors and needs no session
  private def manifest(workload: String, seed: Long): Manifest =
    Workload(workload, new Ctx(null, null, "", seed, seconds = 10)).manifest

  Workload.Names.foreach { w =>
    test(s"$w: the same seed gives the same inputs") {
      val (a, b) = (manifest(w, 7L), manifest(w, 7L))
      assert(a.sha256 == b.sha256)
      assert(a.sizes == b.sizes)
      assert(a.seed == 7L)
    }

    test(s"$w: another seed gives other inputs of the same sizes") {
      val (a, b) = (manifest(w, 7L), manifest(w, 8L))
      assert(a.sha256 != b.sha256)
      assert(a.sizes == b.sizes)
    }
  }

  test("ingest batches update or remove each base row at most once") {
    val docs = Inputs.docs(3L, "t.docs", 200)
    val vecs = Inputs.vecs(3L, "t.vecs", 200)
    val rows = Inputs.ingestBatches(3L, docs, vecs, 4, 10, 5, 5, 0.5).flatten
    val touched = rows.filter(_.kind != "new").map(_.id)
    assert(touched.length == 40)
    assert(touched.distinct.length == touched.length)
    assert(touched.forall(_ < 200))
    assert(rows.filter(_.kind == "new").map(_.id).toSet == (200L until 240L).toSet)
  }
}
