package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Quantizer

/** Focused pins for the round-17 driver-side Lloyd quantizer
  * (Quantizer.lloyd) that replaced the MLlib coarse k-means fit:
  * determinism, the exactly-k contract, degenerate samples, and that
  * the fit actually clusters (separated blobs recovered). Gate-level
  * exactness is already independent of the quantizer (nprobe = nlist /
  * full rerank); these pin the internals the swap changed. */
class LloydQuantizerSpec extends AnyFunSuite {

  private def blob(center: Array[Float], n: Int, spread: Float,
      seed: Long): Array[Array[Float]] = {
    val rnd = new java.util.Random(seed)
    Array.fill(n)(center.zipWithIndex.map { case (c, _) =>
      c + (rnd.nextFloat() - 0.5f) * spread
    })
  }

  test("deterministic: same sample, k, seed => identical centroids") {
    val sample = blob(Array(1f, 2f, 3f, 4f), 1000, 2.0f, 7L)
    val a = Quantizer.lloyd(sample, 4, 42L)
    val b = Quantizer.lloyd(sample.map(_.clone()), 4, 42L)
    assert(a.length == 4 && b.length == 4)
    assert(a.flatten.toSeq == b.flatten.toSeq)
  }

  test("exactly k centroids, dims preserved, k > n padded") {
    val sample = blob(Array(0f, 0f), 3, 1.0f, 1L)
    val cents = Quantizer.lloyd(sample, 8, 42L)
    assert(cents.length == 8)
    assert(cents.forall(_.length == 2))
  }

  test("all-identical sample: every centroid lands on the point") {
    val row = Array(1.5f, -2.5f, 0.5f)
    val sample = Array.fill(50)(row.clone())
    val cents = Quantizer.lloyd(sample, 4, 42L)
    assert(cents.length == 4)
    cents.foreach(c => assert(c.toSeq == row.toSeq))
  }

  test("well-separated blobs recovered near their means") {
    val a = Array(10f, 0f)
    val b = Array(-10f, 0f)
    val sample = blob(a, 400, 0.5f, 3L) ++ blob(b, 400, 0.5f, 4L)
    val cents = Quantizer.lloyd(sample, 2, 42L)
    val byX = cents.sortBy(_(0))
    assert(math.abs(byX(0)(0) - (-10f)) < 0.5, byX(0).toSeq)
    assert(math.abs(byX(1)(0) - 10f) < 0.5, byX(1).toSeq)
  }

  test("chunk-parallel path (n > 16384) matches the single-chunk " +
      "arithmetic contract: deterministic and exactly k") {
    val sample = blob(Array(0f, 0f, 0f), 40000, 10.0f, 11L)
    val a = Quantizer.lloyd(sample, 16, 42L)
    val b = Quantizer.lloyd(sample.map(_.clone()), 16, 42L)
    assert(a.length == 16)
    assert(a.flatten.toSeq == b.flatten.toSeq)
  }
}
