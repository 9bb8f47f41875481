package graft

import graft.ops.ChunkAlgebra._

/** Parity with the reference's sequence-algebra unit tests
  * (reference: pipeline/src/test/kotlin/unittests/SequenceTests.kt:8-41). */
class ChunkAlgebraSpec extends SparkSpec {

  private val xs = Seq("a", "b", "c", "d")

  test("Seq form: append / insert / update / merge / remove + OOB no-ops") {
    assert(append(xs, "e") == Seq("a", "b", "c", "d", "e"))
    assert(insertAt(xs, 1, "x") == Seq("a", "x", "b", "c", "d"))
    assert(updateAt(xs, 2, "x") == Seq("a", "b", "x", "d"))
    assert(updateAt(xs, 9, "x") == xs, "OOB update is a no-op (sequence_management.kt:14-17)")
    assert(mergeRange(xs, 1, 2, (ws: Seq[String]) => ws.mkString(" ")) == Seq("a", "b c", "d"))
    assert(removeAt(xs, 0) == Seq("b", "c", "d"))
    assert(removeAt(xs, 9) == xs)
  }

  test("chunkers produce ordinal-indexed chunks with parent FK") {
    val wc = wordChunks(42L, "alpha beta gamma", "chunker")
    assert(wc.map(_.content) == Seq("alpha", "beta", "gamma"))
    assert(wc.map(_.index) == Seq(0L, 1L, 2L))
    assert(wc.forall(_.parentId == 42L))
    val pc = windowChunks(42L, "a b c d e", 2, "chunker")
    assert(pc.map(_.content) == Seq("a b", "c d", "e"))
  }
}
