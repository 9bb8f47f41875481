package graft

import graft.model._
import graft.pipeline.Consolidate
import graft.ConsolidateOracle._

/** Properties the reference relies on but never tests (SURVEY.md §5):
  * the consolidation fold must be insensitive to event order (Kafka gave
  * per-key log order; a distributed batch fold gets none) and idempotent
  * under duplicate delivery (at-least-once semantics). Seeded-permutation
  * property checks (no scalatest-scalacheck bridge in the offline cache).
  */
class ConsolidateSpec extends SparkSpec {

  private val repr = DocumentRepresentation("/d/x.txt", "ingest")

  private def create(ts: Long, seq: Long, v: Int) =
    DataRecordEvent.create(7L, s"name-v$v", repr, ts, seq)
  private def meta(k: String, v: String, ts: Long, seq: Long = 0) =
    DataRecordEvent.upsertMeta(7L, Metadata(Map(k -> v), s"prod-$k"), ts, seq)
  private def rep(p: String, ts: Long) =
    DataRecordEvent.upsertRepresentation(7L, DocumentRepresentation(p, "tika"), ts, 0)

  private val baseEvents: List[DataRecordEvent] = List(
    create(1, 0, 1), create(5, 0, 2),
    meta("lang", "en", 2), meta("digest", "abc", 3),
    meta("lang", "en", 2, 1), // duplicate value, different event
    rep("/d/x.t.txt", 4), rep("/d/x.h.html", 6))

  test("sequential fold: latest CREATE wins, sets collapse") {
    val r = Consolidate.sequentialFold(baseEvents)
    assert(r.name == "name-v2")
    assert(r.timestamp == 5)
    assert(r.meta.map(_.createdBy).sorted == Seq("prod-digest", "prod-lang"))
    assert(r.additionalRepresentations.size == 2)
  }

  test("fold is order-insensitive over 100 seeded permutations") {
    val expected = Consolidate.sequentialFold(baseEvents)
    (1 to 100).foreach { seed =>
      val perm = new scala.util.Random(seed).shuffle(baseEvents)
      // the raw left fold over ANY order must match (commutativity), not
      // just the (timestamp, seq)-sorted one
      val raw = Consolidate.finishState(
        perm.foldLeft(Consolidate.FoldState.zero)(Consolidate.add))
      assert(raw == expected, s"permutation seed=$seed diverged")
    }
  }

  test("fold is idempotent under duplicated events") {
    val expected = Consolidate.sequentialFold(baseEvents)
    (1 to 50).foreach { seed =>
      val rnd = new scala.util.Random(seed)
      val dups = baseEvents.filter(_ => rnd.nextBoolean())
      assert(Consolidate.sequentialFold(rnd.shuffle(baseEvents ++ dups)) == expected)
    }
  }

  test("distributed Aggregator agrees with the sequential fold") {
    import spark.implicits._
    val byAgg = Consolidate.batch(
      spark.createDataset(scala.util.Random.shuffle(baseEvents)).repartition(5))
      .collect().head
    assert(byAgg == Consolidate.sequentialFold(baseEvents))
  }

  test("merge of partial states is commutative") {
    for (cut <- 1 until baseEvents.size) {
      val (l, r) = baseEvents.splitAt(cut)
      val sl = l.foldLeft(Consolidate.FoldState.zero)(Consolidate.add)
      val sr = r.foldLeft(Consolidate.FoldState.zero)(Consolidate.add)
      assert(Consolidate.finishState(Consolidate.merge(sl, sr)) ==
        Consolidate.finishState(Consolidate.merge(sr, sl)))
    }
  }
}
