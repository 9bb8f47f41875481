package graft.pipeline

import org.apache.spark.sql.{Dataset, Encoder, Encoders, SparkSession}
import org.apache.spark.sql.expressions.Aggregator
import graft.model._

/** The event-fold consolidation — the reference's core operator
  * (`groupByKey().aggregate()` building the DataRecord KTable,
  * reference: pipeline/impl/KafkaIntelligencePipeline.kt:364-382).
  *
  * Spark-first redesign: the reference fold is order-dependent (CREATE
  * must precede upserts in the Kafka log). A 1000-executor batch engine
  * cannot assume arrival order, so the fold is made **commutative and
  * associative**:
  *   - CREATE fields resolve by "latest (timestamp, seq) CREATE wins";
  *   - metadata / representations are set-unions (duplicates collapse,
  *     exactly the reference's `Set` semantics — which is also what makes
  *     the reference tolerate at-least-once delivery, SURVEY.md §4).
  * That turns the fold into a proper `Aggregator` with map-side partial
  * aggregation: the shuffle carries one partial DataRecord per key per
  * partition instead of every event. Order-insensitivity is property-
  * tested in ConsolidateSpec.
  */
object Consolidate {

  /** Mutable-free reduce of two partial states. */
  private[graft] def merge(a: FoldState, b: FoldState): FoldState = {
    val (first, second) =
      if (Ordering[(Long, Long)].lteq(a.createOrd, b.createOrd)) (a, b) else (b, a)
    val winner = if (second.name != null) second else first
    FoldState(
      id = if (a.id != 0L) a.id else b.id,
      name = winner.name,
      timestamp = winner.timestamp,
      representation = winner.representation,
      createOrd = winner.createOrd,
      addl = (a.addl ++ b.addl).distinct,
      meta = (a.meta ++ b.meta).distinct)
  }

  private[graft] def add(acc: FoldState, e: DataRecordEvent): FoldState =
    e.command match {
      case Command.Create =>
        val ord = (e.timestamp, e.seq)
        if (acc.name == null || Ordering[(Long, Long)].lteq(acc.createOrd, ord))
          acc.copy(id = e.id, name = e.name.orNull,
            timestamp = e.timestamp, representation = e.representation.orNull,
            createOrd = ord)
        else acc.copy(id = e.id)
      case Command.UpsertMetadata =>
        val m = e.meta.get
        acc.copy(id = e.id,
          meta = if (acc.meta.contains(m)) acc.meta else acc.meta :+ m)
      case Command.UpsertRepresentation =>
        val r = e.representation.get
        acc.copy(id = e.id,
          addl = if (acc.addl.contains(r)) acc.addl else acc.addl :+ r)
      case other =>
        // the reference throws on unknown commands
        // (KafkaIntelligencePipeline.kt:377); we do too — fault isolation
        // belongs to the enricher layer, not the fold
        throw new IllegalArgumentException(s"unknown command: $other")
    }

  /** Canonical output ordering so folded Seq-as-set fields are
    * deterministic regardless of fold order. */
  private[graft] def finishState(s: FoldState): DataRecord =
    DataRecord(s.id, s.name, s.timestamp, s.representation,
      s.addl.sortBy(r => (r.createdBy, r.path)),
      s.meta.sortBy(m => (m.createdBy, m.values.toSeq.sorted.mkString("\u0000"))))

  case class FoldState(
      id: Long, name: String, timestamp: Long,
      representation: DocumentRepresentation,
      createOrd: (Long, Long),
      addl: Seq[DocumentRepresentation],
      meta: Seq[Metadata])

  object FoldState {
    val zero: FoldState = FoldState(0L, null, 0L, null, (Long.MinValue, Long.MinValue), Seq.empty, Seq.empty)
  }

  /** Typed Aggregator: partial-aggregating, commutative. */
  class EventFold extends Aggregator[DataRecordEvent, FoldState, DataRecord] {
    override def zero: FoldState = FoldState.zero
    override def reduce(b: FoldState, e: DataRecordEvent): FoldState = add(b, e)
    override def merge(a: FoldState, b: FoldState): FoldState = Consolidate.merge(a, b)
    override def finish(s: FoldState): DataRecord = finishState(s)
    override def bufferEncoder: Encoder[FoldState] = Encoders.product[FoldState]
    override def outputEncoder: Encoder[DataRecord] = Encoders.product[DataRecord]
  }

  /** Batch consolidation: one shuffle on the record key with map-side
    * partial fold. */
  def batch(events: Dataset[DataRecordEvent]): Dataset[DataRecord] = {
    val spark = events.sparkSession
    import spark.implicits._
    events.groupByKey(_.id)
      .agg(new EventFold().toColumn.name("record"))
      .map(_._2)
  }
}
