package graft

import graft.model.{DataRecord, DataRecordEvent}
import graft.pipeline.Consolidate

/** Test oracle for the consolidation fold, kept out of the library:
  * `import graft.ConsolidateOracle._` adds `Consolidate.sequentialFold`. */
object ConsolidateOracle {
  implicit final class SequentialFold(private val c: Consolidate.type) extends AnyVal {

    /** Reference-shaped sequential fold: events sorted by (timestamp, seq)
      * then folded left. The Aggregator must agree with this on any
      * permutation. */
    def sequentialFold(events: Seq[DataRecordEvent]): DataRecord =
      Consolidate.finishState(events.sortBy(e => (e.timestamp, e.seq))
        .foldLeft(Consolidate.FoldState.zero)(Consolidate.add))
  }
}
