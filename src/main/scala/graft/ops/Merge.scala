package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** CDC / MERGE INTO semantics as a batch operator: apply a keyed change
  * set to a base snapshot — upserts (update-or-insert) and deletes — in
  * ONE full-outer shuffle join. This is the incremental-maintenance verb
  * the reference's KTable upsert fold provides implicitly (reference:
  * pipeline/impl/KafkaIntelligencePipeline.kt:364-382 folds events into
  * state); here it is the explicit lakehouse form a warehouse runs
  * nightly over a snapshot table.
  *
  * Scale shape: both sides hash-partition on the key and meet in a
  * single shuffle (or zero shuffles if both are bucketed on the key);
  * no driver-side lookups, no per-row point reads.
  * At 100 TB the change set is usually ≪ base, and AQE turns the join
  * into a broadcast automatically when it fits.
  */
object Merge {

  /** Apply `changes` (must carry `keyCol` and an `opCol` valued 'U' |
    * 'D') to `base`.
    *
    * Row fate:
    *   - base key absent from changes        → kept as-is ("kept")
    *   - base key with op 'U'                → merged columns ("updated")
    *   - base key with op 'D'                → dropped
    *   - change key absent from base, op 'U' → new row ("inserted")
    *   - change key absent from base, op 'D' → no-op (delete of nothing)
    *
    * `merged` supplies each output column as an expression over the
    * joined row (use `coalesce` to fall back across sides). The output
    * carries a `merge_action` column so downstream audits don't have to
    * re-derive the row's fate.
    */
  def applyChangeSet(base: DataFrame, changes: DataFrame, keyCol: String,
      opCol: String, merged: Seq[(String, Column)]): DataFrame = {
    // Side-presence comes from a sentinel tagged onto the base BEFORE the
    // join — the join's own key-presence signal — never inferred from the
    // null-ness of a data column (a legitimately-null column would
    // misclassify the action, and a column name shared between base and
    // changes would make the probe ambiguous at analysis).
    val action = when(col(opCol).isNull, "kept")
      .when(col("__base_present").isNotNull, "updated")
      .otherwise("inserted")
    base.withColumn("__base_present", lit(true))
      .join(changes, Seq(keyCol), "full_outer")
      // deletes of absent keys are no-ops, so one filter handles both
      .filter(col(opCol).isNull || col(opCol) === "U")
      .select((col(keyCol) +: merged.map { case (n, c) => c.as(n) })
        :+ action.as("merge_action"): _*)
  }
}
