package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Skew mitigation by key salting — for the joins AQE's runtime skew
  * handling cannot fix (AQE splits oversized SORT-MERGE partitions, but
  * only at shuffle boundaries it can observe; a hot key inside a
  * broadcast-ineligible hash join, or a pre-AQE engine, still needs
  * salting).
  *
  * Shape: the skewed (big, hot-keyed) side gets a deterministic salt in
  * [0, buckets) — splitting each hot key across `buckets` reducers — and
  * the other side is replicated once per salt value so every (key, salt)
  * pair still finds its match. Deterministic salt (hash of a row-unique
  * column) rather than rand(): reruns and retried tasks produce identical
  * partitioning, which at-least-once pipelines require.
  */
object Skew {

  /** Add a deterministic salt column derived from `uniqueCol`. */
  def salted(df: DataFrame, uniqueCol: String, buckets: Int): DataFrame =
    df.withColumn("salt", pmod(xxhash64(col(uniqueCol)), lit(buckets)))

  /** Replicate every row of the small/even side once per salt value. */
  def replicated(df: DataFrame, buckets: Int): DataFrame =
    df.withColumn("salt", explode(sequence(lit(0L), lit((buckets - 1).toLong))))

  /** Salted equi-join: `big` (skewed on `key`) ⋈ `even`, spreading each
    * hot key over `buckets` reducers. Result equals the plain join on
    * `key` (verified in SkewSpec). */
  def saltedJoin(big: DataFrame, even: DataFrame, key: String,
      uniqueCol: String, buckets: Int = 16): DataFrame =
    salted(big, uniqueCol, buckets)
      .join(replicated(even, buckets), Seq(key, "salt"))
      .drop("salt")
}
