package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.sources.Tables

/** Relational / analytics surface (SURVEY.md §2E Q7 + Q11).
  *
  * The reference has no SQL engine — its only aggregation is the KTable
  * fold (reference: pipeline/impl/KafkaIntelligencePipeline.kt:364-382) —
  * so this is the "generalized" relational surface the survey mandates,
  * expressed declaratively so Catalyst handles pushdown/pruning/join
  * strategy. Scale notes per query inline.
  */
object Relational {

  /** TPC-H Q1-shaped pricing summary.
    * Scale: single shuffle on (returnflag, linestatus) — 6 groups; partial
    * aggregation makes the shuffle tiny regardless of input size. Filter +
    * 7-column projection reach the parquet scan. */
  def pricingSummary(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
    li.filter(col("l_shipdate") <= lit("1999-12-31 00:00:00").cast("timestamp"))
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        dsum(col("l_quantity")).as("sum_qty"),
        dsum(col("l_extendedprice")).as("sum_base_price"),
        dsumProd(col("l_extendedprice"), lit(1.0) - col("l_discount")).as("sum_disc_price"),
        davg(col("l_quantity")).as("avg_qty"),
        davg(col("l_discount")).as("avg_disc"),
        count(lit(1)).as("count_order"))
      .orderBy(col("l_returnflag"), col("l_linestatus"))
  }

  val pricingSummarySql: String =
    """SELECT l_returnflag, l_linestatus,
      |  round(CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE), 4) AS sum_qty,
      |  round(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE), 4) AS sum_base_price,
      |  round(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4)) * CAST(1.0 - l_discount AS DECIMAL(18,4))) AS DOUBLE), 4) AS sum_disc_price,
      |  round(CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) / COUNT(*), 4) AS avg_qty,
      |  round(CAST(SUM(CAST(l_discount AS DECIMAL(18,4))) AS DOUBLE) / COUNT(*), 4) AS avg_disc,
      |  COUNT(*) AS count_order
      |FROM lineitem
      |WHERE l_shipdate <= TIMESTAMP '1999-12-31 00:00:00'
      |GROUP BY l_returnflag, l_linestatus
      |ORDER BY l_returnflag, l_linestatus""".stripMargin

  /** TPC-H Q5-shaped revenue rollup: 6-way star join filtered to one region.
    * Scale: nation/region/supplier are dimension tables → broadcast (no
    * shuffle of the fact side for them); customer⋈orders⋈lineitem are the
    * big shuffles and AQE re-plans them at runtime. */
  def revenueByNation(spark: SparkSession, dir: String): DataFrame = {
    val cust = Tables.customer(spark, dir)
    val ord = Tables.orders(spark, dir)
      .filter(col("o_orderdate") >= lit("1996-01-01 00:00:00").cast("timestamp") &&
        col("o_orderdate") < lit("1998-01-01 00:00:00").cast("timestamp"))
    val li = Tables.lineitem(spark, dir)
    val sup = Tables.supplier(spark, dir)
    val nat = Tables.nation(spark, dir)
    val reg = Tables.region(spark, dir).filter(col("r_name") === "ASIA")

    li.join(ord, col("l_orderkey") === col("o_orderkey"))
      .join(cust, col("o_custkey") === col("c_custkey"))
      .join(broadcast(sup), col("l_suppkey") === col("s_suppkey") &&
        col("s_nationkey") === col("c_nationkey"))
      .join(broadcast(nat), col("s_nationkey") === col("n_nationkey"))
      .join(broadcast(reg), col("n_regionkey") === col("r_regionkey"))
      .groupBy(col("n_name"))
      .agg(dsumProd(col("l_extendedprice"), lit(1.0) - col("l_discount")).as("revenue"),
        count(lit(1)).as("n_items"))
      .orderBy(col("n_name"))
  }

  val revenueByNationSql: String =
    """SELECT n_name,
      |  round(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4)) * CAST(1.0 - l_discount AS DECIMAL(18,4))) AS DOUBLE), 4) AS revenue,
      |  COUNT(*) AS n_items
      |FROM lineitem
      |JOIN orders ON l_orderkey = o_orderkey
      |JOIN customer ON o_custkey = c_custkey
      |JOIN supplier ON l_suppkey = s_suppkey AND s_nationkey = c_nationkey
      |JOIN nation ON s_nationkey = n_nationkey
      |JOIN region ON n_regionkey = r_regionkey
      |WHERE r_name = 'ASIA'
      |  AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      |  AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
      |GROUP BY n_name
      |ORDER BY n_name""".stripMargin

  /** Top-k with total ordering (SURVEY §2E Q11 — the UI grid ordering,
    * reference: ui-vok/MainView.kt:150-166).
    * Scale: Spark plans orderBy+limit as TakeOrderedAndProject — per-
    * partition top-k then a single-reduce merge; no full sort. */
  def topOrders(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"),
        expr("unix_millis(cast(o_orderdate as timestamp))").as("order_ms"), col("o_orderpriority"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
      .limit(10)

  val topOrdersSql: String =
    """SELECT o_orderkey, o_custkey, o_totalprice,
      |  epoch_ms(o_orderdate) AS order_ms, o_orderpriority
      |FROM orders
      |ORDER BY o_totalprice DESC, o_orderkey ASC
      |LIMIT 10""".stripMargin

  /** Grouped top-k per group via window ranking — the generalized "grid
    * ordering" with partition-wise ranking. Scale: one shuffle on the
    * partition key; rank computed within sorted partitions. */
  def topCustomerPerNation(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val cust = Tables.customer(spark, dir)
    val nat = Tables.nation(spark, dir)
    val w = Window.partitionBy(col("c_nationkey"))
      .orderBy(col("c_acctbal").desc, col("c_custkey").asc)
    // cast: DuckDB row_number is BIGINT; a type-sensitive driver hash
    // must see the same physical type both sides (tools/check_oracle.py)
    cust.withColumn("rk", row_number().over(w).cast("long"))
      .filter(col("rk") <= 3)
      .join(broadcast(nat), col("c_nationkey") === col("n_nationkey"))
      .select(col("n_name"), col("rk"), col("c_custkey"), col("c_name"), col("c_acctbal"))
      .orderBy(col("n_name"), col("rk"))
  }

  val topCustomerPerNationSql: String =
    """SELECT n_name, rk, c_custkey, c_name, c_acctbal
      |FROM (
      |  SELECT c_custkey, c_name, c_acctbal, c_nationkey,
      |    ROW_NUMBER() OVER (PARTITION BY c_nationkey ORDER BY c_acctbal DESC, c_custkey ASC) AS rk
      |  FROM customer) c
      |JOIN nation ON c_nationkey = n_nationkey
      |WHERE rk <= 3
      |ORDER BY n_name, rk""".stripMargin

  /** ROLLUP subtotals — one of the Catalyst freebies the reference lacks
    * entirely (SURVEY.md §2 "What the reference does NOT have"). Spark
    * expands grouping sets in a single pass with partial aggregation. */
  def revenueRollup(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .rollup(col("l_returnflag"), col("l_linestatus"))
      .agg(dsum(col("l_quantity")).as("sum_qty"), count(lit(1)).as("n"))
      .orderBy(col("l_returnflag").asc_nulls_first, col("l_linestatus").asc_nulls_first)

  val revenueRollupSql: String =
    """SELECT l_returnflag, l_linestatus,
      |  round(CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE), 4) AS sum_qty,
      |  COUNT(*) AS n
      |FROM lineitem
      |GROUP BY ROLLUP (l_returnflag, l_linestatus)
      |ORDER BY l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST""".stripMargin

  /** Running per-customer order totals — ordered-window aggregation (also
    * absent from the reference). Decimal-exact cumulative sums. */
  def runningTotals(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_orderdate").asc, col("o_orderkey").asc)
    Tables.orders(spark, dir)
      .withColumn("rn", row_number().over(w).cast("long")) // BIGINT, as the oracle renders it
      .withColumn("running_total",
        round(sum(col("o_totalprice").cast("decimal(18,4)"))
          .over(w.rowsBetween(Window.unboundedPreceding, 0)).cast("double"), 4))
      .filter(col("rn") <= 3) // first 3 orders per customer keeps output bounded
      .select(col("o_custkey"), col("rn"), col("o_orderkey"), col("running_total"))
      .orderBy(col("o_custkey"), col("rn"))
  }

  val runningTotalsSql: String =
    """SELECT o_custkey, rn, o_orderkey, running_total FROM (
      |  SELECT o_custkey, o_orderkey,
      |    ROW_NUMBER() OVER w AS rn,
      |    round(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) OVER (PARTITION BY o_custkey
      |      ORDER BY o_orderdate ASC, o_orderkey ASC
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE), 4) AS running_total
      |  FROM orders
      |  WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate ASC, o_orderkey ASC))
      |WHERE rn <= 3
      |ORDER BY o_custkey, rn""".stripMargin

  /** Sketch-based distinct counting next to the exact answer — the 100 TB
    * cardinality primitive. Uses the PORTABLE HyperLogLog (ops.Sketches):
    * md5-derived registers and an integer-scaled harmonic sum that DuckDB
    * replays bit-for-bit, so the sketch itself — not just its row count —
    * is correctness-gated. (Spark's built-in approx_count_distinct remains
    * the production shortcut; ApproxSpec bounds both against exact.) */
  def approxDistinct(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
    val exact = li.groupBy(col("l_returnflag"))
      .agg(countDistinct(col("l_partkey")).as("exact_parts"),
        count(lit(1)).as("n"))
    val hll = graft.ops.Sketches.hllApproxDistinct(
      li, Seq("l_returnflag"), col("l_partkey"))
    exact.join(hll, Seq("l_returnflag"))
      .select(col("l_returnflag"), col("exact_parts"),
        col("hll_est").as("hll_parts"), col("harmonic_e53"),
        col("n_buckets"), col("n"))
      .orderBy(col("l_returnflag"))
  }

  val approxDistinctSql: String = {
    val alpha = graft.ops.Sketches.HllAlphaScaledE53.toString
    s"""WITH h AS (
       |  SELECT l_returnflag AS g, l_partkey,
       |    CAST('0x'||substring(md5(CAST(l_partkey AS VARCHAR)),1,15) AS BIGINT) AS h60
       |  FROM lineitem),
       |b AS (
       |  SELECT g, h60 // 4503599627370496 AS bucket, h60 % 4503599627370496 AS v
       |  FROM h),
       |r AS (
       |  SELECT g, bucket,
       |    MAX(CASE WHEN v = 0 THEN 53 ELSE 53 - length(bin(v)) END) AS reg
       |  FROM b GROUP BY g, bucket),
       |s AS (
       |  SELECT g, CAST(sum(1::BIGINT << (53 - reg)) AS BIGINT) AS s_present,
       |    CAST(count(*) AS BIGINT) AS n_buckets
       |  FROM r GROUP BY g),
       |e AS (
       |  SELECT g, s_present + (256 - n_buckets) * 9007199254740992 AS harmonic_e53,
       |    n_buckets
       |  FROM s),
       |x AS (
       |  SELECT l_returnflag AS g,
       |    CAST(count(DISTINCT l_partkey) AS BIGINT) AS exact_parts,
       |    CAST(count(*) AS BIGINT) AS n
       |  FROM lineitem GROUP BY 1)
       |SELECT g AS l_returnflag, exact_parts,
       |  round(CAST($alpha AS DOUBLE) / CAST(harmonic_e53 AS DOUBLE), 1) AS hll_parts,
       |  harmonic_e53, n_buckets, n
       |FROM x JOIN e USING (g) ORDER BY l_returnflag""".stripMargin
  }

  /** Q48 — Count-Min heavy hitters: the top-10 most-ordered parts with
    * their exact counts AND the Count-Min sketch estimate of each (always
    * ≥ exact; here the 4×1024-cell sketch absorbs ~6·10^4 increments, so
    * collisions are visible and honest). Like the HLL, the sketch is
    * md5-derived and integer-exact, so DuckDB rebuilds all 4096 counters
    * bit-for-bit — the frequency-estimation primitive is
    * correctness-gated, not just error-bounded. */
  def heavyHitters(spark: SparkSession, dir: String): DataFrame = {
    val items = Tables.lineitem(spark, dir).select(col("l_partkey").as("v"))
    val sketch = graft.ops.Sketches.cmSketch(items, col("v"))
    val top = items.groupBy(col("v")).agg(count(lit(1)).as("true_cnt"))
      .orderBy(col("true_cnt").desc, col("v").asc)
      .limit(10)
    graft.ops.Sketches.cmEstimate(sketch, top.select(col("v")))
      .join(top, Seq("v"))
      .select(col("v").as("l_partkey"), col("true_cnt"), col("cm_est"))
      .orderBy(col("true_cnt").desc, col("l_partkey").asc)
  }

  /** Q71 — mergeable log₂-histogram quantiles (Sketches.logHistogram):
    * per event type, p50/p90/p99 upper bounds off a ≤64-counter-per-key
    * histogram — the sketch-sized quantile path q28's exact per-group
    * sort can't take at 100 TB. Bucketing is bit-length (integer-exact),
    * thresholds are all-integer, so the oracle replays the sketch AND the
    * quantile read-off bit-for-bit. */
  def quantileHistogram(spark: SparkSession, dir: String): DataFrame = {
    val hist = graft.ops.Sketches.logHistogram(
      Tables.events(spark, dir).select(col("event_type"), col("value")),
      Seq("event_type"), col("value"))
    graft.ops.Sketches.histogramQuantiles(hist, Seq("event_type"), Seq(50, 90, 99))
      .orderBy(col("event_type"))
  }

  val quantileHistogramSql: String =
    """WITH h AS (
      |  SELECT event_type,
      |    length(bin(CAST(floor(greatest(value, 0)) AS BIGINT))) - 1 AS bucket,
      |    COUNT(*) AS n
      |  FROM events GROUP BY 1, 2),
      |c AS (
      |  SELECT event_type, bucket, n,
      |    SUM(n) OVER (PARTITION BY event_type ORDER BY bucket) AS cum,
      |    SUM(n) OVER (PARTITION BY event_type) AS total
      |  FROM h)
      |SELECT event_type,
      |  CAST(MAX(total) AS BIGINT) AS total,
      |  CAST(MIN(CASE WHEN cum * 100 >= total * 50 THEN (1::BIGINT << (bucket + 1)) - 1 END) AS BIGINT) AS p50_ub,
      |  CAST(MIN(CASE WHEN cum * 100 >= total * 90 THEN (1::BIGINT << (bucket + 1)) - 1 END) AS BIGINT) AS p90_ub,
      |  CAST(MIN(CASE WHEN cum * 100 >= total * 99 THEN (1::BIGINT << (bucket + 1)) - 1 END) AS BIGINT) AS p99_ub
      |FROM c GROUP BY event_type ORDER BY event_type""".stripMargin

  val heavyHittersSql: String =
    """WITH items AS (SELECT l_partkey AS v FROM lineitem),
      |cells AS (
      |  SELECT r.r AS row,
      |    CAST('0x'||substring(md5(CAST(r.r AS VARCHAR)||':'||CAST(v AS VARCHAR)),1,15) AS BIGINT) % 1024 AS bucket,
      |    CAST(count(*) AS BIGINT) AS cnt
      |  FROM items CROSS JOIN range(0, 4) r(r)
      |  GROUP BY 1, 2),
      |top AS (
      |  SELECT v, CAST(count(*) AS BIGINT) AS true_cnt FROM items
      |  GROUP BY v ORDER BY true_cnt DESC, v ASC LIMIT 10),
      |probes AS (
      |  SELECT top.v, top.true_cnt, r.r AS row,
      |    CAST('0x'||substring(md5(CAST(r.r AS VARCHAR)||':'||CAST(top.v AS VARCHAR)),1,15) AS BIGINT) % 1024 AS bucket
      |  FROM top CROSS JOIN range(0, 4) r(r))
      |SELECT p.v AS l_partkey, p.true_cnt, CAST(min(c.cnt) AS BIGINT) AS cm_est
      |FROM probes p JOIN cells c USING (row, bucket)
      |GROUP BY p.v, p.true_cnt
      |ORDER BY true_cnt DESC, l_partkey ASC""".stripMargin

  /** Q49 — Z-order layout keys (ops.Layout): the Morton key that
    * co-locates rows close in BOTH (l_partkey, l_suppkey) so min/max
    * row-group stats prune scans filtered on EITHER dimension. The key is
    * portable integer bit arithmetic — the oracle replays the interleave
    * exactly. First 200 rows of the layout order. */
  def zorderKeys(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .select(col("l_orderkey"), col("l_linenumber"), col("l_partkey"), col("l_suppkey"),
        graft.ops.Layout.zorder2(col("l_partkey"), col("l_suppkey"), bits = 20).as("zkey"))
      .orderBy(col("zkey"), col("l_orderkey"), col("l_linenumber"))
      .limit(200)

  val zorderKeysSql: String =
    """SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey,
      |  CAST(list_sum(list_transform(range(0, 20), i ->
      |    (((l_partkey >> i) & 1) << (2 * i)) + (((l_suppkey >> i) & 1) << (2 * i + 1))
      |  )) AS BIGINT) AS zkey
      |FROM lineitem
      |ORDER BY zkey, l_orderkey, l_linenumber
      |LIMIT 200""".stripMargin

  /** Q51 — table profiling: the pre-flight scan a 100 TB ingest runs
    * before processing — per-column row/null counts, lexicographic
    * min/max, exact distinct AND the portable-HLL estimate, in ONE pass:
    * a single 1→n `explode(array(struct…))` builds the tall
    * (col_name, value) projection off ONE table scan (the earlier
    * unionAll form scanned once per column, and its unmaterialized reuse
    * by two aggregate consumers multiplied that to 16 scans — the plan,
    * not the doc, was authoritative; PlanAuditSpec now pins scans = 1),
    * then base stats and the HLL sketch fuse into one cascaded
    * aggregation keyed on (col_name, hll_bucket): hash buckets PARTITION
    * the value space, so per-bucket exact distincts SUM to the global
    * exact distinct, nulls ride in a sentinel bucket for the null count,
    * and max-rank registers fall out of the same level-1 aggregate. The
    * second-level shuffle carries ≤ 257 rows per column whatever the
    * input size. The HLL estimate sits next to the exact count on
    * purpose: low-cardinality columns (o_orderstatus: 3 values) are far
    * below the raw-HLL regime (n ≳ 2.5·m) and the bias is visible —
    * profiling reports what the sketch would say at scale, honestly. */
  def profileTable(spark: SparkSession, dir: String): DataFrame = {
    import graft.ops.Sketches
    val o = Tables.orders(spark, dir)
    val cols = Seq("o_custkey", "o_orderkey", "o_orderpriority", "o_orderstatus")
    val tall = o.select(explode(array(cols.map(c =>
        struct(lit(c).as("col_name"), col(c).cast("string").as("v"))): _*)).as("cv"))
      .select(col("cv.col_name").as("col_name"), col("cv.v").as("v"))
    // portable-HLL bucket/rank (identical convention to Sketches.hllRegisters:
    // 60-bit md5 hash, top 8 bits bucket, rank = 53 - bitlength of low 52);
    // nulls take bucket -1 so one aggregate counts them too
    // Level A carries ALL the volume and is a pure count keyed on
    // (col_name, bucket, v) — string GROUP KEYS hash-aggregate fine; it
    // is string agg BUFFERS (min/max) that force SortAggregate, so those
    // wait until level B where only DISTINCT values remain (orders of
    // magnitude fewer rows — the sort is over the dictionary, not the
    // data). rank is recomputed per distinct value at level B: hashing
    // each value once per distinct beats hashing it once per row.
    val h = graft.functions.TextFunctions.portableHash60(col("v"))
    val sub = h.bitwiseAND(lit((1L << 52) - 1))
    val lvlA = tall
      .withColumn("bucket", when(col("v").isNull, lit(-1L)).otherwise(shiftright(h, 52)))
      .groupBy(col("col_name"), col("bucket"), col("v"))
      .agg(count(lit(1)).as("cnt"))
    val lvlB = lvlA
      .withColumn("rank",
        when(col("v").isNull, lit(null).cast("int"))
          .when(sub === 0, lit(53))
          .otherwise(lit(53) - length(bin(sub))).cast("int"))
      .groupBy(col("col_name"), col("bucket")).agg(
        sum(col("cnt")).as("n_rows"),
        count(col("v")).as("d"),
        min(col("v")).as("min_v"),
        max(col("v")).as("max_v"),
        max(col("rank")).as("reg"))
    lvlB.groupBy(col("col_name")).agg(
        sum(col("n_rows")).as("n"),
        sum(when(col("bucket") === -1, col("n_rows")).otherwise(0L)).as("n_null"),
        sum(col("d")).as("distinct_exact"),
        min(col("min_v")).as("min_s"),
        max(col("max_v")).as("max_s"),
        sum(when(col("bucket") >= 0,
          expr("shiftleft(CAST(1 AS BIGINT), 53 - reg)")).otherwise(0L)).as("s_present"),
        sum(when(col("bucket") >= 0, 1L).otherwise(0L)).as("n_buckets"))
      .withColumn("harmonic_e53",
        col("s_present") + (lit(Sketches.HllM.toLong) - col("n_buckets")) * lit(1L << 53))
      .withColumn("distinct_est",
        round(lit(Sketches.HllAlphaScaledE53) / col("harmonic_e53").cast("double"), 1))
      .select(col("col_name"), col("n"), col("n_null"), col("distinct_exact"),
        col("min_s"), col("max_s"), col("distinct_est"))
      .orderBy(col("col_name"))
  }

  val profileTableSql: String = {
    val alpha = graft.ops.Sketches.HllAlphaScaledE53.toString
    s"""WITH tall AS (
       |  SELECT 'o_custkey' AS col_name, CAST(o_custkey AS VARCHAR) AS v FROM orders
       |  UNION ALL SELECT 'o_orderkey', CAST(o_orderkey AS VARCHAR) FROM orders
       |  UNION ALL SELECT 'o_orderpriority', o_orderpriority FROM orders
       |  UNION ALL SELECT 'o_orderstatus', o_orderstatus FROM orders),
       |base AS (
       |  SELECT col_name, CAST(count(*) AS BIGINT) AS n,
       |    CAST(sum(CASE WHEN v IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null,
       |    CAST(count(DISTINCT v) AS BIGINT) AS distinct_exact,
       |    min(v) AS min_s, max(v) AS max_s
       |  FROM tall GROUP BY col_name),
       |hh AS (
       |  SELECT col_name AS g, CAST('0x'||substring(md5(v),1,15) AS BIGINT) AS h60
       |  FROM tall WHERE v IS NOT NULL),
       |b AS (SELECT g, h60 // 4503599627370496 AS bucket, h60 % 4503599627370496 AS vv FROM hh),
       |r AS (SELECT g, bucket, MAX(CASE WHEN vv = 0 THEN 53 ELSE 53 - length(bin(vv)) END) AS reg
       |      FROM b GROUP BY g, bucket),
       |s AS (SELECT g, CAST(sum(1::BIGINT << (53 - reg)) AS BIGINT) AS sp,
       |        CAST(count(*) AS BIGINT) AS nb FROM r GROUP BY g),
       |e AS (SELECT g AS col_name,
       |        round(CAST($alpha AS DOUBLE) /
       |              CAST(sp + (256 - nb) * 9007199254740992 AS DOUBLE), 1) AS distinct_est
       |      FROM s)
       |SELECT base.col_name, n, n_null, distinct_exact, min_s, max_s, distinct_est
       |FROM base JOIN e USING (col_name)
       |ORDER BY col_name""".stripMargin
  }

  /** Q52 — salted join (ops.Skew): per-supplier revenue computed through
    * the hot-key-spreading join — each (suppkey, salt) pair lands on its
    * own reducer, the mitigation for skew AQE can't reach (hash joins,
    * pre-shuffle hot keys). The salt is derived from a row-unique column,
    * so retried tasks repartition identically. The oracle is the PLAIN
    * join: salting must be result-invariant, and this query gates that
    * invariant on real data. */
  def saltedRevenue(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
      .withColumn("rid", col("l_orderkey") * 10 + col("l_linenumber"))
    val sup = Tables.supplier(spark, dir)
      .select(col("s_suppkey").as("l_suppkey"), col("s_name"))
    graft.ops.Skew.saltedJoin(li, sup, key = "l_suppkey", uniqueCol = "rid", buckets = 8)
      .groupBy(col("s_name"))
      .agg(count(lit(1)).as("n_items"),
        dsumProd(col("l_extendedprice"), lit(1.0) - col("l_discount")).as("revenue"))
      .orderBy(col("s_name"))
  }

  val saltedRevenueSql: String =
    """SELECT s_name, COUNT(*) AS n_items,
      |  round(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4)) * CAST(1.0 - l_discount AS DECIMAL(18,4))) AS DOUBLE), 4) AS revenue
      |FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
      |GROUP BY s_name
      |ORDER BY s_name""".stripMargin

  /** Q43 — PIVOT: order counts per priority pivoted by status. The pivot
    * values are DECLARED (`Seq("F","O","P")`), not discovered — at 100 TB
    * an undeclared pivot first runs a distinct scan over the pivot column
    * AND collects it to the driver; declaring values keeps the plan a
    * single partial-aggregated shuffle. Null cells (absent combinations)
    * fill to 0 to match the oracle's FILTER counts. */
  def statusPivot(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .groupBy(col("o_orderpriority"))
      .pivot("o_orderstatus", Seq("F", "O", "P"))
      .agg(count(lit(1)))
      .na.fill(0)
      .select(col("o_orderpriority"),
        col("F").as("n_f"), col("O").as("n_o"), col("P").as("n_p"))
      .orderBy(col("o_orderpriority"))

  val statusPivotSql: String =
    """SELECT o_orderpriority,
      |  CAST(count(*) FILTER (WHERE o_orderstatus = 'F') AS BIGINT) AS n_f,
      |  CAST(count(*) FILTER (WHERE o_orderstatus = 'O') AS BIGINT) AS n_o,
      |  CAST(count(*) FILTER (WHERE o_orderstatus = 'P') AS BIGINT) AS n_p
      |FROM orders GROUP BY o_orderpriority
      |ORDER BY o_orderpriority""".stripMargin

  /** Q75 — UNPIVOT (melt), the inverse verb of q43's pivot: the wide
    * per-priority status counts fold back to (priority, status, n) long
    * form via `stack` — the standard wide→long reshape a feature table
    * needs before per-feature aggregation. stack() is a codegen'd
    * Generate (row-local 1→N), no shuffle until the final sort; the
    * pivot feeding it is q43's one-exchange shape. */
  def statusUnpivot(spark: SparkSession, dir: String): DataFrame =
    statusPivot(spark, dir)
      .select(col("o_orderpriority"), expr(
        "stack(3, 'F', n_f, 'O', n_o, 'P', n_p) as (o_orderstatus, n)"))
      .filter(col("n") > 0) // long form drops absent combinations
      .orderBy(col("o_orderpriority"), col("o_orderstatus"))

  val statusUnpivotSql: String =
    """SELECT o_orderpriority, o_orderstatus, CAST(count(*) AS BIGINT) AS n
      |FROM orders GROUP BY 1, 2
      |ORDER BY o_orderpriority, o_orderstatus""".stripMargin
  // the round-trip pivot→unpivot must land exactly on the direct long-form
  // aggregate — which is what the oracle states

  /** Q44 — CUBE: order counts + revenue over every subset of
    * (status, priority). One shuffle: Spark expands the grouping sets
    * map-side and partial-aggregates each, so the exchange carries group
    * partials, not input rows. Aggregated-out dimensions surface as the
    * '(all)' sentinel rather than NULL — engines disagree on NULL sort
    * order and the driver's comparator is null-hostile. */
  def revenueCube(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .cube(col("o_orderstatus"), col("o_orderpriority"))
      .agg(count(lit(1)).as("n_orders"), dsum(col("o_totalprice")).as("revenue"))
      .select(
        coalesce(col("o_orderstatus"), lit("(all)")).as("status"),
        coalesce(col("o_orderpriority"), lit("(all)")).as("priority"),
        col("n_orders"), col("revenue"))
      .orderBy(col("status"), col("priority"))

  val revenueCubeSql: String =
    """SELECT COALESCE(o_orderstatus, '(all)') AS status,
      |  COALESCE(o_orderpriority, '(all)') AS priority,
      |  CAST(count(*) AS BIGINT) AS n_orders,
      |  round(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE), 4) AS revenue
      |FROM orders GROUP BY CUBE(o_orderstatus, o_orderpriority)
      |ORDER BY status, priority""".stripMargin

  /** Q57 — GROUPING SETS: the irregular grouping shape neither ROLLUP
    * (q23) nor CUBE (q44) covers — ((flag, status), (status), ()) skips
    * the (flag) marginal entirely. Same one-shuffle expand+partial-agg
    * execution as CUBE; the '(all)' sentinel keeps the comparator away
    * from NULL ordering. */
  def groupingSets(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .groupingSets(
        Seq(Seq(col("l_returnflag"), col("l_linestatus")),
          Seq(col("l_linestatus")), Seq()),
        col("l_returnflag"), col("l_linestatus"))
      .agg(count(lit(1)).as("n"), dsum(col("l_extendedprice")).as("sum_price"))
      .select(
        coalesce(col("l_returnflag"), lit("(all)")).as("flag"),
        coalesce(col("l_linestatus"), lit("(all)")).as("status"),
        col("n"), col("sum_price"))
      .orderBy(col("flag"), col("status"))

  val groupingSetsSql: String =
    """SELECT COALESCE(l_returnflag, '(all)') AS flag,
      |  COALESCE(l_linestatus, '(all)') AS status,
      |  CAST(count(*) AS BIGINT) AS n,
      |  round(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE), 4) AS sum_price
      |FROM lineitem
      |GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_linestatus), ())
      |ORDER BY flag, status""".stripMargin

  /** Q61 — decile analysis: ntile(10) over account balance within each
    * market segment, then per-(segment, decile) stats — the
    * distribution-profiling shape BI tools emit. The window partitions
    * by segment; at warehouse scale a low-cardinality segment column
    * makes this the classic window skew-bomb, so the production path for
    * a GLOBAL decile is percentile cutpoints + assignment (see q28/q51);
    * this query gates the ranking-window semantics themselves
    * (bucket sizes differ by at most 1, remainder to low deciles —
    * both engines implement standard NTILE). */
  def deciles(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("c_mktsegment"))
      .orderBy(col("c_acctbal"), col("c_custkey"))
    Tables.customer(spark, dir)
      .withColumn("decile", ntile(10).over(w).cast("long"))
      .groupBy(col("c_mktsegment"), col("decile"))
      .agg(count(lit(1)).as("n"),
        min(col("c_acctbal")).as("min_bal"),
        max(col("c_acctbal")).as("max_bal"),
        dsum(col("c_acctbal")).as("sum_bal"))
      .orderBy(col("c_mktsegment"), col("decile"))
  }

  val decilesSql: String =
    """WITH d AS (
      |  SELECT c_mktsegment, c_acctbal,
      |    NTILE(10) OVER (PARTITION BY c_mktsegment
      |                    ORDER BY c_acctbal, c_custkey) AS decile
      |  FROM customer)
      |SELECT c_mktsegment, CAST(decile AS BIGINT) AS decile,
      |  CAST(COUNT(*) AS BIGINT) AS n,
      |  MIN(c_acctbal) AS min_bal, MAX(c_acctbal) AS max_bal,
      |  round(CAST(SUM(CAST(c_acctbal AS DECIMAL(18,4))) AS DOUBLE), 4) AS sum_bal
      |FROM d GROUP BY c_mktsegment, decile
      |ORDER BY c_mktsegment, decile""".stripMargin

  /** Q62 — correlated scalar subqueries through the SQL front door:
    * customers whose balance beats their nation's average. Written as
    * correlated subqueries ON PURPOSE and run via `spark.sql` — Catalyst
    * decorrelates them into aggregate+join (no per-row re-execution,
    * which is what a naive engine — or the reference — would have to
    * do). The avg comparison is cross-multiplied (bal·n > sum) so the
    * whole predicate stays in exact decimal/integer arithmetic. */
  def correlatedSubquery(spark: SparkSession, dir: String): DataFrame = {
    Tables.customer(spark, dir).createOrReplaceTempView("customer_v")
    spark.sql(
      """SELECT c_custkey, c_nationkey, c_acctbal
        |FROM customer_v c
        |WHERE CAST(c_acctbal AS DECIMAL(18,4))
        |      * (SELECT COUNT(*) FROM customer_v c2
        |         WHERE c2.c_nationkey = c.c_nationkey)
        |    > (SELECT SUM(CAST(c_acctbal AS DECIMAL(18,4))) FROM customer_v c3
        |       WHERE c3.c_nationkey = c.c_nationkey)
        |ORDER BY c_custkey""".stripMargin)
  }

  val correlatedSubquerySql: String =
    """SELECT c_custkey, c_nationkey, c_acctbal
      |FROM customer c
      |WHERE CAST(c_acctbal AS DECIMAL(18,4))
      |      * (SELECT COUNT(*) FROM customer c2
      |         WHERE c2.c_nationkey = c.c_nationkey)
      |    > (SELECT SUM(CAST(c_acctbal AS DECIMAL(18,4))) FROM customer c3
      |       WHERE c3.c_nationkey = c.c_nationkey)
      |ORDER BY c_custkey""".stripMargin

  /** Q63 — relational set operations (set semantics, so each branch
    * dedups map-side before one shuffle): customers ordering in both
    * 'F' and 'O' status but never 'P' — (F ∩ O) − P. The reference has
    * no set-op surface at all; Catalyst's INTERSECT/EXCEPT rewrite to
    * semi/anti joins. */
  def setOps(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir)
    def keys(status: String) =
      o.filter(col("o_orderstatus") === status).select(col("o_custkey"))
    keys("F").intersect(keys("O")).except(keys("P"))
      .orderBy(col("o_custkey"))
  }

  val setOpsSql: String =
    """(SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
      | INTERSECT
      | SELECT o_custkey FROM orders WHERE o_orderstatus = 'O')
      |EXCEPT
      |SELECT o_custkey FROM orders WHERE o_orderstatus = 'P'
      |ORDER BY o_custkey""".stripMargin

  /** Q65 — correlation + OLS regression per group, engine-reproducibly:
    * the five moment sums (Σx, Σy, Σxy, Σx², Σy²) accumulate in EXACT
    * decimal (order-free, partial-aggregating — the built-in `corr`
    * accumulates doubles whose order differs per engine/partitioning),
    * and only the final closed-form expressions run in double — the same
    * IEEE ops on the same inputs in both engines. One shuffle, partial
    * aggregation map-side. */
  def correlation(spark: SparkSession, dir: String): DataFrame = {
    // integer-centified fixed point in DECIMAL(19,0): products then fit
    // DECIMAL(38,0) exactly in BOTH engines (DuckDB's DECIMAL(18,4)
    // multiply overflows its int64 path). The x100 scaling cancels in
    // corr (scale-invariant) and in the slope (x and y scale equally).
    val x = round(col("l_quantity") * 100, 0).cast("decimal(19,0)")
    val y = round(col("l_extendedprice") * 100, 0).cast("decimal(19,0)")
    Tables.lineitem(spark, dir)
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n"),
        sum(x).as("sx"), sum(y).as("sy"), sum(x * y).as("sxy"),
        sum(x * x).as("sxx"), sum(y * y).as("syy"))
      .select(col("l_returnflag"), col("n"),
        round((col("n").cast("double") * col("sxy").cast("double")
            - col("sx").cast("double") * col("sy").cast("double"))
          / (sqrt(col("n").cast("double") * col("sxx").cast("double")
              - col("sx").cast("double") * col("sx").cast("double"))
            * sqrt(col("n").cast("double") * col("syy").cast("double")
              - col("sy").cast("double") * col("sy").cast("double"))), 6).as("corr_qty_price"),
        round((col("n").cast("double") * col("sxy").cast("double")
            - col("sx").cast("double") * col("sy").cast("double"))
          / (col("n").cast("double") * col("sxx").cast("double")
            - col("sx").cast("double") * col("sx").cast("double")), 6).as("ols_slope"))
      .orderBy(col("l_returnflag"))
  }

  val correlationSql: String =
    """WITH c AS (
      |  SELECT l_returnflag,
      |    CAST(round(l_quantity * 100) AS DECIMAL(19,0)) AS xc,
      |    CAST(round(l_extendedprice * 100) AS DECIMAL(19,0)) AS yc
      |  FROM lineitem),
      |m AS (
      |  SELECT l_returnflag, COUNT(*) AS n,
      |    SUM(xc) AS sx, SUM(yc) AS sy, SUM(xc * yc) AS sxy,
      |    SUM(xc * xc) AS sxx, SUM(yc * yc) AS syy
      |  FROM c GROUP BY l_returnflag)
      |SELECT l_returnflag, CAST(n AS BIGINT) AS n,
      |  round((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
      |    / (sqrt(CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
      |      * sqrt(CAST(n AS DOUBLE) * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))), 6)
      |    AS corr_qty_price,
      |  round((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
      |    / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)), 6)
      |    AS ols_slope
      |FROM m ORDER BY l_returnflag""".stripMargin

  /** Q67 — market-basket co-occurrence: the 20 part pairs most often
    * ordered together. Baskets (orders) are small and bounded, so the
    * self-join on the order key is linear in orders × basket², never
    * all-pairs across the catalog — the same bucketed-candidate
    * discipline as the near-dup family, with the order key as the
    * natural bucket. Distinct parts per order first (a part twice in
    * one order isn't two co-occurrences). */
  def copurchase(spark: SparkSession, dir: String): DataFrame = {
    val items = Tables.lineitem(spark, dir)
      .select(col("l_orderkey"), col("l_partkey")).distinct()
    val a = items.select(col("l_orderkey"), col("l_partkey").as("p1"))
    val b = items.select(col("l_orderkey"), col("l_partkey").as("p2"))
    a.join(b, Seq("l_orderkey")).filter(col("p1") < col("p2"))
      .groupBy(col("p1"), col("p2")).agg(count(lit(1)).as("n_together"))
      .orderBy(col("n_together").desc, col("p1"), col("p2"))
      .limit(20)
  }

  val copurchaseSql: String =
    """WITH items AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem)
      |SELECT a.l_partkey AS p1, b.l_partkey AS p2, COUNT(*) AS n_together
      |FROM items a JOIN items b
      |  ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      |GROUP BY 1, 2
      |ORDER BY n_together DESC, p1, p2 LIMIT 20""".stripMargin

  /** Q68 — the TPC-H Q3 shape through the SQL front door: a 3-table
    * join with selective filters on BOTH dimension sides, submitted as
    * one SQL string so the parser → analyzer → optimizer pipeline (join
    * ordering, filter pushdown through joins, top-k as TakeOrdered) is
    * what's under test — the reference has no SQL entry point at all.
    * Revenue in exact decimal; epoch-ms order date for comparator-safe
    * output. */
  def shippingPriority(spark: SparkSession, dir: String): DataFrame = {
    Tables.customer(spark, dir).createOrReplaceTempView("customer_v")
    Tables.orders(spark, dir).createOrReplaceTempView("orders_v")
    Tables.lineitem(spark, dir).createOrReplaceTempView("lineitem_v")
    spark.sql(
      """SELECT l_orderkey,
        |  round(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))
        |      * CAST(1 - l_discount AS DECIMAL(18,4))) AS DOUBLE), 4) AS revenue,
        |  unix_millis(cast(o_orderdate as timestamp)) AS order_ms,
        |  o_orderpriority
        |FROM customer_v JOIN orders_v ON c_custkey = o_custkey
        |JOIN lineitem_v ON l_orderkey = o_orderkey
        |WHERE c_mktsegment = 'BUILDING'
        |  AND o_orderdate < TIMESTAMP '1996-07-01 00:00:00'
        |  AND l_shipdate > TIMESTAMP '1996-07-01 00:00:00'
        |GROUP BY l_orderkey, o_orderdate, o_orderpriority
        |ORDER BY revenue DESC, order_ms, l_orderkey
        |LIMIT 10""".stripMargin)
  }

  val shippingPrioritySql: String =
    """SELECT l_orderkey,
      |  round(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))
      |      * CAST(1 - l_discount AS DECIMAL(18,4))) AS DOUBLE), 4) AS revenue,
      |  epoch_ms(o_orderdate) AS order_ms,
      |  o_orderpriority
      |FROM customer JOIN orders ON c_custkey = o_custkey
      |JOIN lineitem ON l_orderkey = o_orderkey
      |WHERE c_mktsegment = 'BUILDING'
      |  AND o_orderdate < TIMESTAMP '1996-07-01 00:00:00'
      |  AND l_shipdate > TIMESTAMP '1996-07-01 00:00:00'
      |GROUP BY l_orderkey, o_orderdate, o_orderpriority
      |ORDER BY revenue DESC, order_ms, l_orderkey
      |LIMIT 10""".stripMargin

  /** Q134 — ABC (Pareto) inventory analysis per nation: parts classed by
    * cumulative revenue share — A up to 800‰, B to 950‰, C the tail —
    * the 80/20 stocking-policy verb. Revenue is the exact decimal
    * extended-price sum; the running share is integer permille of
    * DECIMAL(38) cents so every class boundary replays exactly; the
    * cumulative window partitions by nation (never a global sort).
    * Output: per (nation, class): part count and revenue cents. */
  def abcAnalysis(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val rev = Tables.lineitem(spark, dir)
      .join(Tables.supplier(spark, dir),
        col("l_suppkey") === col("s_suppkey"))
      .groupBy(col("s_nationkey").as("nation"), col("l_partkey").as("part"))
      .agg((sum(col("l_extendedprice").cast("decimal(18,2)")) * 100)
        .cast("decimal(38,0)").as("cents"))
    val w = Window.partitionBy(col("nation"))
      .orderBy(col("cents").desc, col("part").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val tot = Window.partitionBy(col("nation"))
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    rev
      .withColumn("cum", sum(col("cents")).over(w))
      .withColumn("tot", sum(col("cents")).over(tot))
      .withColumn("share_permille", expr("cast(cum * 1000 div tot as bigint)"))
      .withColumn("abc_class",
        when(col("share_permille") <= 800, "A")
          .when(col("share_permille") <= 950, "B")
          .otherwise("C"))
      .groupBy(col("nation"), col("abc_class"))
      .agg(count(lit(1)).as("n_parts"),
        expr("cast(sum(cents) as bigint)").as("revenue_cents"))
      .orderBy(col("nation"), col("abc_class"))
  }

  val abcAnalysisSql: String =
    """WITH rev AS (
      |  SELECT s.s_nationkey AS nation, l.l_partkey AS part,
      |    CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))) * 100 AS HUGEINT) AS cents
      |  FROM lineitem l JOIN supplier s ON l.l_suppkey = s.s_suppkey
      |  GROUP BY 1, 2),
      |c AS (
      |  SELECT nation, part, cents,
      |    SUM(cents) OVER (PARTITION BY nation ORDER BY cents DESC, part ASC
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
      |    SUM(cents) OVER (PARTITION BY nation) AS tot
      |  FROM rev),
      |k AS (
      |  SELECT nation, part, cents,
      |    CASE WHEN cum * 1000 // tot <= 800 THEN 'A'
      |         WHEN cum * 1000 // tot <= 950 THEN 'B'
      |         ELSE 'C' END AS abc_class
      |  FROM c)
      |SELECT nation, abc_class, CAST(COUNT(*) AS BIGINT) AS n_parts,
      |  CAST(SUM(cents) AS BIGINT) AS revenue_cents
      |FROM k GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  /** Q135 — functional-dependency DISCOVERY over a fixed candidate set
    * (the q51 profiling family's constraint-mining half): for each
    * candidate A → B, compare |distinct A| with |distinct (A, B)| — the
    * FD holds iff equal, and the violation count (pairs beyond one B per
    * A) is their difference. One pass per candidate over two exact
    * distinct aggregates; candidates over `orders` columns. */
  def fdDiscovery(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir)
    val candidates = Seq(
      ("o_orderkey", "o_custkey"), // key → anything: must HOLD
      ("o_custkey", "o_orderpriority"), // many orders per cust: violates
      ("o_orderstatus", "o_orderpriority"), // tiny domains: almost surely violates
      ("o_custkey", "o_orderstatus"))
    val rows = candidates.map { case (a, b) =>
      o.agg(
        lit(a).as("lhs"), lit(b).as("rhs"),
        countDistinct(col(a)).as("n_lhs"),
        countDistinct(col(a), col(b)).as("n_pairs"))
    }
    rows.reduce(_ unionByName _)
      .withColumn("holds", (col("n_pairs") === col("n_lhs")).cast("int"))
      .withColumn("violations", col("n_pairs") - col("n_lhs"))
      .orderBy(col("lhs"), col("rhs"))
  }

  val fdDiscoverySql: String = {
    val cands = Seq(
      ("o_orderkey", "o_custkey"),
      ("o_custkey", "o_orderpriority"),
      ("o_orderstatus", "o_orderpriority"),
      ("o_custkey", "o_orderstatus"))
    cands.map { case (a, b) =>
      s"""SELECT '$a' AS lhs, '$b' AS rhs,
         |  CAST(COUNT(DISTINCT $a) AS BIGINT) AS n_lhs,
         |  CAST(COUNT(DISTINCT ($a, $b)) AS BIGINT) AS n_pairs,
         |  CAST(CASE WHEN COUNT(DISTINCT ($a, $b)) = COUNT(DISTINCT $a)
         |       THEN 1 ELSE 0 END AS INTEGER) AS holds,
         |  CAST(COUNT(DISTINCT ($a, $b)) - COUNT(DISTINCT $a) AS BIGINT) AS violations
         |FROM orders""".stripMargin
    }.mkString("", "\nUNION ALL\n", "\nORDER BY lhs, rhs")
  }

  def defs: Seq[QueryDef] = Seq(
    QueryDef("q134_abc_analysis", abcAnalysis, Some(abcAnalysisSql)),
    QueryDef("q135_fd_discovery", fdDiscovery, Some(fdDiscoverySql)),
    QueryDef("q7_pricing_summary", pricingSummary, Some(pricingSummarySql)),
    QueryDef("q7b_revenue_by_nation", revenueByNation, Some(revenueByNationSql)),
    QueryDef("q11_top_orders", topOrders, Some(topOrdersSql)),
    QueryDef("q11b_top_customer_per_nation", topCustomerPerNation, Some(topCustomerPerNationSql)),
    QueryDef("q23_rollup", revenueRollup, Some(revenueRollupSql)),
    QueryDef("q24_running_totals", runningTotals, Some(runningTotalsSql)),
    QueryDef("q25_approx_distinct", approxDistinct, Some(approxDistinctSql)),
    QueryDef("q43_status_pivot", statusPivot, Some(statusPivotSql)),
    QueryDef("q75_status_unpivot", statusUnpivot, Some(statusUnpivotSql)),
    QueryDef("q44_revenue_cube", revenueCube, Some(revenueCubeSql)),
    QueryDef("q48_heavy_hitters", heavyHitters, Some(heavyHittersSql)),
    QueryDef("q71_quantile_histogram", quantileHistogram, Some(quantileHistogramSql)),
    QueryDef("q49_zorder", zorderKeys, Some(zorderKeysSql)),
    QueryDef("q51_profile", profileTable, Some(profileTableSql)),
    QueryDef("q52_salted_join", saltedRevenue, Some(saltedRevenueSql)),
    QueryDef("q57_grouping_sets", groupingSets, Some(groupingSetsSql)),
    QueryDef("q61_deciles", deciles, Some(decilesSql)),
    QueryDef("q62_correlated_subquery", correlatedSubquery, Some(correlatedSubquerySql)),
    QueryDef("q63_set_ops", setOps, Some(setOpsSql)),
    QueryDef("q65_correlation", correlation, Some(correlationSql)),
    QueryDef("q67_copurchase", copurchase, Some(copurchaseSql)),
    QueryDef("q68_shipping_priority", shippingPriority, Some(shippingPrioritySql)))
}
