package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Similarity search over embedding columns (`array<float>`) —
  * BASELINE.json north-star.
  *
  * Three tiers:
  *   1. `cosine` / `bruteForceTopK` — exact, scan-everything baseline.
  *      At 100 TB this is a single narrow map + TakeOrdered (per-partition
  *      top-k, tiny reduce) per query vector; fine for few queries.
  *   2. `quantizedCosine` — the same computation on floor(x*1000) BIGINTs:
  *      exact integer dot/norms, so results are engine-reproducible (used
  *      by the DuckDB-checked query surface).
  *   3. `hyperplaneLsh*` — random-hyperplane signatures: candidate
  *      generation becomes an equi-join on the signature bucket, the
  *      scale path for all-pairs / many-query workloads.
  */
object Similarity {

  /** Cosine similarity of two equal-length float-array columns, computed
    * in double via the native one-pass kernel (the higher-order
    * `aggregate(zip_with(...))` form evaluates interpreted per element —
    * ~20× slower in verification-heavy paths). */
  def cosine(a: Column, b: Column): Column =
    graft.functions.NativeExpressions.cosineSim(a, b)

  /** floor(x*1000) quantization — engine-independent exact ints. */
  def quantize(v: Column): Column =
    transform(v, x => floor(x.cast("double") * 1000).cast("long"))

  /** Cosine from quantized vectors: integer dot and norms (exact,
    * order-free), one double division at the end — bit-identical across
    * engines. */
  def quantizedCosine(qa: Column, qb: Column): Column = {
    val dot = aggregate(zip_with(qa, qb, (x, y) => x * y), lit(0L), _ + _).cast("double")
    val na = aggregate(transform(qa, x => x * x), lit(0L), _ + _).cast("double")
    val nb = aggregate(transform(qb, x => x * x), lit(0L), _ + _).cast("double")
    dot / (sqrt(na) * sqrt(nb))
  }

  /** Exact top-k neighbours of one query vector (given as a 1-row frame
    * with column `q`). Broadcast of the single-row side + TakeOrdered —
    * no shuffle of the corpus. */
  def bruteForceTopK(corpus: DataFrame, idCol: String, vecCol: String,
      query: DataFrame, k: Int): DataFrame =
    corpus.crossJoin(broadcast(query))
      .withColumn("cosine", cosine(col(vecCol), col("q")))
      .select(col(idCol), col("cosine"))
      .orderBy(col("cosine").desc, col(idCol).asc)
      .limit(k)

  /** All-pairs near-neighbour candidates via multi-table sign-projection
    * LSH: `tables` independent sign signatures of `planes` Rademacher
    * hyperplanes each; a pair is a candidate if it collides in ANY table
    * (recall 1-(1-s^planes)^tables for angular similarity s), then
    * verified with the engine-reproducible quantized cosine. Candidates
    * come from one capped grouping per bucket key (table, signature)
    * ([[Dedup.bucketPairs]]) — never a cross join; `maxBucket` drops
    * degenerate buckets whole (the near-zero-vector bucket at 100 TB would
    * otherwise pair quadratically).
    *
    * Every stage is integer-exact and hash-derived (see
    * NativeExpressions.RademacherSigs), so the whole candidate set AND the
    * verified pairs are bit-reproducible by the DuckDB oracle — the ANN
    * scale path is correctness-gated, not just recall-spec'd.
    *
    * `maxDegree > 0` additionally caps each node's verified pairs to its
    * `maxDegree` highest-cosine neighbors (union semantics,
    * Dedup.capPairDegree): on a dup-heavy corpus the verified pair set is
    * output-quadratic by construction — a cluster of m near-identical
    * vectors yields Θ(m²) pairs however well the buckets are capped — and
    * the per-node cap bounds it at 2·maxDegree·n with the drop rate
    * measured, not silent (ScaleProbe). The plan is always lazy: the
    * signature table's only consumer is the bucket grouping, so nothing
    * is materialized. */
  def lshNearDupPairs(corpus: DataFrame, idCol: String, vecCol: String,
      dim: Int, planes: Int = 6, tables: Int = 16,
      cosineThreshold: Double = 0.9, maxBucket: Int = 5000,
      maxDegree: Int = 0): DataFrame = {
    // spread before the CPU-dense signature computation: a single small
    // parquet file otherwise serializes all projection dots onto one task.
    // All tables' signatures come from one native kernel pass per vector
    // (tight primitive loops; the higher-order-lambda formulation was
    // ~50× slower), then explode to (table, sig) rows.
    val signed = Dedup.spread(corpus.select(col(idCol).as("id"), col(vecCol).as("v")))
      .select(col("id"),
        posexplode(graft.functions.NativeExpressions.rademacherSigs(
          col("v"), tables, planes, dim)).as(Seq("t", "sig")))
    // candidate pairs carry ONLY scalar ids: dropDuplicates over array
    // payloads would plan as SortAggregate(first(v)) — a full sort of all
    // candidate pairs with 2 vectors each. Dedup the id pairs hash-side,
    // then fetch vectors back from the corpus (unique ids by contract).
    val cand = Dedup.bucketPairs(signed, Seq("t", "sig"), maxBucket)
    val vecs = corpus.select(col(idCol).as("id"), col(vecCol).as("v"))
    val verified = cand
      .join(vecs.select(col("id").as("id_a"), col("v").as("v_a")), Seq("id_a"))
      .join(vecs.select(col("id").as("id_b"), col("v").as("v_b")), Seq("id_b"))
      .withColumn("cosine", graft.functions.NativeExpressions.quantizedCosine(
        col("v_a"), col("v_b")))
      .filter(col("cosine") >= cosineThreshold)
      .select(col("id_a"), col("id_b"), col("cosine"))
    if (maxDegree > 0) Dedup.capPairDegree(verified, maxDegree, "cosine", ascending = false)
    else verified
  }

  // ------------------------------------------- int8 scalar quantization

  /** Per-dimension int8 scalar quantization — the memory-compression step
    * that makes a 100 TB float corpus hold an in-RAM ANN index (4 bytes →
    * 1 byte per component). Two passes, both scale-shaped:
    *   1. per-dimension (lo, hi) ranges: posexplode + groupBy(d) —
    *      map-side partial min/max means each task emits only `dim`×2
    *      values to the (tiny) shuffle;
    *   2. codes: the `dim`-row stats table collapses to ONE broadcast
    *      array row (same pattern as IVF centroid assignment) and coding
    *      is a narrow zip_with — zero shuffle.
    * code = floor((x-lo)/(hi-lo)·255) ∈ [0,255] (hi==lo → 0). All
    * arithmetic is double on exact float inputs, so codes are
    * bit-reproducible across engines (the q40 oracle replays them).
    * Returns (id, codes: array<long>). */
  def scalarQuantize(corpus: DataFrame, idCol: String, vecCol: String): DataFrame = {
    val stats = corpus
      .select(posexplode(col(vecCol)).as(Seq("d", "x")))
      .groupBy(col("d"))
      .agg(min(col("x")).as("lo"), max(col("x")).as("hi"))
    val statsArr = broadcast(stats.agg(
      transform(array_sort(collect_list(struct(col("d"), col("lo"), col("hi")))),
        s => struct(s.getField("lo").as("lo"), s.getField("hi").as("hi"))).as("st")))
    corpus.crossJoin(statsArr)
      .select(col(idCol).as("id"),
        zip_with(col(vecCol), col("st"), (x, s) => {
          val lo = s.getField("lo").cast("double")
          val hi = s.getField("hi").cast("double")
          when(hi === lo, lit(0L))
            .otherwise(floor((x.cast("double") - lo) / (hi - lo) * 255).cast("long"))
        }).as("codes"))
  }

  // ------------------------------------------------------------- IVF-Flat

  /** IVF centroids: deterministic pseudo-random corpus sample (order by
    * xxhash64 of the id) refined by `iters` Lloyd iterations (per-cell
    * elementwise mean of assigned vectors, max-cosine assignment). Returns
    * (cell, cv: array<float>).
    *
    * Scale: each Lloyd iteration is one narrow assignment pass (broadcast
    * centroids, zero shuffle) + one aggregation over (cell, pos) rows —
    * the standard distributed k-means step. Empty cells keep their previous
    * centroid. */
  def ivfCentroids(corpus: DataFrame, idCol: String, vecCol: String, k: Int,
      iters: Int = 2): DataFrame = {
    val vecs = corpus.select(col(idCol).as("id"), col(vecCol).as("v"))
    var cents = corpus
      .orderBy(xxhash64(col(idCol)))
      .limit(k)
      .select(col(idCol).as("cell"), col(vecCol).as("cv"))
    for (_ <- 0 until iters) {
      val means = assignCells(vecs, cents)
        .select(col("cell"), posexplode(col("v")).as(Seq("pos", "x")))
        .groupBy(col("cell"), col("pos")).agg(avg(col("x")).as("m"))
        .groupBy(col("cell"))
        .agg(sort_array(collect_list(struct(col("pos"), col("m")))).as("pm"))
        .select(col("cell"),
          transform(col("pm"), p => p.getField("m").cast("float")).as("mv"))
      // empty cells fall back to their previous centroid (left join)
      cents = cents.join(means, Seq("cell"), "left_outer")
        .select(col("cell"), coalesce(col("mv"), col("cv")).as("cv"))
        // tiny (k rows) — materialize so the lineage doesn't re-run
        // assignment passes per downstream consumer
        .localCheckpoint(true)
    }
    cents
  }

  /** Max-cosine cell assignment with ZERO shuffle: centroids collapse to a
    * single broadcast array-of-structs row, and the argmax is a per-row
    * array_max over struct(sim, -cell) — highest cosine, ties to the
    * lowest cell id. (A row_number window here would shuffle+sort
    * corpus×k rows just to take an argmax.) Returns (id, v, cell). */
  private def assignCells(vecs: DataFrame, centroids: DataFrame): DataFrame = {
    val centArr = broadcast(
      centroids.agg(collect_list(struct(col("cell"), col("cv"))).as("cents")))
    vecs.crossJoin(centArr)
      .withColumn("best", array_max(transform(col("cents"), c => struct(
        graft.functions.NativeExpressions.cosineSim(col("v"), c.getField("cv")).as("sim"),
        (-c.getField("cell")).as("negcell")))))
      .select(col("id"), col("v"), (-col("best.negcell")).as("cell"))
  }

  /** IVF cell assignment for the full corpus against pre-built centroids
    * (build them once with `ivfCentroids` and share with `ivfTopK` — means
    * are FP-order-dependent, so re-deriving would risk a divergent index).
    * Returns (id, v, cell) — at 100 TB this is what gets written
    * partitioned/bucketed by `cell`. */
  def ivfAssign(corpus: DataFrame, idCol: String, vecCol: String,
      centroids: DataFrame): DataFrame =
    assignCells(corpus.select(col(idCol).as("id"), col(vecCol).as("v")), centroids)

  /** IVF top-k: probe the `nProbe` cells whose centroids are nearest the
    * query, exact-cosine only within those cells. At 100 TB the index is
    * written partitioned by `cell`, so probing prunes partitions at the
    * source — the scan touches nProbe/k of the corpus. `centroids` must be
    * the same frame the index was assigned with. */
  def ivfTopK(index: DataFrame, centroids: DataFrame,
      query: DataFrame, k: Int, nProbe: Int): DataFrame = {
    val probed = centroids.crossJoin(broadcast(query))
      .withColumn("sim", graft.functions.NativeExpressions.cosineSim(col("cv"), col("q")))
      .orderBy(col("sim").desc, col("cell").asc)
      .limit(nProbe)
      .select(col("cell"))
    index.join(broadcast(probed), Seq("cell"))
      .crossJoin(broadcast(query))
      .withColumn("cosine", graft.functions.NativeExpressions.cosineSim(col("v"), col("q")))
      .select(col("id"), col("cosine"))
      .orderBy(col("cosine").desc, col("id").asc)
      .limit(k)
  }

  // --------------------------------------- integer-exact IVF (oracle path)

  /** The float `ivfCentroids` means are FP-summation-order-dependent, so
    * that index can only ever be recall-checked. This variant is built so
    * an independent engine replays the WHOLE index bit-for-bit: vectors
    * quantized to floor(x·1000) longs, seeds picked by the portable md5
    * hash of the id, and centroids kept as per-cell component SUMS —
    * cosine is scale-invariant, so argmax-cosine against a sum-centroid is
    * IDENTICAL to against the mean, and integer sums are engine-exact
    * where FP means are not. Assignment stays the zero-shuffle broadcast
    * argmax (highest cosine, ties to lowest cell).
    *
    * Overflow bound: |component| ≤ 1000·n_cell, so the centroid norm needs
    * dim·(1000·n_cell)² < 2^63 — n_cell up to ~10^7 at dim 64. Beyond
    * that, right-shift the sums once per 2× growth (cosine-invariant).
    * Returns (cell, cv: array<long>). */
  def ivfExactCentroids(corpus: DataFrame, idCol: String, vecCol: String,
      k: Int, iters: Int = 1): DataFrame = {
    val qvecs = corpus.select(col(idCol).as("id"), quantize(col(vecCol)).as("qv"))
    var cents = qvecs
      .orderBy(graft.functions.TextFunctions.portableHash60(col("id").cast("string")),
        col("id"))
      .limit(k)
      .select(col("id").as("cell"), col("qv").as("cv"))
      .localCheckpoint(true)
    for (_ <- 0 until iters) {
      val sums = ivfExactAssign(qvecs, cents)
        .select(col("cell"), posexplode(col("qv")).as(Seq("pos", "x")))
        .groupBy(col("cell"), col("pos")).agg(sum(col("x")).as("sc"))
        .groupBy(col("cell"))
        .agg(sort_array(collect_list(struct(col("pos"), col("sc")))).as("ps"))
        .select(col("cell"), transform(col("ps"), p => p.getField("sc")).as("sv"))
      // empty cells keep their seed/previous centroid
      cents = cents.join(sums, Seq("cell"), "left_outer")
        .select(col("cell"), coalesce(col("sv"), col("cv")).as("cv"))
        .localCheckpoint(true)
    }
    cents
  }

  /** Zero-shuffle exact assignment: centroids collapse to one broadcast
    * array row; per-row argmax over struct(sim, -cell) — engine-exact
    * integer dot/norms (NativeExpressions.LongCosine), deterministic
    * lowest-cell tiebreak. Returns (id, qv, cell). */
  def ivfExactAssign(qvecs: DataFrame, centroids: DataFrame): DataFrame = {
    val centArr = broadcast(
      centroids.agg(collect_list(struct(col("cell"), col("cv"))).as("cents")))
    qvecs.crossJoin(centArr)
      .withColumn("best", array_max(transform(col("cents"), c => struct(
        graft.functions.NativeExpressions.longCosine(col("qv"), c.getField("cv")).as("sim"),
        (-c.getField("cell")).as("negcell")))))
      .select(col("id"), col("qv"), (-col("best.negcell")).as("cell"))
  }

  // ------------------------------------------- product quantization (PQ)

  /** Doc × subspace subvectors: split each quantized vector into `m`
    * contiguous `dsub`-dim blocks. The explode is 1→m (tiny) and the
    * slice is row-local. Returns (id, s, sv). */
  def pqSubvectors(qvecs: DataFrame, m: Int, dsub: Int): DataFrame =
    qvecs.select(col("id"), explode(sequence(lit(0), lit(m - 1))).as("s"), col("qv"))
      .select(col("id"), col("s"),
        slice(col("qv"), col("s") * dsub + 1, lit(dsub)).as("sv"))

  /** PQ codebook: `ksub` entries per subspace, taken from the `ksub`
    * corpus vectors with the smallest portable-md5 id hash (a
    * deterministic pseudo-random sample; codes are their hash-order
    * ranks). The sample is `orderBy(...).limit(ksub)` — a distributed
    * TakeOrdered, NOT a global sort — and the row_number window then runs
    * on ksub rows only. Returns (s, code, cv). Refinement to k-means
    * codebooks follows the ivfExactCentroids sum-centroid pattern if
    * recall demands it; seeds keep the whole index replayable with the
    * simplest possible oracle. */
  def pqCodebook(qvecs: DataFrame, m: Int, dsub: Int, ksub: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val seeds = qvecs
      .withColumn("h", graft.functions.TextFunctions.portableHash60(col("id").cast("string")))
      .orderBy(col("h"), col("id"))
      .limit(ksub)
      .withColumn("code", row_number().over(Window.orderBy(col("h"), col("id"))) - 1)
      .select(col("id"), col("code"))
    pqSubvectors(qvecs, m, dsub).join(broadcast(seeds), Seq("id"))
      .select(col("s"), col("code"), col("sv").as("cv"))
  }

  /** PQ encoding: per (doc, subspace), the codebook entry with minimal
    * squared L2 distance (exact integer arithmetic; ties to the lowest
    * code). The candidate join is broadcast (m·ksub rows) and the argmin
    * is a hash aggregation (ArgMaxByOrd — no sort). min(d2) is the
    * winner's distance by construction. Returns (id, s, code, d2). */
  def pqEncode(qvecs: DataFrame, codebook: DataFrame, m: Int, dsub: Int): DataFrame =
    pqSubvectors(qvecs, m, dsub)
      .join(broadcast(codebook), Seq("s"))
      // native one-pass Σ(x−y)² — the interpreted aggregate(zip_with(...))
      // lambda tree evaluated per element per candidate code (m·ksub
      // evaluations per doc) and dominated the encode stage's task time
      .withColumn("d2", graft.functions.NativeExpressions.sqDiffSumLong(
        col("sv"), col("cv")))
      .groupBy(col("id"), col("s"))
      .agg(
        graft.functions.NativeExpressions.argMaxBy(
          col("code").cast("long"), -col("d2"), -col("code").cast("long")).as("code"),
        min(col("d2")).as("d2"))

  /** Integer-exact IVF probe: same partition-pruning shape as `ivfTopK`
    * but every number on the way to the ranking is engine-reproducible.
    * `query` is a 1-row frame with a QUANTIZED vector column `q`. */
  def ivfExactTopK(index: DataFrame, centroids: DataFrame,
      query: DataFrame, k: Int, nProbe: Int): DataFrame = {
    val probed = centroids.crossJoin(broadcast(query))
      .withColumn("sim", graft.functions.NativeExpressions.longCosine(col("cv"), col("q")))
      .orderBy(col("sim").desc, col("cell").asc)
      .limit(nProbe)
      .select(col("cell"))
    index.join(broadcast(probed), Seq("cell"))
      .crossJoin(broadcast(query))
      .withColumn("cosine", graft.functions.NativeExpressions.longCosine(col("qv"), col("q")))
      .select(col("id"), col("cosine"))
      .orderBy(col("cosine").desc, col("id").asc)
      .limit(k)
  }

  /** BATCHED integer-exact IVF probe — the serving shape a real ANN
    * deployment runs: a (small) batch of query vectors against one
    * shared index, one job. `queries` carries (query_id, q: quantized);
    * output is each query's top-`k` as (query_id, id, cosine, rank).
    *
    * Scale shape: the probe table (|queries| × nProbe cells, carrying
    * the query vectors) BROADCASTS onto the index — the corpus is never
    * shuffled and unprobed cells never leave the scan (partition-pruned
    * when the index is written partitionBy(cell)). Both rankings are
    * per-query row_number windows with a rank filter, so they plan as
    * WindowGroupLimit: map-side partial top-k, no global sort, and the
    * one exchange carries ≤ (probed candidates) rows keyed by query_id.
    * Self-matches rank first by construction (cosine 1.0) — callers
    * that probe corpus members filter them from `queries`' results.
    * Every number is engine-reproducible (integer dot/norms, id
    * tiebreaks) — the q79 oracle replays the whole batch. */
  def ivfExactTopKMany(index: DataFrame, centroids: DataFrame,
      queries: DataFrame, k: Int, nProbe: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    ivfCandidates(index, centroids, queries, nProbe)
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("query_id")).orderBy(col("cosine").desc, col("id").asc)))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("id"), col("cosine"), col("rank"))
  }

  /** The candidates of [[ivfExactTopKMany]] before its ranking: every
    * vector in each query's `nProbe` nearest cells, with its exact
    * cosine to the query, as (cell, id, qv, query_id, q, cosine). */
  def ivfCandidates(index: DataFrame, centroids: DataFrame,
      queries: DataFrame, nProbe: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val probed = queries.crossJoin(broadcast(centroids))
      .withColumn("sim", graft.functions.NativeExpressions.longCosine(col("cv"), col("q")))
      .withColumn("__rk", row_number().over(
        Window.partitionBy(col("query_id")).orderBy(col("sim").desc, col("cell").asc)))
      .filter(col("__rk") <= nProbe)
      .select(col("query_id"), col("q"), col("cell"))
    index.join(broadcast(probed), Seq("cell"))
      .withColumn("cosine", graft.functions.NativeExpressions.longCosine(col("qv"), col("q")))
  }

  /** HARD-NEGATIVE mining for contrastive training (the SimCSE/DPR data
    * prep verb): for each probe vector, the top-k most-similar corpus
    * vectors carrying a DIFFERENT label — maximally confusing negatives,
    * the ones a contrastive loss learns most from. Exact quantized
    * cosine (the q15 convention, engine-replayable bit-for-bit); the
    * probe set is the BOUNDED side and broadcasts, the corpus scans once,
    * and the per-probe top-k is a WindowGroupLimit ranking partitioned
    * by probe — nothing global sorts, output is k rows per probe. */
  def hardNegatives(corpus: DataFrame, idCol: String, vecCol: String,
      labelCol: String, probes: DataFrame, k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val p = probes.select(col(idCol).as("probe_id"), col(vecCol).as("__pv"),
      col(labelCol).as("__pl"))
    corpus.select(col(idCol).as("neg_id"), col(vecCol).as("__cv"),
        col(labelCol).as("label"))
      .crossJoin(broadcast(p))
      .filter(col("neg_id") =!= col("probe_id") && col("label") =!= col("__pl"))
      .withColumn("cosine", graft.functions.NativeExpressions.quantizedCosine(
        col("__cv"), col("__pv")))
      .withColumn("rank", row_number().over(Window.partitionBy(col("probe_id"))
        .orderBy(col("cosine").desc, col("neg_id").asc)))
      .filter(col("rank") <= k)
      .select(col("probe_id"), col("rank").cast("long").as("rank"),
        col("neg_id"), col("label"), col("cosine"))
  }

  /** 1-bit BINARY QUANTIZATION code of a quantized vector column: each
    * dimension collapses to its sign bit (qv[i] > 0 under the
    * engine-portable floor(x*1000) quantization), packed 32 dims per
    * BIGINT word — dim 64 → two words = 16 bytes/vector vs 256 for raw
    * floats, the 16× in-memory compression that lets a 100 TB corpus's
    * code table fit where its vectors cannot (the modern vector-DB
    * memory-scale posture: binary codes resident, raw vectors fetched
    * only for the bounded rerank set). 32-bit words, not 64, so the
    * packed sum never touches the BIGINT sign bit and the same
    * shift-and-sum replays exactly in the SQL oracle. */
  def binaryCode(df: DataFrame, qvCol: String, dim: Int, outCol: String): DataFrame = {
    require(dim % 32 == 0, s"dim $dim not a multiple of the 32-bit word width")
    val words = (0 until dim / 32).map { w =>
      expr(s"""aggregate(zip_with(slice($qvCol, ${w * 32 + 1}, 32), sequence(0, 31),
              |  (x, i) -> IF(x > 0L, shiftleft(1L, i), 0L)), 0L, (a, b) -> a + b)"""
        .stripMargin)
    }
    df.withColumn(outCol, array(words: _*))
  }

  /** Hamming distance between two packed binary-code columns (equal word
    * count): popcount of the per-word XOR, summed. */
  def hammingDistance(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => bit_count(x.bitwiseXOR(y)).cast("long")),
      lit(0L), _ + _)

  /** BINARY-QUANTIZED ANN — Hamming prefilter + exact rerank, the
    * two-phase shape every binary-code vector store runs at scale:
    *
    *   phase 1 (codes only): scan the NARROW (id, code) projection —
    *     16 bytes/vector — against the broadcast probe codes, keep each
    *     probe's `m` Hamming-nearest candidates (WindowGroupLimit keeps
    *     the top-m partial per input split, so the shuffle carries
    *     survivors, not the corpus×probes product);
    *   phase 2 (vectors, bounded): the |probes|·m survivor set
    *     broadcasts back onto the corpus to fetch raw vectors — a
    *     broadcast hash join, the corpus never shuffles — and the exact
    *     quantized cosine re-ranks to top-k.
    *
    * Raw vectors are touched for survivors only; everything upstream of
    * the rerank reads 16-byte codes. Both phases are integer-exact with
    * (distance, id) tie-breaks, so the SQL oracle replays pack, XOR
    * popcount, prefilter cut, and rerank bit-for-bit. */
  def binaryAnnTopK(corpus: DataFrame, idCol: String, vecCol: String,
      probes: DataFrame, dim: Int, m: Int, k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val codes = binaryCode(
      corpus.select(col(idCol).as("vec_id"), quantize(col(vecCol)).as("__qv")),
      "__qv", dim, "__code").select(col("vec_id"), col("__code"))
    val pcodes = binaryCode(
      probes.select(col(idCol).as("probe_id"), quantize(col(vecCol)).as("__pqv")),
      "__pqv", dim, "__pcode")
    val survivors = codes
      .crossJoin(broadcast(pcodes.select(col("probe_id"), col("__pcode"))))
      .filter(col("vec_id") =!= col("probe_id"))
      .withColumn("hamming", hammingDistance(col("__code"), col("__pcode")))
      .withColumn("__hrank", row_number().over(Window.partitionBy(col("probe_id"))
        .orderBy(col("hamming").asc, col("vec_id").asc)))
      .filter(col("__hrank") <= m)
      .select(col("probe_id"), col("vec_id"), col("hamming"))
    corpus.select(col(idCol).as("vec_id"), col(vecCol).as("__cv"))
      .join(broadcast(survivors), Seq("vec_id"))
      .join(broadcast(probes.select(col(idCol).as("probe_id"),
        col(vecCol).as("__pv"))), Seq("probe_id"))
      .withColumn("cosine", graft.functions.NativeExpressions.quantizedCosine(
        col("__cv"), col("__pv")))
      .withColumn("rank", row_number().over(Window.partitionBy(col("probe_id"))
        .orderBy(col("cosine").desc, col("vec_id").asc)))
      .filter(col("rank") <= k)
      .select(col("probe_id"), col("rank").cast("long").as("rank"),
        col("vec_id"), col("hamming"), col("cosine"))
  }

  /** MAXIMAL-MARGINAL-RELEVANCE re-ranking (Carbonell & Goldstein 1998) —
    * the serving-side diversification step after a top-k retrieval: from
    * a BOUNDED candidate page (id, vector, relevance), greedily pick k
    * results maximizing  λ·rel(i) − (1−λ)·max_{j∈selected} sim(i, j),
    * so near-duplicate hits don't crowd the page. The empty-set maximum
    * is 0, so pick 1 maximizes λ·rel. Ties break on id ascending at
    * every step (same contract as every top-k in the suite).
    *
    * All similarities are the exact quantized cosine (q15 convention), so
    * a SQL oracle replays every greedy step bit-for-bit. The candidate
    * page is a serving artifact (tens of rows), NOT a corpus: it is
    * localCheckpointed once, the pairwise sim table is |cand|² rows, and
    * each of the k greedy steps is an anti-join + argmax over that
    * bounded table — corpus scans never repeat, nothing here grows with
    * corpus size. Reference correspondence: the reference serves ranked
    * pages from its changelog store (service.kt:22-80); diversification
    * is an extension operator from the public IR literature. */
  def mmrRerank(candidates: DataFrame, idCol: String, vecCol: String,
      relCol: String, k: Int, lambda: Double): DataFrame = {
    val base = candidates.select(col(idCol).as("id"), col(vecCol).as("__v"),
      col(relCol).cast("double").as("rel")).localCheckpoint(true)
    val sims = base.select(col("id").as("a"), col("__v").as("__va"))
      .crossJoin(base.select(col("id").as("b"), col("__v").as("__vb")))
      .filter(col("a") =!= col("b"))
      .select(col("a"), col("b"), graft.functions.NativeExpressions.quantizedCosine(
        col("__va"), col("__vb")).as("sim"))
      .localCheckpoint(true)
    val first = base
      .select(col("id"), col("rel"), (lit(lambda) * col("rel")).as("mmr_score"))
      .orderBy(col("mmr_score").desc, col("id").asc).limit(1)
      .select(lit(1L).as("rank"), col("id"), col("rel"), col("mmr_score"))
    var selected = first.localCheckpoint(true)
    var out = selected
    for (step <- 2 to k) {
      val selIds = selected.select(col("id"))
      val maxSim = sims.join(selIds.withColumnRenamed("id", "b"), Seq("b"))
        .groupBy(col("a")).agg(max(col("sim")).as("max_sim"))
      val pick = base.join(selIds, Seq("id"), "left_anti")
        .join(maxSim.withColumnRenamed("a", "id"), Seq("id"))
        .select(col("id"), col("rel"),
          (lit(lambda) * col("rel") - lit(1.0 - lambda) * col("max_sim"))
            .as("mmr_score"))
        .orderBy(col("mmr_score").desc, col("id").asc).limit(1)
        .select(lit(step.toLong).as("rank"), col("id"), col("rel"),
          col("mmr_score"))
      selected = selected.unionByName(pick).localCheckpoint(true)
      out = selected
    }
    out
  }
}
