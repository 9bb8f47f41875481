package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deduplication operators for the training-data pipeline
  * (BASELINE.json north-star). The reference's only dedup primitive is a
  * SHA-1 content digest (reference: participants/implementations.kt:41-52);
  * exact dedup generalizes that, and MinHash/SimHash/Jaccard add the
  * near-duplicate family a 100 TB corpus needs.
  *
  * Scale design, common to all ops here:
  *   - candidate generation is always *bucketed* (LSH bands / simhash
  *     chunks / blocking keys) so the self-join is an equi-join on the
  *     bucket key — never an O(n²) cross join;
  *   - per-doc work (shingling, signatures) is narrow higher-order-array
  *     computation — no shuffle, no UDF, no driver involvement;
  *   - hot buckets (degenerate content) are capped before pairing so one
  *     pathological key cannot produce a quadratic blowup.
  */
object Dedup {

  // ---------------------------------------------------------------- exact

  /** Exact dedup groups by content digest: one shuffle on the hash.
    * Returns (digest, n_docs, keep_id = min id). */
  def exactGroups(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.withColumn("digest", md5(col(textCol).cast("binary")))
      .groupBy(col("digest"))
      .agg(count(lit(1)).as("n_docs"), min(col(idCol)).as("keep_id"))

  // ------------------------------------------------------------- shingles

  /** Distinct word n-gram shingles; documents shorter than n collapse to a
    * single whole-text shingle (so every doc has ≥1). Native one-pass
    * kernel — the expression form (CASE + transform + slice over split)
    * re-split the text per shingle, interpreted. */
  def wordShingles(text: Column, n: Int): Column =
    graft.functions.NativeExpressions.wordShingles(text, n)

  // -------------------------------------------------------- MinHash + LSH

  /** K-permutation MinHash signature over shingles. Each "permutation" is
    * xxhash64 seeded by the permutation index; min over shingles.
    *
    * Expression form (narrow, per-row) — fine for ad-hoc use, but the
    * nested higher-order lambdas evaluate interpreted (no codegen). The
    * pair pipeline below uses the one-pass native kernel
    * (NativeExpressions.PortableMinHashSigs) instead; `minhashSignatures`
    * (explode + codegen'd hash-aggregate) remains for custom base-hash
    * families. */
  @deprecated("interpreted per-row form (nested higher-order lambdas, no codegen); " +
    "use NativeExpressions.portableMinHashSigs or minhashSignatures instead", "0.4")
  def minhashSignature(shingles: Column, k: Int): Column =
    transform(sequence(lit(0), lit(k - 1)),
      p => array_min(transform(shingles, s => xxhash64(s, p))))

  /** Masks keeping h1 ≤ 60 bits and h2 ≤ 57 bits so h1 + 31·h2 stays
    * below 2^63 — the permutation family then computes with plain 64-bit
    * arithmetic in any engine (DuckDB errors on BIGINT overflow, Spark 4
    * under ANSI mode throws too; bounding the operands sidesteps both).
    * The portable base is already 60-bit, so its oracle needs no h1 mask. */
  val Mask60: Long = (1L << 60) - 1
  val Mask57: Long = (1L << 57) - 1

  /** Two independent base hashes per shingle; permutation p is
    * h1 + p·(h2 & Mask57) — Kirsch-Mitzenmacher double hashing, ONE digest
    * per shingle instead of k. Default: xxhash64 pair (fastest). */
  val xxhashBase: Column => (Column, Column) =
    c => (xxhash64(c), xxhash64(c, lit(1)))

  /** Oracle-checkable base pair: md5 hex chars [1,15] and [16,30] as
    * BIGINTs (`CAST('0x' || substring(md5(x), ...) AS BIGINT)` in DuckDB).
    * h1 is exactly TextFunctions.portableHash60. */
  val portableBase: Column => (Column, Column) = { c =>
    val hx = md5(c.cast("binary"))
    (conv(substring(hx, 1, 15), 16, 10).cast("long"),
      conv(substring(hx, 16, 15), 16, 10).cast("long"))
  }

  /** Signature table via explode + aggregate: one row per (doc, shingle),
    * ONE base-hash computation per row, then k codegen'd
    * `min(h1 + p·h2)` aggregates with map-side combine. Input should be
    * pre-spread across partitions (see `spread`) — shingling is CPU-dense,
    * and a single small parquet file otherwise serializes it onto one
    * task. */
  def minhashSignatures(shingled: DataFrame, k: Int,
      base: Column => (Column, Column) = xxhashBase): DataFrame = {
    // the masks guarantee h1 + p·h2 < 2^63 only for p ≤ 56; beyond that
    // ANSI Spark throws mid-aggregation (or silently wraps with ANSI off)
    require(k <= 57, s"k=$k permutations overflow the masked double-hash family (max 57)")
    val (b1, b2) = base(col("sh"))
    val exploded = shingled.select(col("id"), explode(col("shingles")).as("sh"))
      .select(col("id"), b1.bitwiseAND(lit(Mask60)).as("h1"),
        b2.bitwiseAND(lit(Mask57)).as("h2"))
    val aggs = (0 until k).map(p => min(col("h1") + lit(p.toLong) * col("h2")).as(s"m$p"))
    exploded.groupBy(col("id"))
      .agg(aggs.head, aggs.tail: _*)
      .select(col("id"), array((0 until k).map(p => col(s"m$p")): _*).as("sig"))
  }

  /** Repartition before CPU-dense narrow work: partition count must match
    * cores, not input bytes — a 5 MB parquet file arrives as ONE partition
    * and would serialize minutes of per-row compute onto one task.
    *
    * CONDITIONAL: a corpus-scale input already arrives in thousands of
    * scan partitions, and an unconditional repartition would force a full
    * shuffle of the raw text before shingling for nothing. Only inputs
    * narrower than the core count are spread; everything else passes
    * through exchange-free (PlanAuditSpec pins this).
    *
    * The width probe is PLAN-ONLY — never `df.rdd`: under AQE, converting
    * to an RDD finalizes the adaptive plan, which EXECUTES every upstream
    * query stage once for the probe and again for the real action. Instead
    * the pre-adaptive physical tree is inspected: an input already
    * containing an exchange arrives spark.sql.shuffle.partitions wide
    * (sized by config — pass through, untouched and unexecuted); an
    * exchange-free input's width is its scans' partition count, which is
    * file-listing metadata available at planning time. */
  private[graft] def spread(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.execution.{FileSourceScanExec, RDDScanExec}
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    // A streaming frame has no batch physical plan to probe — asking for
    // queryExecution.sparkPlan runs the batch UnsupportedOperationChecker,
    // which throws on any streaming source. Micro-batch width is the
    // stream engine's job (state-store partitioning), so pass through.
    if (df.isStreaming) return df
    val parallelism = df.sparkSession.sparkContext.defaultParallelism
    val plan = df.queryExecution.sparkPlan
    val width =
      // only SHUFFLE exchanges mean "already wide": a broadcast exchange
      // on a joined dimension says nothing about the streamed side's
      // width — a one-file scan broadcast-joined to a small table would
      // still serialize the downstream compute onto one task
      if (plan.find(_.isInstanceOf[ShuffleExchangeLike]).isDefined) Int.MaxValue
      else plan.collectLeaves().map {
        case scan: FileSourceScanExec => scan.inputRDDs().map(_.getNumPartitions).sum
        // a localCheckpoint'd upstream (the standard materialization here)
        // plans as an RDD-scan leaf whose RDD already exists — its true
        // width is free to read and no AQE stage is finalized by asking
        case rdd: RDDScanExec => rdd.inputRDDs().map(_.getNumPartitions).sum
        case _ => 1 // local/in-memory relation: narrow and cheap to spread
      }.sum
    if (width >= parallelism) df else df.repartition(parallelism * 2)
  }

  /** Drop rows in oversized buckets (degenerate-key guard before a bucket
    * self-join): exact per-key counts (map-side partial aggregation, so
    * only ≤ one narrow row per key per partition crosses the wire), keys
    * over the cap broadcast (tiny by construction — at most
    * totalRows/maxBucket keys), hot rows dropped MAP-SIDE by an anti-join
    * before they ever cross an exchange.
    *
    * History: round 13 used a partitioned window count so the bucket
    * self-join could reuse the window's exchange — measured faster THEN
    * because the anti-join form's count aggregate was re-evaluated once
    * per join side. Two things changed: (a) every self-join consumer now
    * materializes the capped frame (or its input) once, so the aggregate
    * is evaluated once regardless; (b) the window form funneled a
    * degenerate key's rows into ONE task before dropping them — at 100 TB
    * a billion-row boilerplate bucket crossing the wire into a single
    * window partition is a liveness risk, not just wasted bytes (the
    * round-13 verdict's standing skew flag). The two-phase form drops
    * those rows where they sit. */
  private[ops] def dropOversizedBuckets(df: DataFrame, keys: Seq[String],
      maxBucket: Int): DataFrame = {
    val hot = df.groupBy(keys.map(col): _*)
      .agg(count(lit(1)).as("__bucket_n"))
      .filter(col("__bucket_n") > maxBucket)
      .select(keys.map(col): _*)
    df.join(broadcast(hot), keys, "left_anti")
  }

  /** Diagnostic twin of `dropOversizedBuckets` — the no-silent-caps
    * posture, MEASURED: how much would the cap drop on this banded frame?
    * Returns (droppedKeys, droppedRows, totalRows). One aggregation, no
    * effect on the pipeline; ScaleProbe reports these per family so cap
    * drop rates are a recorded number, not an assumption. */
  def bucketCapStats(df: DataFrame, keys: Seq[String], maxBucket: Int): (Long, Long, Long) = {
    val counts = df.groupBy(keys.map(col): _*).agg(count(lit(1)).as("n"))
    val r = counts.agg(
      sum(when(col("n") > maxBucket, 1L).otherwise(0L)).as("dk"),
      sum(when(col("n") > maxBucket, col("n")).otherwise(0L)).as("dr"),
      sum(col("n")).as("tot")).head()
    (r.getLong(0), r.getLong(1), r.getLong(2))
  }

  /** Per-node neighbor cap for VERIFIED near-dup pair sets — the
    * output-volume guard for dup-heavy corpora. A boilerplate cluster of
    * m near-identical documents emits Θ(m²) verified pairs by
    * construction, and at 100 TB m reaches millions — the pair table
    * itself becomes the bottleneck however well the candidate join is
    * bucketed. Keep a pair iff it ranks within the top `k` strongest
    * neighbors of EITHER endpoint (union semantics): every node retains
    * its k best edges, so each output row is still one of SOMEBODY's
    * nearest neighbors, a connected dup cluster stays connected through
    * its members' strongest survivors, and output is bounded by 2k
    * pairs per node — linear, not quadratic.
    *
    * Plan shape: one narrow 1→2 explode symmetrizes each pair into a
    * (node, other) row per endpoint — a node's WHOLE neighbor set lands
    * in one window partition regardless of which pair column it occupied
    * (ranking the id_a and id_b sides separately would let every node's
    * lone-column appearances rank 1 and never drop). The single
    * row_number over (quality, other-id) is deterministic, tie-broken,
    * and replayable by the SQL oracle, and the `rk <= k` filter plans as
    * WindowGroupLimit — partial top-k per key map-side BEFORE the sort,
    * so nothing global is sorted and the shuffle carries ≤ k rows per
    * node after the group limit. One consumer of `pairs`, so no
    * materialization is needed and lineage stays intact. Drop rates are
    * REPORTED, never silent: ScaleProbe measures them per family
    * (capDegreeStats). */
  private[graft] def capPairDegree(pairs: DataFrame, k: Int,
      quality: String, ascending: Boolean): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val sym = pairs.select(explode(array(
        struct(col("id_a").as("node"), col("id_b").as("other"), col(quality).as("q")),
        struct(col("id_b").as("node"), col("id_a").as("other"), col(quality).as("q"))))
        .as("e"))
      .select(col("e.node").as("node"), col("e.other").as("other"),
        col("e.q").as(quality))
    val ord = if (ascending) col(quality).asc else col(quality).desc
    sym
      .withColumn("__rk", row_number().over(
        Window.partitionBy(col("node")).orderBy(ord, col("other").asc)))
      .filter(col("__rk") <= k)
      .select(least(col("node"), col("other")).as("id_a"),
        greatest(col("node"), col("other")).as("id_b"), col(quality))
      .dropDuplicates("id_a", "id_b")
  }

  /** Measured drop of a `capPairDegree(k)` application on `pairs` —
    * (droppedPairs, totalPairs). One extra aggregation over the pair set;
    * ScaleProbe reports it so the cap is a recorded number at every
    * probed scale, not an assumption. */
  def capDegreeStats(pairs: DataFrame, k: Int, quality: String,
      ascending: Boolean): (Long, Long) = {
    val total = pairs.count()
    val kept = capPairDegree(pairs, k, quality, ascending).count()
    (total - kept, total)
  }

  /** LSH banding: split the signature into `bands` bands of `rows` values,
    * hash each band. Output one (band, bandHash) struct per band. */
  def lshBands(signature: Column, bands: Int, rows: Int): Column =
    transform(sequence(lit(0), lit(bands - 1)),
      b => struct(b.as("band"), xxhash64(slice(signature, b * rows + 1, lit(rows))).as("band_hash")))

  /** Near-duplicate pairs via MinHash LSH, verified with exact Jaccard on
    * the shingle sets.
    *
    * Pipeline: shingle → signature → explode bands → bucket self-join on
    * (band, band_hash) with id< id (dedup across bands via distinct pair)
    * → join signatures back → exact Jaccard filter.
    *
    * `maxBucket` drops degenerate buckets (e.g. boilerplate shared by
    * thousands of docs) — at 100 TB such buckets otherwise dominate the
    * pair count quadratically; callers get them reported separately if
    * needed by inspecting bucket sizes themselves.
    */
  /** `base = None` (default) signs with the one-pass portable-md5 kernel
    * (oracle-verifiable); pass `Some(xxhashBase)` to trade oracle parity
    * for a faster hash family at 100 TB — the signature pipeline then
    * runs the generic explode+aggregate path. */
  /** `maxDegree > 0` caps each node's emitted pairs to its `maxDegree`
    * HIGHEST-jaccard neighbors (union semantics, [[capPairDegree]]).
    * `materialize = false` returns the LAZY plan with no persist/
    * checkpoint — the plan-audit seam (PlanAuditSpec) and the escape
    * hatch for callers composing further before acting. */
  def minhashNearDupPairs(docs: DataFrame, idCol: String, textCol: String,
      shingleN: Int = 3, k: Int = 32, bands: Int = 8,
      jaccardThreshold: Double = 0.5, maxBucket: Int = 1000,
      base: Option[Column => (Column, Column)] = None,
      maxDegree: Int = 0, materialize: Boolean = true): DataFrame = {
    val rows = k / bands
    require(bands * rows == k, "k must be divisible by bands")

    // Materialize the shingle table once, spread across cores — eager
    // localCheckpoint, not persist: it is both a recompute guard
    // (CollapseProject would otherwise inline the shingle expression into
    // every downstream consumer) and block-lifecycle-safe — a persist held
    // by a returned lazy frame leaks for the session (the Graph lesson);
    // checkpoint blocks release when the caller drops the result.
    // MEASURED (round 6, quiet box): the r4 leak-prone lazy persist was
    // ~20% faster on this family, and two persist-based lifecycle-clean
    // variants (persist + eager final-result checkpoint, with and without
    // an up-front cache-populating count) both measured ~40% SLOWER than
    // this form — InMemoryRelation's columnar compression costs more than
    // checkpoint serialization here. Eager-checkpoint-the-intermediate is
    // the measured optimum among the lifecycle-clean options.
    // TRADEOFF: lineage is truncated (executor loss ⇒ job retry, not task
    // recompute) and materialization happens at operator construction; a
    // deployment preferring elasticity can pass materialize = false and
    // manage persist lifecycle itself.
    val shingledBase = spread(docs.select(
      col(idCol).as("id"),
      wordShingles(col(textCol), shingleN).as("shingles")))
    val shingled =
      if (materialize) shingledBase.localCheckpoint(true)
      else shingledBase

    // one-pass native signatures (portable md5 double-hash convention) by
    // default — zero shuffle; a custom base hash routes through the
    // generic explode+aggregate path
    val signatures = base match {
      case None => shingled.select(col("id"),
        graft.functions.NativeExpressions.portableMinHashSigs(col("shingles"), k).as("sig"))
      case Some(b) => minhashSignatures(shingled, k, b)
    }
    // Materialized ONCE: the banded table is read by the cap's count
    // aggregate AND both sides of the bucket self-join — unmaterialized,
    // the signature kernel (k md5 digests per document) re-ran per
    // consumer (when AQE picks a broadcast build for the self-join there
    // is no shared exchange to reuse; measured at sf0.1: the duplicate
    // pipelines were the query's top stages). Narrow (id, band,
    // band_hash) rows; the capped result below stays LAZY — evaluating
    // it is a map-side scan + broadcast filter of this checkpoint.
    val banded0 = signatures
      .withColumn("banded", lshBands(col("sig"), bands, rows))
      .select(col("id"), explode(col("banded")).as("b"))
      .select(col("id"), col("b.band").as("band"), col("b.band_hash").as("band_hash"))
    val banded = if (materialize) banded0.localCheckpoint(true) else banded0

    // Cap pathological buckets before pairing (quadratic-blowup guard);
    // materialized too — the capped table feeds both self-join sides, and
    // a second materialization of the narrow rows is cheaper than each
    // side re-running the scan + broadcast anti-filter.
    val bucketed0 = dropOversizedBuckets(banded, Seq("band", "band_hash"), maxBucket)
    val bucketed = if (materialize) bucketed0.localCheckpoint(true) else bucketed0

    // Candidate pairs ride as bare (id_a, id_b) — shingle arrays re-join
    // AFTER band-dedup, so the wide arrays cross the shuffle once per
    // surviving pair instead of once per band copy.
    val l = bucketed.select(col("band"), col("band_hash"), col("id").as("id_a"))
    val r = bucketed.select(col("band"), col("band_hash"), col("id").as("id_b"))
    val pairs = l.join(r, Seq("band", "band_hash"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"))
      .dropDuplicates("id_a", "id_b")

    val verified = pairs
      .join(shingled.select(col("id").as("id_a"), col("shingles").as("sh_a")), Seq("id_a"))
      .join(shingled.select(col("id").as("id_b"), col("shingles").as("sh_b")), Seq("id_b"))
      .withColumn("jaccard", jaccard(col("sh_a"), col("sh_b")))
      .filter(col("jaccard") >= jaccardThreshold)
      .select(col("id_a"), col("id_b"), col("jaccard"))
    if (maxDegree > 0) capPairDegree(verified, maxDegree, "jaccard", ascending = false)
    else verified
  }

  /** Exact Jaccard over two distinct-element arrays: |A∩B| / |A∪B| as a
    * ratio of exact ints. */
  def jaccard(a: Column, b: Column): Column =
    size(array_intersect(a, b)).cast("double") /
      size(array_union(a, b)).cast("double")

  // ----------------------------------------- incremental (batch-vs-index)

  /** MinHash signature INDEX of a corpus: (id, sig ARRAY<BIGINT>[k]) on
    * the portable md5 double-hash family. This is the durable artifact an
    * incremental dedup deployment stores (k·8 bytes per document — ~256 B
    * at k=32, 4 orders of magnitude smaller than the text it summarizes)
    * and appends each batch's signatures to after
    * [[incrementalNearDups]]. One narrow pass over the text: shingle →
    * one-pass native kernel, no shuffle (`spread` only widens narrow
    * inputs). */
  def minhashIndex(docs: DataFrame, idCol: String, textCol: String,
      shingleN: Int = 3, k: Int = 32): DataFrame =
    spread(docs.select(col(idCol).as("id"),
      wordShingles(col(textCol), shingleN).as("shingles")))
      .select(col("id"),
        graft.functions.NativeExpressions.portableMinHashSigs(col("shingles"), k).as("sig"))

  /** Incremental near-dup detection — the daily-crawl shape: a NEW batch
    * of documents probed against a PRECOMPUTED corpus signature index
    * ([[minhashIndex]]) plus the earlier members of the batch itself,
    * WITHOUT touching corpus text. This is the operation a continuously
    * curated 100 TB corpus actually runs: the corpus contributes only its
    * (id, sig) index — bands are re-derived from the stored signatures
    * (8 B·k per doc crosses the band shuffle as 24 B·bands per doc; the
    * text never moves) — and the batch (typically ≪ corpus) is the only
    * side that is shingled.
    *
    * Semantics: each batch document reports every already-indexed
    * document (src='corpus') and every EARLIER batch document
    * (match_id < batch_id, src='batch' — arrival order = id order) whose
    * signature agrees on ≥ `minMatches` of the k positions, i.e.
    * estimated Jaccard ≥ minMatches/k. Verification is by signature
    * agreement — exact integers, no FP — because the index deliberately
    * does not store shingle sets; this is the standard index-side
    * tradeoff (estimator variance ~1/√k) and is what makes the corpus
    * side 256 B/doc. Use [[minhashNearDupPairs]] when full-corpus text
    * re-verification is affordable.
    *
    * Scale guards, both replayable: `maxBucket` drops degenerate
    * (band, band_hash) buckets per side (boilerplate at corpus scale);
    * `maxMatchesPerProbe` > 0 keeps only each probe's top matches
    * (highest agreement, id-tiebroken) via a WindowGroupLimit ranking —
    * bounded output per probe, nothing globally sorted.
    *
    * Returns (batch_id, match_id, matches, src) with matches ∈ [minMatches, k].
    */
  def incrementalNearDups(batch: DataFrame, idCol: String, textCol: String,
      index: DataFrame, shingleN: Int = 3, k: Int = 32, bands: Int = 8,
      minMatches: Int = 16, maxBucket: Int = 1000,
      maxMatchesPerProbe: Int = 0, materialize: Boolean = true): DataFrame = {
    // Batch signatures: consumed by the band explode AND both sides of
    // the verification join — eager localCheckpoint (not persist) for the
    // same measured reasons as the full-corpus pipeline above.
    val bsigBase = minhashIndex(batch, idCol, textCol, shingleN, k)
    val bsig = if (materialize) bsigBase.localCheckpoint(true) else bsigBase
    incrementalNearDupsSigs(bsig, index, k, bands, minMatches, maxBucket,
      maxMatchesPerProbe, materialize)
  }

  /** Signature-level core of [[incrementalNearDups]]: both sides are
    * already (id, sig ARRAY<BIGINT>[k]) frames from [[minhashIndex]].
    * Callers that need the batch signatures for something else too — the
    * streaming sink probes with them AND appends them to the durable
    * index — enter here so the text is shingled exactly once; `bsig`
    * should then already be materialized (it feeds three consumers). */
  def incrementalNearDupsSigs(bsig: DataFrame, index: DataFrame,
      k: Int = 32, bands: Int = 8, minMatches: Int = 16,
      maxBucket: Int = 1000, maxMatchesPerProbe: Int = 0,
      materialize: Boolean = true): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val rows = k / bands
    require(bands * rows == k, "k must be divisible by bands")
    require(minMatches >= 1 && minMatches <= k, s"minMatches=$minMatches outside [1, $k]")

    def banded(sigs: DataFrame): DataFrame = sigs
      .select(col("id"), explode(lshBands(col("sig"), bands, rows)).as("b"))
      .select(col("id"), col("b.band").as("band"), col("b.band_hash").as("band_hash"))

    // The probe-side banded table has THREE consumers (corpus candidates
    // plus both sides of the in-batch self-join) — materialize it once;
    // unmaterialized, each consumer re-ran the band explode and the cap's
    // count aggregate. Narrow rows: (id, band, band_hash).
    val pband0 = dropOversizedBuckets(banded(bsig), Seq("band", "band_hash"), maxBucket)
    val pband = if (materialize) pband0.localCheckpoint(true) else pband0
    val iband = dropOversizedBuckets(banded(index.select(col("id"), col("sig"))),
      Seq("band", "band_hash"), maxBucket)

    // Candidates: probe bands vs index bands, plus probe vs EARLIER probe.
    // Bare (batch_id, match_id) ride the shuffle; signatures re-join after
    // the cross-band dedup so the k-long arrays move once per surviving
    // candidate, not once per band collision.
    val candCorpus = pband.select(col("band"), col("band_hash"), col("id").as("batch_id"))
      .join(iband.select(col("band"), col("band_hash"), col("id").as("match_id")),
        Seq("band", "band_hash"))
      .select(col("batch_id"), col("match_id"), lit("corpus").as("src"))
    val candBatch = pband.select(col("band"), col("band_hash"), col("id").as("batch_id"))
      .join(pband.select(col("band"), col("band_hash"), col("id").as("match_id")),
        Seq("band", "band_hash"))
      .filter(col("match_id") < col("batch_id"))
      .select(col("batch_id"), col("match_id"), lit("batch").as("src"))
    // ids are disjoint across corpus and batch, so (batch_id, match_id)
    // determines src and the dedup keeps src intact
    val cand = candCorpus.unionByName(candBatch)
      .dropDuplicates("batch_id", "match_id")

    // Verify by exact signature agreement (integer count of equal
    // positions); match-side signatures come from the index or the batch.
    val matchSigs = index.select(col("id"), col("sig"))
      .unionByName(bsig.select(col("id"), col("sig")))
    val verified = cand
      .join(bsig.select(col("id").as("batch_id"), col("sig").as("sig_p")), Seq("batch_id"))
      .join(matchSigs.select(col("id").as("match_id"), col("sig").as("sig_m")), Seq("match_id"))
      // native one-pass agreement count — the zip_with+filter expression
      // form built two intermediate arrays per candidate and evaluated
      // its lambdas interpreted (higher-order functions are
      // CodegenFallback); bit-identical value (GraftFunctionsSpec parity)
      .withColumn("matches",
        graft.functions.NativeExpressions.sigAgreeCount(col("sig_p"), col("sig_m")))
      .filter(col("matches") >= minMatches)
      .select(col("batch_id"), col("match_id"), col("matches"), col("src"))
    if (maxMatchesPerProbe > 0)
      verified.withColumn("__rk", row_number().over(
          Window.partitionBy(col("batch_id"))
            .orderBy(col("matches").desc, col("match_id").asc)))
        .filter(col("__rk") <= maxMatchesPerProbe)
        .drop("__rk")
    else verified
  }

  // --------------------------------------------------------------- SimHash

  /** SimHash per document: shingle → xxhash64 → native one-pass ±1-vote
    * kernel (graft.functions.NativeExpressions.SimHash64). Entirely
    * row-local — no shuffle at all; the `spread` keeps the CPU-dense
    * projection parallel. (An earlier explode-per-bit formulation paid two
    * shuffles over 64× the rows and interpreted CASE evaluation — ~6×
    * slower at sf0.1.) Returns (id, simhash). */
  def simhashTable(docs: DataFrame, idCol: String, textCol: String,
      shingleN: Int = 3,
      hasher: Column => Column = xxhash64(_)): DataFrame =
    spread(docs.select(col(idCol).as("id"),
      wordShingles(col(textCol), shingleN).as("shingles")))
      .select(col("id"), graft.functions.NativeExpressions.simhash64(
        transform(col("shingles"), s => hasher(s))).as("simhash"))

  /** Hamming-distance near-dup candidates from simhash values: band the
    * 64 bits into equal chunks, bucket-join, verify with bit_count(xor).
    * The pair set is EXACT (full recall) for the requested radius:
    *
    *   - maxHamming ≤ chunks-1: plain pigeonhole — some chunk is
    *     IDENTICAL, so an equi-join on (chunk, chunk_val) finds the pair.
    *   - maxHamming ≤ 2·chunks-1: 1-bit MULTI-PROBE — some chunk differs
    *     in ≤ 1 bit (⌊h/chunks⌋ ≤ 1), so probing each chunk value plus
    *     its `bits` one-bit flips against the exact chunk table finds the
    *     pair. Chunks stay 16-bit wide (65 536 distinct values per
    *     position), so bucket sizes survive corpus scale — the earlier
    *     8-bit-chunk regime for hamming 4-7 had 256 values per position
    *     and EVERY bucket blew past maxBucket at scale, silently
    *     collapsing recall to zero. Probe cost: chunks·(bits+1) = 68 rows
    *     per doc on the probe side; the exact side stays at 4 rows/doc.
    *
    * maxHamming > 7 is refused: it would need wider probes or sub-16-bit
    * chunks (quadratic buckets at scale) — that radius is MinHash
    * territory (minhashNearDupPairs), not simhash banding. */
  /** `maxDegree > 0` additionally caps each node's emitted pairs to its
    * `maxDegree` LOWEST-hamming neighbors (union semantics,
    * [[capPairDegree]]) — the 100 TB guard against quadratic pair volume
    * on dup-heavy corpora. `materialize = false` returns the lazy plan
    * with no persist/checkpoint (plan-audit seam). */
  /** The 64-bit hamming banding scheme, shared by the symmetric pair
    * generator ([[simhashNearDupPairs]]) and the asymmetric probe
    * ([[hammingProbe]]) so the chunk width, probe expansion, and radius
    * bound cannot drift apart: 16-bit chunks — the widest (best bucket
    * distribution) that still cover hamming ≤ chunks−1 by pigeonhole and
    * ≤ 2·chunks−1 with 1-bit probes. */
  private[graft] object HammingBands {
    val Chunks = 4
    val Bits = 64 / Chunks
    val Mask = (1L << Bits) - 1
    val MaxRadius = 2 * Chunks - 1
    def requireRadius(maxHamming: Int, alt: String = ""): Unit =
      require(maxHamming >= 0 && maxHamming <= MaxRadius,
        s"maxHamming=$maxHamming exceeds the 1-bit-probe banding radius ($MaxRadius)$alt")
    /** chunk value of `simCol` at the exploded `chunk` ordinal. */
    def chunkVal(simCol: String): org.apache.spark.sql.Column =
      expr(s"shiftrightunsigned($simCol, chunk * $Bits) & $Mask")
    /** the un-flipped chunk value plus its `Bits` one-bit flips — a pair
      * within radius 2·chunks−1 shares a chunk differing in ≤ 1 bit. */
    def oneBitProbes(valCol: String): org.apache.spark.sql.Column =
      expr(s"concat(array($valCol), transform(sequence(0, ${Bits - 1}), " +
        s"b -> $valCol ^ shiftleft(1L, b)))")
  }

  def simhashNearDupPairs(sims: DataFrame, maxHamming: Int = 3,
      maxBucket: Int = 5000, maxDegree: Int = 0,
      materialize: Boolean = true): DataFrame = {
    HammingBands.requireRadius(maxHamming,
      alt = "; route coarser radii through minhashNearDupPairs")
    val chunks = HammingBands.Chunks
    // eager localCheckpoint: the signature table feeds BOTH sides of the
    // bucket join — unmaterialized, the full upstream simhash computation
    // would be inlined and recomputed per side (and per AQE replan); a
    // plain persist would leak past return (the Graph lesson; measured
    // tradeoff in the minhash comment above)
    val pigeonhole = maxHamming <= chunks - 1
    // Materialized ONCE: `chunked` is read by the cap's count aggregate
    // plus both sides of the bucket join (pigeonhole) or the probe
    // fan-out and exact side (multi-probe) — unmaterialized, the whole
    // upstream simhash computation re-ran per consumer. The capped
    // result stays LAZY: evaluating it is a map-side scan + broadcast
    // filter of this checkpoint.
    val chunkedBase = sims.select(col("id"), col("simhash"),
      explode(sequence(lit(0), lit(chunks - 1))).as("chunk"))
      .withColumn("chunk_val", HammingBands.chunkVal("simhash"))
    val chunked =
      if (materialize) chunkedBase.localCheckpoint(true)
      else chunkedBase
    // degenerate-bucket guard (e.g. simhash 0 from empty docs at corpus
    // scale); breaks the exact-recall guarantee only for keys it drops.
    // In the pigeonhole regime the capped table feeds BOTH join sides —
    // materialize it (multi-probe consumes it once; lazy there).
    val capped0 = dropOversizedBuckets(chunked, Seq("chunk", "chunk_val"), maxBucket)
    val capped =
      if (materialize && pigeonhole) capped0.localCheckpoint(true)
      else capped0
    val paired =
      if (pigeonhole) {
        // pigeonhole regime: symmetric equi-join on identical chunks
        val l = capped.select(col("chunk"), col("chunk_val"),
          col("id").as("id_a"), col("simhash").as("sim_a"))
        val r = capped.select(col("chunk"), col("chunk_val"),
          col("id").as("id_b"), col("simhash").as("sim_b"))
        l.join(r, Seq("chunk", "chunk_val"))
          .filter(col("id_a") < col("id_b"))
          .select(col("id_a"), col("id_b"), col("sim_a"), col("sim_b"))
      } else {
        // multi-probe regime: every doc probes its chunk value AND its
        // one-bit flips against the capped exact table. A pair within the
        // radius has a chunk differing in ≤1 bit: equal ⇒ the un-flipped
        // probe hits; 1 bit apart ⇒ the flipped probe hits. Probes run
        // one-directional (A probes B's exact row and vice versa), so
        // canonicalize and dedup after the join.
        val probes = chunked.select(col("id").as("id_a"), col("simhash").as("sim_a"),
          col("chunk"),
          explode(HammingBands.oneBitProbes("chunk_val")).as("chunk_val"))
        val exact = capped.select(col("chunk"), col("chunk_val"),
          col("id").as("id_b"), col("simhash").as("sim_b"))
        probes.join(exact, Seq("chunk", "chunk_val"))
          .filter(col("id_a") =!= col("id_b"))
          .select(least(col("id_a"), col("id_b")).as("id_a"),
            greatest(col("id_a"), col("id_b")).as("id_b"),
            // sims travel with the canonical order for the verify step
            when(col("id_a") < col("id_b"), col("sim_a")).otherwise(col("sim_b")).as("sim_a"),
            when(col("id_a") < col("id_b"), col("sim_b")).otherwise(col("sim_a")).as("sim_b"))
      }
    // hamming filter BEFORE the pair dedup: both are pair-level and
    // commute exactly (every duplicate of a canonicalized pair carries
    // the same sim_a/sim_b, hence the same hamming), but the order
    // decides what the dropDuplicates EXCHANGE carries — the full banded
    // candidate blowup, or only the verified matches. At the 50× probe
    // the skewed planted-image buckets made the dedup-first shuffle the
    // whole query (q131 208 s in the pair count alone); filter-first
    // ships only the ≤ maxHamming survivors.
    val verified = paired
      .withColumn("hamming", expr("bit_count(sim_a ^ sim_b)"))
      .filter(col("hamming") <= maxHamming)
      .dropDuplicates("id_a", "id_b")
      .select(col("id_a"), col("id_b"), col("hamming"))
    if (maxDegree > 0) capPairDegree(verified, maxDegree, "hamming", ascending = true)
    else verified
  }

  /** Asymmetric banded hamming matcher — each PROBE row's 64-bit
    * signature matched against a (usually much larger) signature INDEX,
    * exact recall for the requested radius by the same 16-bit-chunk
    * pigeonhole / 1-bit multi-probe argument as [[simhashNearDupPairs]]
    * (probes fan out, the index side stays at 4 rows/signature — the
    * daily-crawl shape: the corpus is chunked once, only the new batch
    * pays the 68-row probe cost). `maxMatchesPerProbe > 0` keeps each
    * probe's lowest-hamming matches only. Returns
    * (batch_id, match_id, hamming). */
  def hammingProbe(probe: DataFrame, index: DataFrame, maxHamming: Int = 7,
      maxBucket: Int = 5000, maxMatchesPerProbe: Int = 0): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    HammingBands.requireRadius(maxHamming)
    val chunks = HammingBands.Chunks
    val idxChunks = index.select(col("id").as("match_id"), col("simhash").as("sim_m"),
      explode(sequence(lit(0), lit(chunks - 1))).as("chunk"))
      .withColumn("chunk_val", HammingBands.chunkVal("sim_m"))
    val capped = dropOversizedBuckets(idxChunks, Seq("chunk", "chunk_val"), maxBucket)
    val base = probe.select(col("id").as("batch_id"), col("simhash").as("sim_p"),
      explode(sequence(lit(0), lit(chunks - 1))).as("chunk"))
      .withColumn("base_val", HammingBands.chunkVal("sim_p"))
    val probes =
      if (maxHamming <= chunks - 1) base.withColumn("chunk_val", col("base_val"))
      else base.select(col("batch_id"), col("sim_p"), col("chunk"),
        explode(HammingBands.oneBitProbes("base_val")).as("chunk_val"))
    val verified = probes.join(capped, Seq("chunk", "chunk_val"))
      .dropDuplicates("batch_id", "match_id")
      .withColumn("hamming", expr("bit_count(sim_p ^ sim_m)"))
      .filter(col("hamming") <= maxHamming)
      .select(col("batch_id"), col("match_id"), col("hamming"))
    if (maxMatchesPerProbe > 0)
      verified.withColumn("__rk", row_number().over(
          Window.partitionBy(col("batch_id"))
            .orderBy(col("hamming").asc, col("match_id").asc)))
        .filter(col("__rk") <= maxMatchesPerProbe)
        .drop("__rk")
    else verified
  }

  // -------------------------------------------------- duplicate clusters

  /** Connected components over a near-dup pair set → duplicate clusters:
    * every member labeled with the cluster's minimum id (the canonical
    * "keep" document). The step every real dedup pipeline needs after
    * pairwise detection — near-duplication is transitive in practice
    * (a~b, b~c ⇒ one cluster) and pairs alone overcount.
    *
    * Implementation: alternating large-star/small-star edge rewiring
    * (Kiveris et al., "Connected Components in MapReduce and Beyond",
    * SoCC'14) — converges in O(log n) alternations for ANY graph shape,
    * where plain min-label propagation needs graph-DIAMETER rounds (a
    * 10k-link chain of templated near-dups would need 10k shuffles; this
    * needs ~15). Each half-round is ONE exchange of the edge table keyed
    * on the node id with a partitioned window min (no ordering, so the
    * sort is by the partition key only), followed by a distinct —
    * nothing collected to the driver and no node-sized broadcast.
    *
    *   large-star: every node connects its LARGER neighbours to the
    *     minimum of its closed neighbourhood (keeps edge count bounded);
    *   small-star: every node connects its smaller neighbours and itself
    *     to the minimum smaller neighbour.
    *
    * At the fixed point every surviving edge points a node directly at
    * its component minimum. Returns (id, cluster_id = min id of the
    * component). Precondition: pairs are between DISTINCT ids (every
    * near-dup generator here emits id_a < id_b); self-loop-only nodes are
    * dropped with the self-loops, not labeled as singletons. */
  def connectedComponents(pairs: DataFrame, maxIter: Int = 30): DataFrame = {
    // canonical direction hi → lo, self-loops dropped. The checkpoint
    // ALSO shields the (often expensive) pair-generation upstream from
    // re-execution: everything below — nodes included — derives from the
    // materialized edge set, so upstream runs exactly once.
    var edges = pairs
      .select(greatest(col("id_a"), col("id_b")).as("u"),
        least(col("id_a"), col("id_b")).as("v"))
      .filter(col("u") =!= col("v")).distinct()
      .localCheckpoint(true) // truncate lineage per round (iterative plan)
    val nodes = edges.select(col("u").as("id"))
      .unionAll(edges.select(col("v").as("id"))).distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)

    // Both stars need each node's min neighbour attached back onto its
    // edge rows. A partitioned window min does that in ONE exchange of
    // the edge table per star; the previous groupBy + join form shuffled
    // the edges for the aggregate AND AGAIN for the join (or built a
    // node-sized broadcast per round — at 100 TB the min table does not
    // broadcast, and locally each broadcast build was its own scheduling
    // round in the job-count-bound CC family). min needs no ordering, so
    // the window sorts by the partition key only — never a global sort.
    import org.apache.spark.sql.expressions.Window
    val wU = Window.partitionBy(col("u"))

    def largeStar(e: DataFrame): DataFrame = {
      val sym = e.unionAll(e.select(col("v").as("u"), col("u").as("v")))
      // no distinct here: duplicates are bounded (≤ neighbour multiplicity)
      // and smallStar's terminal distinct dedups — saves a shuffle/round.
      // Output is naturally hi → lo: u' = v > u ≥ min(mn, u) = v'.
      sym.withColumn("mn", min(col("v")).over(wU))
        .filter(col("v") > col("u")) // rewire only larger neighbours
        .select(col("v").as("u"), least(col("mn"), col("u")).as("v"))
    }

    def smallStar(e: DataFrame): DataFrame = {
      // edges already point hi → lo after largeStar, so the window min
      // is the min SMALLER neighbour. The self rows arrive once per edge
      // (not once per node as with the aggregate form); the terminal
      // distinct collapses them identically.
      val withM = e.withColumn("m", min(col("v")).over(wU))
      withM.select(col("v").as("x"), col("m"))
        .unionAll(withM.select(col("u").as("x"), col("m")))
        .filter(col("x") =!= col("m"))
        .select(col("x").as("u"), col("m").as("v")).distinct()
    }

    val sess = pairs.sparkSession
    // The star loop runs on an ISOLATED session (same SparkContext,
    // separate SQLConf): it wants AQE off (with AQE on, every exchange of
    // every round materializes as its own scheduling round — the
    // job-count-bound census family paid ~3× the driver barriers) and a
    // pinned partition count (the per-round frames are checkpointed, so
    // nothing downstream re-sizes them). Round 13 set both on the SHARED
    // session conf and restored them in `finally` — thread-unsafe under
    // GraftService, which runs queries concurrently on one session. The
    // isolated session scopes both confs to this loop; the (u, v) edge
    // rows cross the session boundary via their materialized RDDs.
    val loopSess = sess.newSession()
    val loopParts = math.max(2, edges.rdd.getNumPartitions)
    loopSess.conf.set("spark.sql.adaptive.enabled", "false")
    loopSess.conf.set("spark.sql.shuffle.partitions", loopParts.toString)
    def toSession(df: DataFrame, s: org.apache.spark.sql.SparkSession): DataFrame =
      s.createDataFrame(df.rdd, df.schema)
    var loopEdges = toSession(edges, loopSess)
    var converged = false
    var i = 0
    while (!converged && i < maxIter) {
      val stepped = smallStar(largeStar(loopEdges))
      if (i % 2 == 1 || i == maxIter - 1) {
        // fixed point = identical edge SETS. Both sides are distinct by
        // construction (initial edges and every smallStar output end in
        // distinct), so set equality ⟺ a full-outer join on (u, v) has
        // no row missing either side. The join is FUSED into the round's
        // own materialization: stepped ends in a distinct already
        // hash-partitioned on (u, v), so the join adds one exchange of
        // the (small) previous checkpoint instead of a separate
        // two-shuffle comparison job; the convergence read (`isEmpty`)
        // and next round's edges are then cheap scans of the
        // materialized diff. Checked on EVEN rounds only (plus the last
        // allowed round): round counts here are 4-6 and never 1, so
        // checking every round paid an extra exchange per round mostly
        // to learn "not yet". Convergence is still judged by the
        // rigorous single-round set equality.
        val diff = stepped.select(col("u"), col("v"), lit(1).as("__l"))
          .join(loopEdges.select(col("u"), col("v"), lit(1).as("__r")),
            Seq("u", "v"), "full_outer")
          .localCheckpoint(true)
        converged = diff
          .filter(col("__l").isNull || col("__r").isNull).isEmpty
        loopEdges = diff.filter(col("__l").isNotNull)
          .select(col("u"), col("v"))
      } else {
        loopEdges = stepped.localCheckpoint(true)
      }
      i += 1
    }
    // silent non-convergence would report one real cluster as several —
    // strictly worse than failing (the no-silent-caps posture)
    if (!converged) throw new IllegalStateException(
      s"connectedComponents did not converge in $maxIter rounds; raise maxIter")
    edges = toSession(loopEdges, sess)
    // at the fixed point each non-root points straight at its root
    val labels = nodes.join(edges.withColumnRenamed("u", "id"), Seq("id"), "left_outer")
      .select(col("id"), coalesce(col("v"), col("id")).as("cluster_id"))
    nodes.unpersist()
    labels
  }

  // ------------------------------------------------------- n-gram Jaccard

  /** Pairwise n-gram Jaccard within a blocking key via an inverted index:
    * explode shingles, self-join on (block, shingle) to count the
    * intersection per pair, reconstruct the union as nA + nB - common.
    * Everything is codegen'd hash joins/aggregates — no per-pair
    * interpreted array intersection (benchmarked ~10× faster), and the
    * shuffle key (block, shingle) is what an LSH bucket would be at
    * 100 TB. Only pairs sharing ≥1 shingle can appear, so `threshold`
    * must be > 0 (jaccard-0 pairs are meaningless output anyway). */
  def ngramJaccardPairs(docs: DataFrame, idCol: String, textCol: String,
      blockCol: String, shingleN: Int = 2, threshold: Double = 0.05,
      maxDf: Int = 1000, materialize: Boolean = true): DataFrame = {
    require(threshold > 0, "inverted-index Jaccard emits only overlapping pairs")
    // eager localCheckpoint (not persist — block lifecycle, the Graph
    // lesson; measured tradeoff in the minhash comment): consumed by the
    // hot-shingle scan and the pruned index
    val base0 = spread(docs.select(col(blockCol).as("block"), col(idCol).as("id"),
      wordShingles(col(textCol), shingleN).as("sh")))
    val base =
      if (materialize) base0.localCheckpoint(true)
      else base0

    // Stop-shingle pruning: a shingle appearing in m docs of a block yields
    // m² join rows — boilerplate (headers, license text) makes this the
    // quadratic scale-killer. Shingles with df > maxDf are dropped from the
    // shingle SETS (so n and jaccard are computed over pruned sets, exactly
    // like the SQL oracle). The hot set is tiny by construction (≤
    // totalOccurrences/maxDf keys), so it broadcasts; pruning is a narrow
    // array_except — the main pipeline gains no shuffle.
    val hotPerBlock = base
      .select(col("block"), explode(col("sh")).as("shingle"))
      .groupBy(col("block"), col("shingle"))
      .agg(count(lit(1)).as("df"))
      .filter(col("df") > maxDf)
      .groupBy(col("block")).agg(collect_list(col("shingle")).as("hot"))

    // Materialized ONCE: `pruned` feeds both sides of the inverted-index
    // self-join, and when AQE builds one side as a broadcast the whole
    // hot-aggregate + array_except pruning pipeline re-ran per side
    // (measured at sf0.1: the two duplicate pipelines were 25 s of the
    // query's 27 s task time). Same size class as the `base` checkpoint.
    val pruned0 = base
      .join(broadcast(hotPerBlock), Seq("block"), "left_outer")
      .withColumn("sh", when(col("hot").isNull, col("sh"))
        .otherwise(array_except(col("sh"), col("hot"))))
      .withColumn("n", size(col("sh")))
      .filter(col("n") > 0)
      .select(col("block"), col("id"), col("sh"), col("n"))
    val pruned = if (materialize) pruned0.localCheckpoint(true) else pruned0

    val inv = pruned.select(col("block"), col("id"), col("n"), explode(col("sh")).as("shingle"))
    val l = inv.select(col("block"), col("shingle"), col("id").as("id_a"), col("n").as("n_a"))
    val r = inv.select(col("block"), col("shingle"), col("id").as("id_b"), col("n").as("n_b"))
    // (measured negative: forcing SHUFFLE_HASH here so the two sides
    // reuse one exchange moved the exploded string index across the wire
    // — 30→88 MB shuffled, task time +10% — where the broadcast build
    // streams the probe side shuffle-free; with `pruned` materialized the
    // broadcast side rebuilds only scan+explode, the cheaper trade)
    l.join(r, Seq("block", "shingle"))
      .filter(col("id_a") < col("id_b"))
      .groupBy(col("block"), col("id_a"), col("id_b"), col("n_a"), col("n_b"))
      .agg(count(lit(1)).as("common"))
      .withColumn("jaccard", col("common").cast("double") /
        (col("n_a") + col("n_b") - col("common")).cast("double"))
      .filter(col("jaccard") >= threshold)
      .select(col("block"), col("id_a"), col("id_b"), col("jaccard"))
  }

  /** ASYMMETRIC containment pairs — |Sh(a) ∩ Sh(b)| / |Sh(a)| in exact
    * permille (Broder's containment coefficient, the companion measure
    * to resemblance in "On the resemblance and containment of
    * documents", 1997): detects excerpt/quote/expansion relationships
    * that symmetric Jaccard (q14) structurally misses — a 15-word
    * excerpt of a 300-word page has near-zero Jaccard but containment
    * ≈ 1. ORDERED pairs (a, b), a ≠ b: "a is contained in b".
    *
    * Same scale posture as [[ngramJaccardPairs]]: per-block df-capped
    * inverted index (boilerplate shingles pruned from the SETS on both
    * engine and oracle sides), one index self-join, one hash-aggregate;
    * `common · 1000 div n_a` keeps every emitted score an exact
    * integer. Word shingles are n=5 (the excerpt-detection granularity;
    * sub-5-word docs collapse to their whole text, the WordShingles
    * convention). */
  def ngramContainmentPairs(docs: DataFrame, idCol: String, textCol: String,
      blockCol: String, shingleN: Int = 5, minPermille: Int = 700,
      maxDf: Int = 1000): DataFrame = {
    require(minPermille > 0, "inverted-index containment emits only overlapping pairs")
    val base = spread(docs.select(col(blockCol).as("block"), col(idCol).as("id"),
      wordShingles(col(textCol), shingleN).as("sh")))
      .localCheckpoint(true)
    val hotPerBlock = base
      .select(col("block"), explode(col("sh")).as("shingle"))
      .groupBy(col("block"), col("shingle"))
      .agg(count(lit(1)).as("df"))
      .filter(col("df") > maxDf)
      .groupBy(col("block")).agg(collect_list(col("shingle")).as("hot"))
    // materialized once for both join sides — same rationale as
    // ngramJaccardPairs above (broadcast builds defeat exchange reuse)
    val pruned = base
      .join(broadcast(hotPerBlock), Seq("block"), "left_outer")
      .withColumn("sh", when(col("hot").isNull, col("sh"))
        .otherwise(array_except(col("sh"), col("hot"))))
      .withColumn("n", size(col("sh")))
      .filter(col("n") > 0)
      .select(col("block"), col("id"), col("sh"), col("n"))
      .localCheckpoint(true)
    val inv = pruned.select(col("block"), col("id"), col("n"), explode(col("sh")).as("shingle"))
    val l = inv.select(col("block"), col("shingle"), col("id").as("id_a"), col("n").as("n_a"))
    val r = inv.select(col("block"), col("shingle"), col("id").as("id_b"))
    l.join(r, Seq("block", "shingle"))
      .filter(col("id_a") =!= col("id_b"))
      .groupBy(col("block"), col("id_a"), col("id_b"), col("n_a"))
      .agg(count(lit(1)).as("common"))
      .withColumn("containment_permille", expr("common * 1000 div n_a"))
      .filter(col("containment_permille") >= minPermille)
      .select(col("block"), col("id_a"), col("id_b"),
        col("n_a").cast("long").as("n_shingles_a"), col("common"),
        col("containment_permille"))
  }

  /** Cross-document PARAGRAPH dedup — the CCNet move (Wenzek et al.
    * 2020, "CCNet: Extracting High Quality Monolingual Datasets from Web
    * Crawl Data": boilerplate paragraphs repeat across a web crawl far
    * more than whole documents do; dropping every repeated paragraph
    * except its first occurrence removes headers/footers/navigation
    * while keeping the unique prose). Document-level dedup (q8/q12)
    * cannot see this — two distinct pages sharing a boilerplate footer
    * are not document duplicates.
    *
    * Input: one row per (doc, paragraph ordinal, paragraph text). The
    * FIRST occurrence corpus-wide — min (doc, idx), totally ordered — is
    * kept; all others drop. Output: per doc, the paragraph counts and
    * the text reassembled from surviving paragraphs in original order.
    *
    * Plan shape (audited): exactly two exchanges — one partitioning by a
    * 128-bit paragraph fingerprint for the first-occurrence window (no
    * rank-limit pruning applies: every occurrence row is needed for the
    * per-doc counts), one on doc_id for the reassembly hash-agg (in-agg
    * array_sort restores paragraph order; no per-doc window, no global
    * sort).
    *
    * The window is KEYED by two independent xxhash64 fingerprints of the
    * text, not the text itself: at 100 TB a raw-text key makes every
    * partitioner hash and every within-partition sort comparison walk
    * full paragraphs, and the sorter's key prefix is useless (shared
    * boilerplate prefixes). The 16-byte fingerprint keeps those
    * fixed-width while the text rides as payload only for reassembly.
    * Identity-by-128-bit-fingerprint is the standard content-addressing
    * trade: a false merge needs a simultaneous collision in both hashes
    * (~2⁻¹²⁸ per pair — below any corpus's birthday bound). */
  def paragraphDedup(paras: DataFrame, idCol: String = "doc_id",
      idxCol: String = "idx", paraCol: String = "para"): DataFrame =
    paragraphReassemble(paragraphFirstRanked(paras, idCol, idxCol, paraCol),
      idCol, idxCol, paraCol)

  /** The first-occurrence half of [[paragraphDedup]]: every input row
    * plus `is_first` (corpus-wide first occurrence on the (id, idx)
    * total order, windowed over the 128-bit fingerprint pair). Exposed
    * so a build-once artifact can pay the window ONCE and derive both
    * the per-doc grid and the per-paragraph firsts table from one
    * ranked frame (CurationArtifacts). */
  def paragraphFirstRanked(paras: DataFrame, idCol: String = "doc_id",
      idxCol: String = "idx", paraCol: String = "para"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // second hash seeded by a prepended salt column — independent of the
    // first (xxhash64 of the bare column) without needing a seed knob
    val firstWin = Window
      .partitionBy(xxhash64(col(paraCol)), xxhash64(lit("graft::para2"), col(paraCol)))
      .orderBy(col(idCol).asc, col(idxCol).asc)
    paras
      .withColumn("__rn", row_number().over(firstWin))
      .withColumn("is_first", col("__rn") === 1)
  }

  /** The reassembly half of [[paragraphDedup]] over a
    * [[paragraphFirstRanked]] frame. */
  def paragraphReassemble(ranked: DataFrame, idCol: String = "doc_id",
      idxCol: String = "idx", paraCol: String = "para"): DataFrame = {
    ranked
      .groupBy(col(idCol))
      .agg(
        count(lit(1)).as("n_paras"),
        sum(when(col("is_first"), 1L).otherwise(0L)).as("n_kept"),
        concat_ws(" ", transform(
          array_sort(collect_list(when(col("is_first"),
            struct(col(idxCol).as("idx"), col(paraCol).as("para"))))),
          p => p.getField("para"))).as("clean_text"))
  }

  /** Entity resolution by the SORTED-NEIGHBORHOOD method (Hernández &
    * Stolfo 1995): within each blocking key, sort records by name and
    * compare each record only to its next `window` neighbors in sort
    * order — candidate pairs are LINEAR in records × window instead of
    * quadratic in block size, which is the whole reason ER scales.
    * Pairs within `maxDist` Levenshtein edits are emitted as match
    * candidates.
    *
    * Everything is deterministic and integer-exact: the sort order is
    * totalized by (name, key), the distance is classic unweighted edit
    * distance (bit-identical across engines), so a SQL oracle replays
    * the neighborhood AND every distance.
    *
    * Scale shape: ONE exchange on the blocking key; the within-block
    * sort is the method's intrinsic cost (same as any window). The
    * `window` leads compute in one pass over the sorted run — no
    * self-join, no pair materialization beyond the emitted candidates.
    * Skewed blocks: pick a finer blocking key or salt it (Skew.scala) —
    * the standard multi-pass sorted-neighborhood answer. */
  def sortedNeighborhoodPairs(records: DataFrame, blockCol: String,
      keyCol: String, nameCol: String, window: Int = 3,
      maxDist: Int = 2): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(window >= 1 && window <= 16, "1..16 neighbor window")
    val w = Window.partitionBy(col(blockCol)).orderBy(col(nameCol).asc, col(keyCol).asc)
    val leads = (1 to window).map { i =>
      struct(lead(col(nameCol), i).over(w).as("name_b"),
        lead(col(keyCol), i).over(w).as("key_b"))
    }
    records
      // window exprs are not allowed inside a generator: materialize the
      // lead structs as a plain column first, then explode
      .select(col(blockCol).as("block"), col(keyCol).as("key_a"),
        col(nameCol).as("name_a"), array(leads: _*).as("__nbrs"))
      .select(col("block"), col("key_a"), col("name_a"),
        explode(col("__nbrs")).as("__b"))
      .filter(col("__b.key_b").isNotNull)
      // banded Ukkonen kernel: O(maxDist·len) per pair instead of the
      // full O(len²) matrix; values ≤ maxDist are the exact distance, so
      // the ≤-filtered result is identical to plain levenshtein
      .withColumn("dist", graft.functions.NativeExpressions
        .boundedLevenshtein(col("name_a"), col("__b.name_b"), maxDist))
      .filter(col("dist") <= maxDist)
      .select(col("block"), col("key_a"), col("__b.key_b").as("key_b"),
        col("dist").cast("long").as("dist"))
  }

  /** EXACT-SUBSTRING deduplication census (Lee et al. 2022,
    * "Deduplicating Training Data Makes Language Models Better": remove
    * every duplicated token run of length ≥ w, keeping one occurrence).
    * The suffix-array of the paper is a single-machine structure; the
    * distributed equivalent is the w-token ROLLING-WINDOW table: a token
    * run of length ≥ w is duplicated iff all its length-w windows are,
    * so marking duplicated windows and merging their overlapping spans
    * yields exactly the paper's removal set at granularity w.
    *
    * Relationship to [[graft.ops.TrainingPrep.repeatedSpans]]/
    * `cutRepeatedSpans` (q70/q72): those implement the BOILERPLATE-REMOVAL
    * policy — a span repeated across ≥ minDocs documents is cut from ALL
    * of them (license headers should survive in zero copies). This op
    * implements the paper's RETENTION policy — the FIRST occurrence in
    * the (doc, pos) total order is kept and only later copies count as
    * removable, and within-document repeats count too. Same family, two
    * deliberate policies; a curation run picks per content class.
    *
    * Per document: `n_windows` (token_count − w + 1, floored at 0),
    * `n_dup_windows` (windows whose text occurred EARLIER in the
    * (doc, pos) total order — the first occurrence is the kept one and
    * is not counted), and `n_removed_tokens` (the token count of the
    * union of the duplicated windows' [pos, pos+w) spans — overlapping
    * windows merge, so a long duplicated run costs its length once, not
    * once per window).
    *
    * Scale shape: windows are md5 digests (16 B), never window text —
    * ~tokens × digest rows through ONE exchange on the digest (the
    * first-occurrence window aggregate), then per-doc span merging in
    * windows PARTITIONED by doc. No pairwise term anywhere: a window
    * duplicated k× costs k rows, not k² pairs. */
  def exactSubstringCensus(docs: DataFrame, idCol: String, textCol: String,
      w: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(w >= 2, s"window w=$w too small to mean anything")
    val toks = docs.select(col(idCol).as("id"),
      split(col(textCol), " ").as("ws"))
    // md5 of the window TEXT (not a seeded hash): portable, so an
    // independent engine replays every digest; 0-based window start pos
    val wins = toks.select(col("id"), posexplode(expr(
      s"case when size(ws) >= $w then transform(sequence(0, size(ws) - $w)," +
        s" i -> md5(cast(concat_ws(' ', slice(ws, i + 1, $w)) as binary)))" +
        " else array() end")).as(Seq("pos", "h")))
    // first occurrence in the (id, pos) total order keeps; later ones dup
    val marked = wins
      .withColumn("__f", min(struct(col("id"), col("pos")))
        .over(Window.partitionBy(col("h"))))
      .filter(struct(col("id"), col("pos")) =!= col("__f"))
      .select(col("id"), col("pos"))
    // gaps-and-islands span merge per doc: a window starts a new island
    // iff it begins at/after every earlier window's end
    val byDoc = Window.partitionBy(col("id")).orderBy(col("pos"))
    // ONE downstream pipeline off `marked` (a second consumer would make
    // Catalyst replay the whole window-digest exchange): island merge,
    // then per-doc rollup carrying both the window count and the span
    // cover through the same aggregates
    val perDoc = marked
      .withColumn("__pe", max(col("pos") + w)
        .over(byDoc.rowsBetween(Window.unboundedPreceding, -1)))
      .withColumn("__ni",
        when(col("__pe").isNull || col("pos") >= col("__pe"), 1).otherwise(0))
      .withColumn("__island", sum(col("__ni")).over(byDoc))
      .groupBy(col("id"), col("__island"))
      .agg((max(col("pos")) + w - min(col("pos"))).as("__covered"),
        count(lit(1)).as("__nw"))
      .groupBy(col("id"))
      .agg(sum(col("__nw")).as("n_dup_windows"),
        sum(col("__covered")).as("n_removed_tokens"))
    toks.select(col("id"),
        greatest(size(col("ws")) - w + 1, lit(0)).cast("long").as("n_windows"))
      .join(perDoc, Seq("id"), "left")
      .select(col("id"), col("n_windows"),
        coalesce(col("n_dup_windows"), lit(0L)).as("n_dup_windows"),
        coalesce(col("n_removed_tokens"), lit(0L)).as("n_removed_tokens"))
  }
}
