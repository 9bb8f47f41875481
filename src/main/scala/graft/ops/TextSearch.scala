package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Full-text relevance search over the `documents` corpus — the retrieval
  * primitive a training-data pipeline uses for corpus probing, targeted
  * decontamination and quality auditing (the reference exposes content
  * search through its query surface; here it is a first-class operator).
  *
  * Two layers:
  *   1. `writePostingsIndex` — the inverted index, stored: (term, doc_id,
  *      dl, tf, first_pos, ctx, df) postings partitioned by term bucket
  *      plus the corpus totals, so a serving read prunes to its terms'
  *      buckets and takes its snippets from the postings it ranks.
  *   2. `bm25TopK` — scores one query against the corpus WITHOUT building
  *      the full index: tokens are filtered to the query's terms before any
  *      explode, so the per-doc stage is a narrow codegen'd pass and the
  *      only shuffles are two tiny aggregations (per-term df, corpus
  *      stats) that broadcast back. The corpus itself is never exchanged.
  *
  * Scoring is BM25 with the log-free "raw" probabilistic idf
  * `(N - df + 0.5) / (df + 0.5)` (Robertson-Spärck Jones weight without
  * the log damp). The variant is deliberate: `ln` is not bit-identical
  * across engines (Java's Math.log and DuckDB's std::log may differ in the
  * last ulp), while this idf is pure rational arithmetic on exact integers
  * — so the score is engine-reproducible and the DuckDB oracle can verify
  * ranking bit-exactly. Both factors are fixed-point-rounded to 1e-6
  * before multiplying, making each term's contribution an exact BIGINT
  * (unit 1e-12) and the doc score an order-free integer sum.
  */
object TextSearch {

  /** BM25 parameters (k1 = 1.2, b = 0.75 — written as exact-literal
    * fragments 2.2 = k1+1, 0.25 = 1-b so Spark and SQL parse identical
    * doubles). */
  val K1 = 1.2
  val K1Plus1 = 2.2
  val OneMinusB = 0.25
  val B = 0.75

  /** Term buckets of a stored postings index ([[writePostingsIndex]]). */
  val PostingsBuckets = 64

  /** Top-k docs for a bag-of-terms query, deterministic fixed-point BM25
    * score (`score_e12`, unit 1e-12), ties broken on doc_id.
    *
    * Plan shape (audited): corpus scan → narrow per-term tf computation
    * (filter() inside the row, no explode of non-matching tokens) → two
    * tiny broadcast aggregates (df, corpus stats) → per-row scoring →
    * one groupBy(doc_id) over only matching (doc, term) rows → TakeOrdered.
    */
  def bm25TopK(docs: DataFrame, idCol: String, textCol: String,
      rawTerms: Seq[String], k: Int): DataFrame = {
    // dedup defensively: a repeated term would emit two tfRows per doc,
    // double-counting df (idf can go NEGATIVE via n_docs − df) — and the
    // indexed path's postings filter dedups naturally, so the two paths'
    // score-equality contract depends on this
    val terms = rawTerms.distinct
    require(terms.nonEmpty && terms.size <= 64, "bag-of-terms query expected")
    val base = docs
      .select(col(idCol).as("doc_id"), col(textCol).as("__text"),
        size(split(col(textCol), " ")).cast("long").as("dl"))
    // per-(doc, term) tf without a full explode: ONE native tokenization
    // pass counts all query terms (TermCounts — the per-term
    // size(filter(...)) lambda chain re-tokenized per term, interpreted),
    // then ≤ |terms| rows per doc explode and filter to hits
    val perTerm = terms.zipWithIndex.map { case (t, i) =>
      struct(lit(t).as("term"), col("__tc")(i).as("tf"))
    }
    val tfRows = base
      .withColumn("__tc",
        graft.functions.NativeExpressions.termCounts(col("__text"), terms))
      .select(col("doc_id"), col("dl"), explode(array(perTerm: _*)).as("p"))
      .select(col("doc_id"), col("dl"), col("p.term").as("term"), col("p.tf").as("tf"))
      .filter(col("tf") > 0)
    // tiny aggregate: corpus stats (1 row)
    val stats = base.agg(count(lit(1)).as("n_docs"), sum(col("dl")).as("sdl"))
    bm25Score(countedDf(tfRows).crossJoin(broadcast(stats)), k)
  }

  /** The BM25 scoring tail shared by the scan path ([[bm25TopK]]) and the
    * stored-index paths ([[bm25TopKIndexed]]): `rows` = matching
    * (doc_id, dl, term, tf) rows that carry their term's `df` and the
    * corpus totals `n_docs` and `sdl`. The callers differ only in how
    * those are attached: `df` counted from the matching rows
    * ([[countedDf]]) or read from the stored column, the totals from a
    * 1-row stats table or as bound parameters. Same expressions →
    * bit-identical fixed-point scores whichever way they were attached.
    * `perDoc` adds aggregates to the per-document grouping. */
  private def bm25Score(rows: DataFrame, k: Int, perDoc: Seq[Column] = Nil): DataFrame = {
    val ratio = col("dl").cast("double") * col("n_docs").cast("double") /
      col("sdl").cast("double")
    val tfpart = col("tf").cast("double") * lit(K1Plus1) /
      (col("tf").cast("double") + lit(K1) * (lit(OneMinusB) + lit(B) * col("ratio")))
    val idf = (lit(2.0) * (col("n_docs") - col("df")).cast("double") + lit(1.0)) /
      (lit(2.0) * col("df").cast("double") + lit(1.0))
    rows
      .withColumn("ratio", ratio)
      .withColumn("term_score",
        round(idf * 1000000.0, 0).cast("long") *
          round(tfpart * 1000000.0, 0).cast("long"))
      .groupBy(col("doc_id"))
      .agg(sum(col("term_score")).as("score_e12"),
        (count(lit(1)).as("n_terms_hit") +: perDoc): _*)
      .orderBy(col("score_e12").desc, col("doc_id").asc)
      .limit(k)
  }

  /** `tfRows` with each term's `df` counted from the rows themselves: a
    * per-term aggregate broadcast back. Right wherever `tfRows` holds
    * every posting of its terms — the corpus scan, and a streamed
    * `batch_run=` index tree, whose shards carry no global `df`. */
  private def countedDf(tfRows: DataFrame): DataFrame =
    tfRows.join(broadcast(tfRows.groupBy(col("term")).agg(count(lit(1)).as("df"))),
      Seq("term"))

  /** Build the SERVING index for [[bm25TopKIndexed]] under `indexDir`:
    * the postings table (term, doc_id, dl, tf, first_pos, ctx, df)
    * written parquet-PARTITIONED by `bucket = pmod(xxhash64(term),
    * nBuckets)`, plus the 1-row corpus stats table (n_docs, sdl). Per
    * posting:
    *   - `dl`, the doc's token count, and `df`, the number of postings of
    *     the row's term, so a serving read neither joins a document
    *     table nor aggregates the term's posting list;
    *   - `first_pos`, the term's 1-based first position in
    *     `split(text, ' ')`, and `ctx`, the ±3-token window around it:
    *     the q143 snippet of a document whose earliest query-term hit is
    *     this term ([[bm25TopKSnippets]]), so serving reads no text.
    * A query's scan prunes to its terms' bucket partitions
    * (directory-level pruning) and row-group-filters on `term` inside
    * them — the index is touched, never the corpus.
    *
    * One corpus scan: each document's postings come from one row-local
    * pass ([[graft.functions.NativeExpressions.DocPostings]]), so the
    * only exchange is the bucket clustering; `df` is a window over the
    * bucket-clustered rows, a local sort with no added exchange. The
    * totals are observed on the same pass: every document with text
    * has exactly one posting at `first_pos` 1, its first token's, and
    * that posting carries the document's `dl`. Postings are per
    * documents row, as the scan path ([[bm25TopK]]) counts them, so
    * `doc_id` must be a key of `docs`. At 100 TB this runs once per
    * corpus snapshot and every query amortizes it. */
  def writePostingsIndex(docs: DataFrame, idCol: String, textCol: String,
      indexDir: String, nBuckets: Int = PostingsBuckets): Unit = {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.{Observation, Row}
    import org.apache.spark.sql.types.{LongType, StructField, StructType}
    val spark = docs.sparkSession
    val totals = Observation()
    val first = col("first_pos") === 1L
    docs.select(col(idCol).as("doc_id"),
        graft.functions.NativeExpressions.docPostings(col(textCol))
          .as(Seq("dl", "term", "tf", "first_pos", "ctx")))
      .observe(totals, count(when(first, 1L)).as("n_docs"),
        sum(when(first, col("dl"))).as("sdl"))
      .select(col("term"), col("doc_id"), col("dl"), col("tf"), col("first_pos"), col("ctx"),
        pmod(xxhash64(col("term")), lit(nBuckets)).as("bucket"))
      // cluster by bucket before the partitioned write: without it every
      // task writes a file into every bucket dir (tasks × nBuckets small
      // files at corpus scale); with it each bucket dir gets its writers'
      // contiguous output
      .repartition(col("bucket"))
      // a term's postings all sit in its bucket's partition, so the
      // window needs no exchange of its own
      .withColumn("df", count(lit(1)).over(Window.partitionBy(col("bucket"), col("term"))))
      .write.mode("overwrite").partitionBy("bucket")
      .parquet(s"$indexDir/postings")
    val m = totals.get
    spark.createDataFrame(java.util.List.of(Row(m("n_docs"), m("sdl"))),
        StructType(Seq(StructField("n_docs", LongType), StructField("sdl", LongType))))
      .write.mode("overwrite").parquet(s"$indexDir/stats")
  }

  /** BM25 top-k straight off a stored postings index at `indexDir`, in
    * either layout: [[writePostingsIndex]]'s or the streamed `batch_run=`
    * tree of [[graft.streaming.Streaming.incrementalPostingsSink]]. The
    * postings scan prunes to the query terms' bucket partitions; each
    * row's `df` is the stored column where the index has one, and is
    * counted from exactly the matching rows where it has none (a
    * streamed shard holds no global df). The scoring tail is
    * [[bm25Score]] — scores are bit-identical to [[bm25TopK]] over the
    * same corpus. Cost scales with the queried terms' posting lists, not
    * the corpus. Resolves `indexDir` on every call, so a growing
    * (streamed) index is read as it stands now. */
  def bm25TopKIndexed(spark: org.apache.spark.sql.SparkSession,
      indexDir: String, rawTerms: Seq[String], k: Int,
      nBuckets: Int = PostingsBuckets): DataFrame = {
    val postings = spark.read.parquet(s"$indexDir/postings")
    val rows = matchingPostings(postings, rawTerms, nBuckets)
    val withDf =
      if (postings.columns.contains("df"))
        rows.select(col("doc_id"), col("dl"), col("term"), col("tf"), col("df"))
      else countedDf(rows.select(col("doc_id"), col("dl"), col("term"), col("tf")))
    val totals = summedStats(spark.read.parquet(s"$indexDir/stats"))
    bm25Score(withDf.crossJoin(broadcast(totals)), k)
  }

  /** [[bm25TopKIndexed]] over an already-resolved `postings` frame of a
    * [[writePostingsIndex]] index whose totals were read once
    * ([[indexTotals]]) — the serving facade's per-corpus handle. Each
    * row brings its term's stored `df`, and the totals enter the plan as
    * bound parameters, so a request is one pruned postings scan: no
    * per-term aggregate, no stats aggregate, no broadcast, and another
    * corpus compiles no new class. */
  def bm25TopKIndexed(postings: DataFrame, nDocs: Long, sdl: Long,
      rawTerms: Seq[String], k: Int, nBuckets: Int): DataFrame =
    bm25Score(handleRows(postings, nDocs, sdl, rawTerms, nBuckets), k)

  /** The handle's [[bm25TopKIndexed]] page with the q143 snippet of each
    * hit, from the same pruned postings scan: `hit_pos`, the least
    * `first_pos` of the document's query-term postings, and `snippet`,
    * that posting's stored `ctx`. Distinct terms never share a position,
    * so the least is one posting. Equal, bit for bit, to
    * [[graft.queries.TextQueries.attachSnippets]] over the documents the
    * index was built from, with no join and no read of the text.
    * `argMinBy` keeps the grouping hash-based: `min(struct(first_pos,
    * ctx))` holds a string in its buffer and plans a SortAggregate. */
  def bm25TopKSnippets(postings: DataFrame, nDocs: Long, sdl: Long,
      rawTerms: Seq[String], k: Int, nBuckets: Int): DataFrame =
    bm25Score(handleRows(postings, nDocs, sdl, rawTerms, nBuckets,
        col("first_pos"), col("ctx")), k,
      Seq(min(col("first_pos")).as("hit_pos"),
        graft.functions.NativeExpressions.argMinBy(col("ctx"), col("first_pos")).as("snippet")))

  /** A handle's matching postings with their stored `df` and the totals
    * bound as parameters, plus the `extra` posting columns. */
  private def handleRows(postings: DataFrame, nDocs: Long, sdl: Long,
      rawTerms: Seq[String], nBuckets: Int, extra: Column*): DataFrame = {
    import graft.functions.NativeExpressions.longParam
    matchingPostings(postings, rawTerms, nBuckets)
      .select(Seq(col("doc_id"), col("dl"), col("term"), col("tf"), col("df"),
        longParam(nDocs).as("n_docs"), longParam(sdl).as("sdl")) ++ extra: _*)
  }

  /** The BM25 totals `(n_docs, sdl)` of a stored index's stats table, in
    * one collect. */
  def indexTotals(stats: DataFrame): (Long, Long) = {
    val r = summedStats(stats).head()
    (r.getLong(0), r.getLong(1))
  }

  /** A stats table's 1-row `(n_docs, sdl)` totals. SUM the stats read:
    * identity over the batch builder's 1-row table, and the per-batch_run
    * stats partitions of the incremental sink
    * ([[graft.streaming.Streaming.incrementalPostingsSink]]) fold to the
    * same integer totals — one serving path for both layouts. */
  private def summedStats(stats: DataFrame): DataFrame =
    stats.agg(sum(col("n_docs")).as("n_docs"), sum(col("sdl")).as("sdl"))

  /** A stored index's postings of the query terms: the scan prunes to
    * the terms' bucket partitions. */
  private def matchingPostings(postings: DataFrame, rawTerms: Seq[String],
      nBuckets: Int): DataFrame = {
    val terms = rawTerms.distinct // same contract as bm25TopK
    require(terms.nonEmpty && terms.size <= 64, "bag-of-terms query expected")
    val bucketIds = terms.map(bucketId(_, nBuckets)).distinct
    postings.filter(col("bucket").isin(bucketIds: _*) && col("term").isin(terms: _*))
  }

  /** A term's postings bucket, `pmod(xxhash64(term), nBuckets)` as
    * [[writePostingsIndex]] partitions it: the engine's own expressions,
    * evaluated on the driver (no job, no reimplementation to drift). */
  def bucketId(term: String, nBuckets: Int): Long = {
    import org.apache.spark.sql.catalyst.expressions.{Literal, Pmod, XxHash64}
    Pmod(new XxHash64(Seq(Literal(term))), Literal(nBuckets.toLong))
      .eval().asInstanceOf[Long]
  }

  /** Per-document top-k keyphrases by TF-IDF — the corpus-statistical
    * upgrade of the reference's key-phrase participant
    * (participants/implementations.kt: the Azure key-phrase enricher is
    * an external call; here the statistic IS the corpus): terms that are
    * frequent in a document but rare across the corpus.
    *
    * All arithmetic is INTEGER-exact — the idf is the log-free
    * Robertson-Spärck Jones weight as a 1e-6 fixed-point INTEGER DIVISION
    * `(2(N-df)+1) · 10⁶ div (2df+1)` (not even a double round), so any
    * independent engine replays every score bit-for-bit. Terms appearing
    * in more than `maxDfPermille`‰ of the corpus (default: half) are
    * dropped — stopword-by-statistics, no list.
    *
    * Plan shape (audited): ONE corpus scan; per-doc term frequencies are
    * computed ROW-LOCALLY (array_distinct + in-row filter counts — no
    * (term, doc) shuffle just to count tf); then exactly two exchanges:
    * one on `term` for the df window, one on `doc_id` for the top-k
    * window, the latter pruned map-side by WindowGroupLimit. The
    * vocabulary is never broadcast (at 100 TB it does not fit) and the
    * corpus is never exchanged wider than its (doc, distinct-term)
    * postings. */
  def tfidfKeyphrases(docs: DataFrame, idCol: String, textCol: String,
      k: Int, maxDfPermille: Int = 500): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val localTf = docs
      .select(col(idCol).as("doc_id"), split(col(textCol), " ").as("toks"))
      .select(col("doc_id"), explode(expr(
        "transform(array_distinct(toks)," +
          " t -> struct(t as term, size(filter(toks, x -> x = t)) as tf))")).as("p"))
      .select(col("doc_id"), col("p.term").as("term"), col("p.tf").cast("long").as("tf"))
    val stats = docs.agg(count(lit(1)).as("n_docs"))
    val scored = localTf
      .withColumn("df", count(lit(1)).over(Window.partitionBy("term")))
      .crossJoin(broadcast(stats))
      .filter(col("df") * 1000 <= col("n_docs") * maxDfPermille)
      .withColumn("idf_e6",
        expr("(2 * (n_docs - df) + 1) * 1000000L div (2 * df + 1)"))
      .withColumn("score_e6", col("tf") * col("idf_e6"))
    val topk = Window.partitionBy("doc_id")
      .orderBy(col("score_e6").desc, col("term").asc)
    scored.withColumn("rank", row_number().over(topk))
      .filter(col("rank") <= k)
      .select(col("doc_id"), col("rank"), col("term"), col("score_e6"))
  }

  /** Batched POSITIONAL phrase search — exact consecutive-words match
    * for a whole batch of phrase queries in ONE join + ONE aggregate
    * (the set-intersection formulation of positional-postings phrase
    * retrieval, the classic IR-engine algorithm over (term, doc, pos)
    * lists):
    *
    *   a phrase (t₀ … t_{k-1}) matches at `start` iff all k offsets
    *   agree, i.e. the corpus holds (t_i, doc, start+i) for every i —
    *   so join corpus positions to (query, offset, term) rows on the
    *   term, project `start = pos − offset`, and keep (query, doc,
    *   start) groups covering all k distinct offsets.
    *
    * Repeated phrase terms work (each offset i is matched
    * independently; count(DISTINCT offset) = k is the cover test).
    * Arbitrary phrase lengths mix in one batch — no per-stage join
    * cascade, no length-specialized plans.
    *
    * Scale shape: the query side is tiny (Σ phrase lengths rows) →
    * broadcast; the corpus side explodes once to (term, doc, pos),
    * filtered by the broadcast term set BEFORE any exchange, so only
    * positions of query terms shuffle — keyed by (query, doc, start) —
    * and the aggregate is map-side partial. At 100 TB with a
    * term-bucketed stored postings table (the [[writePostingsIndex]]
    * layout, with positions) the probe prunes to the query terms'
    * buckets and the explode disappears entirely.
    *
    * Output: (query, doc, n_hits, first_pos) per matching doc. */
  def phraseSearch(docs: DataFrame, idCol: String, textCol: String,
      phrases: Map[String, Seq[String]]): DataFrame = {
    require(phrases.nonEmpty && phrases.values.forall(_.nonEmpty), "non-empty phrases")
    val spark = docs.sparkSession
    import spark.implicits._
    val qterms = phrases.toSeq
      .flatMap { case (q, ts) => ts.zipWithIndex.map { case (t, i) => (q, i, t, ts.size) } }
      .toDF("query", "offset", "term", "phrase_len")
    val positions = docs
      .select(col(idCol).as("doc_id"), posexplode(split(col(textCol), " ")).as(Seq("pos", "term")))
    positions
      .join(broadcast(qterms), Seq("term"))
      .select(col("query"), col("doc_id"), col("phrase_len"),
        (col("pos") - col("offset")).as("start"), col("offset"))
      .filter(col("start") >= 0)
      .groupBy(col("query"), col("doc_id"), col("phrase_len"), col("start"))
      .agg(countDistinct(col("offset")).as("n_offsets"))
      .filter(col("n_offsets") === col("phrase_len"))
      .groupBy(col("query"), col("doc_id"))
      .agg(count(lit(1)).as("n_hits"), min(col("start")).as("first_pos"))
  }

  /** COLLOCATION extraction (Manning & Schütze ch. 5, the chi-square
    * association test): word pairs that co-occur as bigrams far more
    * often than their unigram frequencies predict — the multiword-term
    * miner that complements per-doc keyphrases (tfidf) and the
    * cross-slice drift monitor (q101's chi-square, applied here to the
    * word × next-word contingency table instead of token × slice).
    *
    * Per bigram (x, y) over the corpus' N bigram tokens, the 2×2 table
    * O11 = c(x,y), O12 = c(x,·) − O11, O21 = c(·,y) − O11,
    * O22 = N − O11 − O12 − O21, and with d = O11·O22 − O12·O21:
    *
    *   χ²·10⁶ = N · d² · 10⁶ div ((O11+O12)(O21+O22)(O11+O21)(O12+O22))
    *
    * — pure integer arithmetic in DECIMAL(38,0) (d² alone reaches ~10²¹
    * at sf0.1; the oracle uses HUGEINT), no logarithms (the
    * log-likelihood-ratio alternative would need them), so every score
    * replays bit-for-bit. Pairs below `minCount` are noise-cut first
    * (the textbook move — χ² is unstable on counts of 1-2).
    *
    * Scale shape: ONE corpus pass to the (x, y) bigram-type counts; both
    * margins derive from that bounded frame by re-aggregation (the type
    * table is Heaps-bounded, orders of magnitude smaller than the
    * corpus) and join back keyed on x resp. y; N is a 1-row broadcast.
    * Top-k by TakeOrdered — no global sort. */
  def collocations(docs: DataFrame, idCol: String, textCol: String,
      minCount: Long = 5L, k: Int = 25): DataFrame = {
    val bg = docs
      .withColumn("__ws", split(col(textCol), " "))
      .filter(size(col("__ws")) >= 2)
      .select(explode(expr(
        "transform(sequence(0, size(__ws) - 2)," +
          " i -> struct(element_at(__ws, i + 1) AS x," +
          " element_at(__ws, i + 2) AS y))")).as("__b"))
      .groupBy(col("__b.x").as("x"), col("__b.y").as("y"))
      .agg(count(lit(1)).as("o11"))
      // ONE corpus pass: the Heaps-bounded bigram-type table materializes
      // once and margins/total/probe all derive from it — without the
      // checkpoint each consumer re-plans its own corpus scan (the q103
      // training posture)
      .localCheckpoint()
    val mx = bg.groupBy(col("x")).agg(sum(col("o11")).as("cx"))
    val my = bg.groupBy(col("y")).agg(sum(col("o11")).as("cy"))
    val n = bg.agg(sum(col("o11")).as("n"))
    bg.filter(col("o11") >= minCount)
      .join(mx, Seq("x"))
      .join(my, Seq("y"))
      .crossJoin(broadcast(n)) // 1-row bigram total
      // degenerate margins (a word owning an ENTIRE margin: cx = N or
      // cy = N) zero the denominator; χ² is undefined there — cut, as
      // the oracle does
      .filter(col("n") > col("cx") && col("n") > col("cy"))
      .withColumn("o12", col("cx") - col("o11"))
      .withColumn("o21", col("cy") - col("o11"))
      .withColumn("o22", col("n") - col("o11") - col("o12") - col("o21"))
      .withColumn("__d", expr(
        "cast(o11 as decimal(38,0)) * o22 - cast(o12 as decimal(38,0)) * o21"))
      .withColumn("chi2_e6", expr(
        """cast(cast(n as decimal(38,0)) * __d * __d * 1000000 div
          |  (cast(o11 + o12 as decimal(38,0)) * (o21 + o22) * (o11 + o21) * (o12 + o22))
          |as bigint)""".stripMargin))
      .select(col("x"), col("y"), col("o11").as("n_pair"), col("chi2_e6"))
      .orderBy(col("chi2_e6").desc, col("x").asc, col("y").asc)
      .limit(k)
  }

  /** Reciprocal-rank fusion (Cormack/Clarke/Büttcher, SIGIR 2009) of
    * already-ranked top-N lists — the hybrid-retrieval verb that merges a
    * lexical and a semantic ranking without comparable scores: each list
    * contributes `1e6 div (k + rank)` (integer division, so any engine
    * replays the fused score bit-for-bit; the canonical k = 60), absent
    * items contribute 0, output is top-N by fused score with ties to the
    * smallest id.
    *
    * Input contract: each frame has (idCol, <rankCol>) where rank is a
    * dense 1-based position. Lists are top-N — already driver-bounded —
    * so the full-outer-join fold and final TakeOrdered touch only
    * O(Σ list lengths) rows; the corpus itself is never re-ranked here. */
  def rrfFuse(lists: Seq[DataFrame], idCol: String, rankCols: Seq[String],
      kConst: Int = 60, topN: Int = 20): DataFrame = {
    require(lists.size == rankCols.size && lists.nonEmpty)
    val joined = lists.reduce((a, b) => a.join(b, Seq(idCol), "full_outer"))
    val fused = rankCols
      .map(rc => coalesce(expr(s"1000000 div ($kConst + $rc)").cast("long"), lit(0L)))
      .reduce(_ + _)
    joined.withColumn("rrf_e6", fused)
      .orderBy(col("rrf_e6").desc, col(idCol).asc)
      .limit(topN)
  }
}
