package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.sources.Tables
import graft.functions.TextFunctions._

/** Text-analysis query surface (north-star Q12 family): language-ID,
  * quality scoring, token counting, fingerprinting over `documents`. */
object TextQueries {

  /** Language-ID by stopword-profile argmax with priority tie-break. */
  def langIdQuery(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"), langId(col("text")).as("predicted"), col("lang"),
        (langId(col("text")) === col("lang")).as("is_match"))
      .orderBy(col("doc_id"))

  private def hitsSql(lang: String): String = {
    val words = Stopwords.toMap.apply(lang).map(w => s"'$w'").mkString(", ")
    s"len(list_intersect(list_distinct(string_split(text, ' ')), [$words]))"
  }

  val langIdSql: String = {
    val (hEn, hDe, hEs, hFr) = (hitsSql("en"), hitsSql("de"), hitsSql("es"), hitsSql("fr"))
    s"""WITH scored AS (
       |  SELECT doc_id, lang,
       |    $hEn AS h_en, $hDe AS h_de, $hEs AS h_es, $hFr AS h_fr
       |  FROM documents),
       |pred AS (
       |  SELECT doc_id, lang,
       |    CASE WHEN h_en = 0 AND h_de = 0 AND h_es = 0 AND h_fr = 0 THEN 'und'
       |         WHEN h_en >= h_de AND h_en >= h_es AND h_en >= h_fr THEN 'en'
       |         WHEN h_de >= h_es AND h_de >= h_fr THEN 'de'
       |         WHEN h_es >= h_fr THEN 'es'
       |         ELSE 'fr' END AS predicted
       |  FROM scored)
       |SELECT doc_id, predicted, lang, predicted = lang AS is_match
       |FROM pred ORDER BY doc_id""".stripMargin
  }

  /** Composite quality score in exact integer micro-units — rounding the
    * raw double to N decimals is engine-hazardous at half-ulp boundaries
    * (observed at sf0.1: 0.708437 vs 0.708438); scaling to 1e6 and
    * rounding at scale 0 is exact because the pre-round double is
    * identical in both engines. */
  def qualityQuery(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"),
        round(qualityScoreRaw(col("text")) * 1000000, 0).cast("long").as("quality_micro"))
      .orderBy(col("doc_id"))

  val qualitySql: String =
    """SELECT doc_id,
      |  CAST(round((0.3 * least(1.0, n / 50)
      |      + 0.3 * (nd / n)
      |      + 0.2 * (1.0 - dig / n)
      |      + 0.2 * least(1.0, ((length(text) - (n - 1)) / n) / 8)) * 1000000, 0) AS BIGINT) AS quality_micro
      |FROM (
      |  SELECT doc_id, text,
      |    CAST(len(string_split(text, ' ')) AS DOUBLE) AS n,
      |    CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE) AS nd,
      |    CAST(len(list_filter(string_split(text, ' '), t -> regexp_matches(t, '^[0-9]+$'))) AS DOUBLE) AS dig
      |  FROM documents)
      |ORDER BY doc_id""".stripMargin

  /** Whitespace + BPE-ish token counts. */
  def tokenCounts(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"), tokenCount(col("text")).as("n_tokens"),
        bpeTokenCount(col("text")).as("n_bpe"))
      .orderBy(col("doc_id"))

  val tokenCountsSql: String =
    s"""SELECT doc_id,
       |  len(string_split(text, ' ')) AS n_tokens,
       |  len(regexp_extract_all(text, '$BpePattern')) AS n_bpe
       |FROM documents ORDER BY doc_id""".stripMargin

  /** Rolling-hash document fingerprint (mod 1e9+7, exact BIGINT). */
  def fingerprintQuery(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"), fingerprint(col("text")).as("fp"))
      .orderBy(col("doc_id"))

  val fingerprintSql: String =
    s"""SELECT doc_id,
       |  list_reduce(
       |    list_prepend(CAST(0 AS BIGINT),
       |      list_transform(range(1, 1 + length(text)),
       |        i -> CAST(ascii(substr(text, i, 1)) AS BIGINT))),
       |    (a, c) -> (a * 31 + c) % $FingerprintMod) AS fp
       |FROM documents ORDER BY doc_id""".stripMargin

  /** Q39 — word-level repetition signals (the Gopher-style repetition
    * quality filters, word-granular because the corpus is single-line):
    * word/bigram totals and distincts plus the modal-bigram share, in ONE
    * row-local native pass (NativeExpressions.RepetitionStats) — no
    * explode shuffle, no quadratic per-row rescan. Fractions divide exact
    * integers so the doubles are engine-identical; `flag_repetitive`
    * applies the top-2-gram-share > 0.18 gate. */
  def repetitionQuery(spark: SparkSession, dir: String): DataFrame = {
    val r = graft.functions.NativeExpressions.repetitionStats(col("text"))
    Tables.documents(spark, dir)
      .select(col("doc_id"), r.as("r"))
      .select(col("doc_id"),
        col("r.n_words").as("n_words"),
        col("r.n_distinct_words").as("n_distinct_words"),
        col("r.n_bigrams").as("n_bigrams"),
        col("r.n_distinct_bigrams").as("n_distinct_bigrams"),
        col("r.top_bigram_n").as("top_bigram_n"),
        (lit(1.0) - col("r.n_distinct_words").cast("double") / col("r.n_words"))
          .as("dup_word_frac"),
        when(col("r.n_bigrams") > 0,
          col("r.top_bigram_n").cast("double") / col("r.n_bigrams"))
          .otherwise(0.0).as("top_bigram_frac"))
      .withColumn("flag_repetitive", col("top_bigram_frac") > 0.18)
      .orderBy(col("doc_id"))
  }

  val repetitionSql: String =
    """WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
      |base AS (
      |  SELECT doc_id,
      |    CAST(len(ws) AS BIGINT) AS n_words,
      |    CAST(len(list_distinct(ws)) AS BIGINT) AS n_distinct_words
      |  FROM w),
      |bg AS (
      |  SELECT doc_id,
      |    unnest(list_transform(range(1, len(ws)), i -> ws[i] || ' ' || ws[i + 1])) AS b
      |  FROM w),
      |bgc AS (SELECT doc_id, b, count(*) AS c FROM bg GROUP BY doc_id, b),
      |bga AS (
      |  SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_bigrams,
      |    CAST(count(*) AS BIGINT) AS n_distinct_bigrams,
      |    CAST(max(c) AS BIGINT) AS top_bigram_n
      |  FROM bgc GROUP BY doc_id)
      |SELECT base.doc_id, n_words, n_distinct_words,
      |  COALESCE(n_bigrams, 0) AS n_bigrams,
      |  COALESCE(n_distinct_bigrams, 0) AS n_distinct_bigrams,
      |  COALESCE(top_bigram_n, 0) AS top_bigram_n,
      |  CAST(1 AS DOUBLE) - CAST(n_distinct_words AS DOUBLE) / n_words AS dup_word_frac,
      |  CASE WHEN COALESCE(n_bigrams, 0) > 0
      |       THEN CAST(top_bigram_n AS DOUBLE) / n_bigrams ELSE 0.0 END AS top_bigram_frac,
      |  (CASE WHEN COALESCE(n_bigrams, 0) > 0
      |        THEN CAST(top_bigram_n AS DOUBLE) / n_bigrams ELSE 0.0 END)
      |    > CAST(0.18 AS DOUBLE) AS flag_repetitive
      |FROM base LEFT JOIN bga USING (doc_id)
      |ORDER BY doc_id""".stripMargin

  /** Q45 — BM25 top-k retrieval over the inverted-index operator
    * (ops.TextSearch). Fixed bag-of-terms query; score is fixed-point
    * (1e-12 units) so the full ranking is engine-exact — see
    * TextSearch.scaladoc for why the idf is the log-free RSJ weight. */
  val Bm25Terms: Seq[String] = Seq("spark", "vector", "merge", "filter")
  val Bm25K = 20

  /** Served from the STORED term-bucketed postings index (built once per
    * corpus — ClusterArtifacts.postingsIndex, the `/search` index): the
    * scan prunes to the query terms' bucket partitions and the corpus
    * text column is never touched by the lexical path. bm25TopKIndexed
    * is score-bit-equal to the corpus-rescan bm25TopK (TextSearchSpec),
    * so the oracle below still replays the scan formulation. */
  def bm25Query(spark: SparkSession, dir: String): DataFrame =
    graft.ops.TextSearch.bm25TopKIndexed(
      spark, ClusterArtifacts.postingsIndex(spark, dir), Bm25Terms, Bm25K)

  val bm25Sql: String = {
    val termList = Bm25Terms.map(t => s"'$t'").mkString(", ")
    s"""WITH base AS (
       |  SELECT doc_id, string_split(text, ' ') AS toks,
       |    CAST(len(string_split(text, ' ')) AS BIGINT) AS dl
       |  FROM documents),
       |stats AS (
       |  SELECT CAST(count(*) AS BIGINT) AS n_docs, CAST(sum(dl) AS BIGINT) AS sdl
       |  FROM base),
       |tfrows AS (
       |  SELECT doc_id, dl, term,
       |    CAST(len(list_filter(toks, x -> x = term)) AS BIGINT) AS tf
       |  FROM base CROSS JOIN (SELECT unnest([$termList]) AS term)
       |  WHERE len(list_filter(toks, x -> x = term)) > 0),
       |dft AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM tfrows GROUP BY term),
       |scored AS (
       |  SELECT doc_id,
       |    CAST(round(((2.0 * CAST((n_docs - df) AS DOUBLE) + 1.0)
       |                / (2.0 * CAST(df AS DOUBLE) + 1.0)) * 1000000.0, 0) AS BIGINT)
       |    * CAST(round(((CAST(tf AS DOUBLE) * 2.2)
       |                  / (CAST(tf AS DOUBLE)
       |                     + 1.2 * (0.25 + 0.75 * (CAST(dl AS DOUBLE) * CAST(n_docs AS DOUBLE)
       |                                             / CAST(sdl AS DOUBLE))))) * 1000000.0, 0) AS BIGINT)
       |      AS term_score
       |  FROM tfrows JOIN dft USING (term) CROSS JOIN stats)
       |SELECT doc_id, CAST(sum(term_score) AS BIGINT) AS score_e12,
       |  CAST(count(*) AS BIGINT) AS n_terms_hit
       |FROM scored GROUP BY doc_id
       |ORDER BY score_e12 DESC, doc_id LIMIT $Bm25K""".stripMargin
  }

  /** Q214's query battery + the micro-scaled DCG position weights
    * (round(1e6/log2(pos+1)), pos 1..10) — ONE source of truth computed
    * here and embedded as identical literals in the Spark plan and the
    * SQL oracle, so the FP log2 never crosses an engine boundary. */
  /** (query_id, per-term (term, minTf) grade gates): 'dup' is the
    * corpus's one genuinely rare term (df ≈ 5%), and the common term of
    * each pair only grades at tf ≥ 2 — so relevance grades actually
    * separate documents instead of saturating (a coverage-only grade on
    * this small-vocab corpus marks nearly every document rel=2 and
    * every metric reads 1.0). */
  val RetrievalQueries: Seq[(Long, Seq[(String, Int)])] = Seq(
    (1L, Seq("dup" -> 1, "spark" -> 2)), (2L, Seq("dup" -> 1, "merge" -> 2)),
    (3L, Seq("query" -> 2, "scan" -> 2)))
  val DcgWeights: Seq[(Int, Long)] = (1 to 10).map(p =>
    p -> math.round(1e6 / (math.log(p + 1) / math.log(2))))

  /** Q214 — RETRIEVAL METRICS (MRR@10, precision@10, nDCG@10): the
    * serving-quality governance table — is the BM25 ranker actually
    * surfacing the relevant documents, measured the way IR evaluations
    * measure it. Graded truth is deterministic from the corpus and
    * TF-GATED, not coverage-only: each (term, minTf) gate of
    * RetrievalQueries contributes 1 only when the term's tf meets its
    * threshold (rel 0..2) — on this small-vocab corpus a plain
    * presence grade marks nearly every document rel=2 and saturates
    * every metric at 1.0, while the gated grade makes nDCG measure how
    * BM25's tf-weighting agrees with a truth it does not define. All metric arithmetic is
    * integer-exact: gains (2^rel − 1), micro-scaled position weights
    * (DcgWeights literals), DCG/IDCG as BIGINT sums, MRR and nDCG as
    * micro integer divisions. The IDEAL ranking never sorts the corpus:
    * the ≤3-row grade census + cumulative counts place each of the 10
    * positions arithmetically (pos ∈ (cum_before, cum_before + n]).
    *
    * Scale: per query one bm25TopK (inverted-index shape) + one
    * map-only rel kernel into a ≤3-row census; every join after the
    * top-10 cut is over ≤10-row frames. The post-limit row_number is
    * the PlanAudit-exempted bounded window. */
  def retrievalMetrics(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import spark.implicits._
    val docs = Tables.documents(spark, dir)
    val weights = broadcast(DcgWeights.toDF("pos", "w"))
    // ONE corpus text pass for ALL query blocks' graded truth: each block
    // previously scanned + checkpointed its own rel frame — 3 full text
    // scans per run, the query's dominant cost once the ranking moved to
    // the stored postings index (measured 2.7× at the 50× probe with the
    // per-block scans, the truth passes ~3/4 of the wall). The tokens
    // split once per doc; every block reads its rel column off the same
    // materialized narrow frame (doc_id + one BIGINT per block).
    val relAll = docs.select(
      col("doc_id") +: RetrievalQueries.zipWithIndex.map { case ((_, gates), i) =>
        gates.map { case (t, minTf) =>
          when(size(filter(split(col("text"), " "), _ === t)) >= minTf, 1L)
            .otherwise(0L)
        }.reduce(_ + _).as(s"__rel$i")
      }: _*)
      .localCheckpoint(true)
    val blocks = RetrievalQueries.zipWithIndex.map { case ((qid, gates), blockIdx) =>
      val terms = gates.map(_._1)
      // two consumers per block: ranked join + ideal census
      val rel = relAll.select(col("doc_id"), col(s"__rel$blockIdx").as("rel"))
      // the stored-index ranking (score-bit-equal to the scan path): the
      // round-10 scan form paid 3 inverted-index-equivalent corpus passes
      // in one query — the suite's second-worst 50× ratio
      val ranked = graft.ops.TextSearch.bm25TopKIndexed(
        spark, ClusterArtifacts.postingsIndex(spark, dir), terms, 10)
        .withColumn("pos", row_number().over(
          Window.orderBy(col("score_e12").desc, col("doc_id").asc)))
      val scored = ranked.join(rel, Seq("doc_id")).join(weights, Seq("pos"))
        .select(col("pos"), col("rel"), col("w"))
      val got = scored.agg(
        sum(expr("(shiftleft(CAST(1 AS BIGINT), CAST(rel AS INT)) - 1) * w"))
          .as("dcg_e6"),
        min(when(col("rel") >= 1, col("pos"))).as("__first"),
        sum(when(col("rel") >= 1, 1L).otherwise(0L)).as("precision_at_10"))
      val gc = rel.groupBy(col("rel")).agg(count(lit(1)).as("n"))
      val cum = gc.as("a").join(gc.as("b"), col("b.rel") > col("a.rel"), "left")
        .groupBy(col("a.rel"), col("a.n"))
        .agg(coalesce(sum(col("b.n")), lit(0L)).as("cumb"))
      val idcg = weights
        .join(cum, col("pos") > col("cumb") && col("pos") <= col("cumb") + col("n"))
        .agg(sum(expr("(shiftleft(CAST(1 AS BIGINT), CAST(rel AS INT)) - 1) * w"))
          .as("idcg_e6"))
      got.crossJoin(idcg).select(
        lit(qid).as("query_id"),
        coalesce(expr("1000000 div __first"), lit(0L)).as("mrr_micro"),
        col("precision_at_10"),
        col("dcg_e6"),
        col("idcg_e6"),
        when(col("idcg_e6") > 0, expr("(dcg_e6 * 1000000) div idcg_e6"))
          .otherwise(lit(0L)).as("ndcg_micro"))
    }
    blocks.reduce(_ unionByName _).orderBy(col("query_id"))
  }

  val retrievalMetricsSql: String = {
    val wVals = DcgWeights.map { case (p, w) => s"($p, $w)" }.mkString(", ")
    val blocks = RetrievalQueries.map { case (qid, gates) =>
      val termList = gates.map { case (t, _) => s"'$t'" }.mkString(", ")
      val relSum = gates.map { case (t, minTf) =>
        s"CASE WHEN len(list_filter(toks, x -> x = '$t')) >= $minTf THEN 1 ELSE 0 END"
      }.mkString(" + ")
      s"""SELECT $qid AS query_id, m.mrr_micro, m.precision_at_10, m.dcg_e6,
         |  i.idcg_e6,
         |  CASE WHEN i.idcg_e6 > 0 THEN (m.dcg_e6 * 1000000) // i.idcg_e6
         |       ELSE 0 END AS ndcg_micro
         |FROM (
         |  SELECT
         |    coalesce(1000000 // min(CASE WHEN s.rel >= 1 THEN s.pos END), 0) AS mrr_micro,
         |    CAST(sum(CASE WHEN s.rel >= 1 THEN 1 ELSE 0 END) AS BIGINT) AS precision_at_10,
         |    CAST(sum(((CAST(1 AS BIGINT) << CAST(s.rel AS INTEGER)) - 1) * s.w) AS BIGINT) AS dcg_e6
         |  FROM (
         |    SELECT r.pos, rel.rel, w.w
         |    FROM (
         |      SELECT doc_id, row_number() OVER (ORDER BY score_e12 DESC, doc_id) AS pos
         |      FROM (
         |        SELECT doc_id, CAST(sum(term_score) AS BIGINT) AS score_e12
         |        FROM (
         |          SELECT doc_id,
         |            CAST(round(((2.0 * CAST((n_docs - df) AS DOUBLE) + 1.0)
         |                        / (2.0 * CAST(df AS DOUBLE) + 1.0)) * 1000000.0, 0) AS BIGINT)
         |            * CAST(round(((CAST(tf AS DOUBLE) * 2.2)
         |                          / (CAST(tf AS DOUBLE)
         |                             + 1.2 * (0.25 + 0.75 * (CAST(dl AS DOUBLE) * CAST(n_docs AS DOUBLE)
         |                                                     / CAST(sdl AS DOUBLE))))) * 1000000.0, 0) AS BIGINT)
         |              AS term_score
         |          FROM (
         |            SELECT b.doc_id, b.dl, t.term,
         |              CAST(len(list_filter(b.toks, x -> x = t.term)) AS BIGINT) AS tf
         |            FROM base b CROSS JOIN (SELECT unnest([$termList]) AS term) t
         |            WHERE len(list_filter(b.toks, x -> x = t.term)) > 0) tfr
         |          JOIN (SELECT term, CAST(count(*) AS BIGINT) AS df
         |                FROM (
         |                  SELECT b.doc_id, t.term
         |                  FROM base b CROSS JOIN (SELECT unnest([$termList]) AS term) t
         |                  WHERE len(list_filter(b.toks, x -> x = t.term)) > 0) x
         |                GROUP BY term) d USING (term)
         |          CROSS JOIN stats) sc
         |        GROUP BY doc_id
         |        ORDER BY score_e12 DESC, doc_id LIMIT 10) topk) r
         |    JOIN (SELECT doc_id, CAST($relSum AS BIGINT) AS rel FROM base) rel
         |      USING (doc_id)
         |    JOIN w ON w.pos = r.pos) s) m
         |CROSS JOIN (
         |  SELECT CAST(sum(((CAST(1 AS BIGINT) << CAST(c.rel AS INTEGER)) - 1) * w.w) AS BIGINT) AS idcg_e6
         |  FROM w JOIN (
         |    SELECT a.rel, a.n, coalesce(sum(b.n), 0) AS cumb
         |    FROM (SELECT rel, CAST(count(*) AS BIGINT) AS n
         |          FROM (SELECT CAST($relSum AS BIGINT) AS rel FROM base) g GROUP BY rel) a
         |    LEFT JOIN (SELECT rel, CAST(count(*) AS BIGINT) AS n
         |          FROM (SELECT CAST($relSum AS BIGINT) AS rel FROM base) g GROUP BY rel) b
         |      ON b.rel > a.rel
         |    GROUP BY a.rel, a.n) c
         |    ON w.pos > c.cumb AND w.pos <= c.cumb + c.n) i""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"""WITH base AS (
       |  SELECT doc_id, string_split(text, ' ') AS toks,
       |    CAST(len(string_split(text, ' ')) AS BIGINT) AS dl
       |  FROM documents),
       |stats AS (
       |  SELECT CAST(count(*) AS BIGINT) AS n_docs, CAST(sum(dl) AS BIGINT) AS sdl
       |  FROM base),
       |w(pos, w) AS (VALUES $wVals)
       |SELECT * FROM (
       |$blocks
       |) ORDER BY query_id""".stripMargin
  }

  /** Q58 — corpus bigram language-model scoring (the KenLM-shaped
    * fluency/quality signal a training pipeline gates on): build bigram
    * frequencies over the WHOLE corpus, then score each document by the
    * summed floor(log2(count)) of its bigrams — common word transitions
    * score high, rare/garbled ones score 0. floor(log2) is computed as
    * binary-digit count, so the score is integer-exact and both engines
    * reproduce it bit-for-bit (an FP log2 could round differently at
    * powers of two).
    *
    * Scale shape: the count table is corpus-sized (NOT broadcastable at
    * 100 TB) so the score join is a shuffle hash join on the bigram key
    * with map-side partial counts; per-doc re-aggregation keys on
    * doc_id. Bigrams stay strings for oracle replay — production would
    * hash them to 64-bit to shrink both exchanges at identical plan
    * shape. The bigram table materializes once (two consumers). */
  def bigramLm(spark: SparkSession, dir: String): DataFrame = {
    val bg = Tables.documents(spark, dir)
      .withColumn("ws", split(col("text"), " "))
      .filter(size(col("ws")) >= 2)
      .select(col("doc_id"), explode(expr(
        "transform(sequence(0, size(ws) - 2), i -> concat(element_at(ws, i + 1), ' ', element_at(ws, i + 2)))"))
        .as("bg"))
      // localCheckpoint, not persist(): both materialize the exploded
      // bigram frame once for its two consumers, but a persist held here
      // is never unpersisted (the caller owns the action) and would leak a
      // corpus-sized MEMORY_AND_DISK cache per invocation for the session
      // lifetime; checkpoint blocks are released by the ContextCleaner as
      // soon as the result frame is garbage-collected.
      .localCheckpoint(true)
    val counts = bg.groupBy(col("bg")).agg(count(lit(1)).as("c"))
    bg.join(counts, Seq("bg"))
      .groupBy(col("doc_id"))
      .agg(
        count(lit(1)).as("n_bigrams"),
        sum(length(bin(col("c"))) - 1).as("lm_score"),
        sum(when(col("c") === 1, 1L).otherwise(0L)).as("n_rare"))
      .withColumn("lm_avg_micro", expr("(lm_score * 1000000) div n_bigrams"))
      .orderBy(col("doc_id"))
  }

  val bigramLmSql: String =
    """WITH base AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
      |bg AS (
      |  SELECT doc_id,
      |    unnest(list_transform(range(1, len(ws)), i -> ws[i] || ' ' || ws[i+1])) AS bg
      |  FROM base WHERE len(ws) >= 2),
      |cnt AS (SELECT bg, COUNT(*) AS c FROM bg GROUP BY bg)
      |SELECT doc_id,
      |  CAST(COUNT(*) AS BIGINT) AS n_bigrams,
      |  CAST(SUM(length(bin(c)) - 1) AS BIGINT) AS lm_score,
      |  CAST(SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_rare,
      |  CAST((SUM(length(bin(c)) - 1) * 1000000) // COUNT(*) AS BIGINT) AS lm_avg_micro
      |FROM bg JOIN cnt USING (bg)
      |GROUP BY doc_id ORDER BY doc_id""".stripMargin

  /** Q82 — BPE vocabulary induction (ops/Bpe.scala): 10 merges learned
    * from the documents corpus. The oracle unrolls the identical
    * iteration — pair explode over the word-type table, integer-count
    * argmax with full lexicographic tiebreak, greedy left-to-right merge
    * application — as a generated 10-stage CTE chain, so every learned
    * merge must replay bit-for-bit in an independent engine. */
  def bpeTrain(spark: SparkSession, dir: String): DataFrame =
    bpeMerges(spark, dir).orderBy(col("merge_rank"))

  /** Build-once per-run BPE merge table ([[Tables.buildOnce]] — the
    * curation-artifact discipline): the 10-merge training loop is an
    * iterative ~20-action chain, and FOUR queries consume its output
    * (q82 the table itself, q83/q148/q201 the collected merges). One
    * training run per corpus per process; every consumer FileScans the
    * 10-row artifact. The name pins the word model (lowercase-alpha),
    * merge count, and layout. */
  private def bpeMerges(spark: SparkSession, dir: String): DataFrame = {
    val root = Tables.buildOnce("graft_bpe", dir, "merges_lower_n10_v1") { out =>
      graft.ops.Bpe.train(Tables.documents(spark, dir), "text", nMerges = 10)
        .coalesce(1).write.mode("overwrite").parquet(s"$out/merges")
    }
    spark.read.parquet(s"$root/merges")
  }

  /** The collected (lhs, rhs) merge list in rank order — the driver-side
    * datum [[graft.ops.Bpe.encode]] takes. */
  private def bpeMergeList(spark: SparkSession, dir: String): Seq[(String, String)] =
    bpeMerges(spark, dir).orderBy(col("merge_rank")).collect()
      .map(r => (r.getAs[String]("lhs"), r.getAs[String]("rhs"))).toSeq

  /** Shared oracle prefix for the BPE pair: w0 (word types) and the n
    * unrolled merge stages (pr_i pairs, m_i argmax, w_i application). */
  private def bpeStagesSql(n: Int): String = {
    val stages = (1 to n).map { i =>
      s"""pr$i AS (
         |  SELECT freq, unnest(list_transform(range(1, len(s)),
         |           i -> s[i] || '><' || s[i+1])) AS pr
         |  FROM (SELECT freq, string_split(substring(rep, 2, length(rep) - 2), '><') AS s
         |        FROM w${i - 1})),
         |m$i AS (
         |  SELECT string_split(pr, '><')[1] AS l, string_split(pr, '><')[2] AS r,
         |         CAST(SUM(freq) AS BIGINT) AS cnt
         |  FROM pr$i GROUP BY pr ORDER BY cnt DESC, l, r LIMIT 1),
         |w$i AS (
         |  SELECT replace(w.rep, '<' || m.l || '><' || m.r || '>',
         |                 '<' || m.l || m.r || '>') AS rep, w.freq
         |  FROM w${i - 1} w, m$i m)""".stripMargin
    }.mkString(",\n")
    s"""w0 AS (
       |  SELECT regexp_replace(word, '(.)', '<\\1>', 'g') AS rep,
       |         CAST(COUNT(*) AS BIGINT) AS freq
       |  FROM (SELECT unnest(string_split(text, ' ')) AS word FROM documents)
       |  WHERE regexp_matches(word, '^[a-z]+$$')
       |  GROUP BY 1),
       |$stages""".stripMargin
  }

  val bpeTrainSql: String = {
    val n = 10
    val finals = (1 to n).map(i =>
      s"SELECT CAST($i AS INTEGER) AS merge_rank, l AS lhs, r AS rhs," +
        s" l || r AS merged, cnt FROM m$i").mkString("\nUNION ALL ")
    s"""WITH ${bpeStagesSql(n)}
       |$finals
       |ORDER BY merge_rank""".stripMargin
  }

  /** Q83 — tokenize the corpus with the q82-learned vocabulary (the
    * apply half): per-document word and subword counts under the 10
    * trained merges, greedy left-to-right application in merge order.
    * The oracle re-trains the same stages, then applies all 10 merges as
    * a chained replace over every document word. */
  def bpeEncode(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val merges = bpeMergeList(spark, dir)
    graft.ops.Bpe.encode(docs, "doc_id", "text", merges)
      .withColumn("subwords_per_kiloword",
        expr("n_subwords * 1000 div n_words"))
      .orderBy(col("doc_id"))
  }

  val bpeEncodeSql: String = {
    val n = 10
    val applied = (1 to n).foldLeft("regexp_replace(word, '(.)', '<\\1>', 'g')") {
      (e, i) => s"replace($e, '<' || m$i.l || '><' || m$i.r || '>', '<' || m$i.l || m$i.r || '>')"
    }
    s"""WITH ${bpeStagesSql(n)},
       |words AS (
       |  SELECT doc_id, word
       |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents)
       |  WHERE regexp_matches(word, '^[a-z]+$$')),
       |enc AS (
       |  SELECT doc_id, length(r) - length(replace(r, '<', '')) AS n_sub
       |  FROM (SELECT doc_id, $applied AS r
       |        FROM words, ${(1 to n).map(i => s"m$i").mkString(", ")}))
       |SELECT doc_id,
       |  CAST(COUNT(*) AS BIGINT) AS n_words,
       |  CAST(SUM(n_sub) AS BIGINT) AS n_subwords,
       |  CAST((SUM(n_sub) * 1000) // COUNT(*) AS BIGINT) AS subwords_per_kiloword
       |FROM enc GROUP BY doc_id ORDER BY doc_id""".stripMargin
  }

  /** Q148 — tokenizer FERTILITY by language: the per-language cost of a
    * shared vocabulary (subwords emitted per 1000 words), the standard
    * multilingual-tokenizer fairness measurement — a language whose
    * fertility is high pays more sequence length per sentence under the
    * same budget. Reuses the q82-trained merges and the q83 encoder; the
    * only new work is the rollup keyed by the (bounded) lang column, so
    * the exchange carries one row per language. The oracle replays
    * training, encoding, AND the per-language exact-integer rollup. */
  def bpeFertility(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val merges = bpeMergeList(spark, dir)
    graft.ops.Bpe.encode(docs, "doc_id", "text", merges)
      .join(docs.select(col("doc_id"), col("lang")), Seq("doc_id"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_words")).as("n_words"),
        sum(col("n_subwords")).as("n_subwords"))
      .withColumn("subwords_per_kiloword",
        expr("n_subwords * 1000 div n_words"))
      .orderBy(col("lang"))
  }

  val bpeFertilitySql: String = {
    val n = 10
    val applied = (1 to n).foldLeft("regexp_replace(word, '(.)', '<\\1>', 'g')") {
      (e, i) => s"replace($e, '<' || m$i.l || '><' || m$i.r || '>', '<' || m$i.l || m$i.r || '>')"
    }
    s"""WITH ${bpeStagesSql(n)},
       |words AS (
       |  SELECT doc_id, word
       |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents)
       |  WHERE regexp_matches(word, '^[a-z]+$$')),
       |enc AS (
       |  SELECT doc_id, length(r) - length(replace(r, '<', '')) AS n_sub
       |  FROM (SELECT doc_id, $applied AS r
       |        FROM words, ${(1 to n).map(i => s"m$i").mkString(", ")})),
       |perdoc AS (
       |  SELECT doc_id, COUNT(*) AS w, SUM(n_sub) AS s FROM enc GROUP BY doc_id)
       |SELECT d.lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
       |  CAST(SUM(p.w) AS BIGINT) AS n_words,
       |  CAST(SUM(p.s) AS BIGINT) AS n_subwords,
       |  CAST((SUM(p.s) * 1000) // SUM(p.w) AS BIGINT) AS subwords_per_kiloword
       |FROM perdoc p JOIN documents d USING (doc_id)
       |GROUP BY 1 ORDER BY 1""".stripMargin
  }

  /** Q84 — corpus-TRAINED language ID (ops/LangId.scala): char-trigram
    * majority model learned from the labeled corpus, applied back by
    * integer trigram vote. Oracle replays training (per-trigram argmax
    * with count-then-lang tiebreak) and inference (vote argmax) exactly.
    * Note the synthetic corpus's `lang` labels are UNcorrelated with its
    * text (q16's heuristic sees the same), so the learned majority is
    * 'en' everywhere — the oracle pins that this is what the data says,
    * not an operator artifact; LangIdSpec pins discrimination on corpora
    * whose labels do follow the text. */
  def langIdTrained(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val model = graft.ops.LangId.trigramModel(docs, "text", "lang")
    graft.ops.LangId.classify(docs, "doc_id", "text", model)
      .join(docs.select(col("doc_id"), col("lang")), Seq("doc_id"))
      .select(col("doc_id"), col("lang"), col("predicted"), col("votes"),
        (col("predicted") === col("lang")).as("is_match"))
      .orderBy(col("doc_id"))
  }

  val langIdTrainedSql: String =
    """WITH tg AS (
      |  SELECT doc_id, lang,
      |    unnest(list_transform(range(1, length(text) - 1), i -> substring(text, i, 3))) AS g
      |  FROM documents WHERE length(text) >= 3),
      |model AS (
      |  SELECT g, lang AS model_lang FROM (
      |    SELECT g, lang, COUNT(*) AS c,
      |      row_number() OVER (PARTITION BY g ORDER BY COUNT(*) DESC, lang) AS rn
      |    FROM tg GROUP BY g, lang)
      |  WHERE rn = 1),
      |votes AS (
      |  SELECT t.doc_id, m.model_lang, CAST(COUNT(*) AS BIGINT) AS votes
      |  FROM tg t JOIN model m USING (g) GROUP BY 1, 2),
      |pred AS (
      |  SELECT doc_id, model_lang AS predicted, votes,
      |    row_number() OVER (PARTITION BY doc_id ORDER BY votes DESC, model_lang) AS rn
      |  FROM votes)
      |SELECT p.doc_id, d.lang, p.predicted, p.votes, (p.predicted = d.lang) AS is_match
      |FROM pred p JOIN documents d USING (doc_id)
      |WHERE p.rn = 1 ORDER BY p.doc_id""".stripMargin

  /** Q86 — corpus-statistical keyphrase extraction (TextSearch
    * .tfidfKeyphrases): top-3 TF-IDF terms per document with the
    * integer-division fixed-point RSJ idf and the df ≤ N/2 statistical
    * stopword cut — the corpus-trained upgrade of the reference's
    * external key-phrase participant (B8), the way q84 upgraded language
    * ID. The oracle replays tokenization, df, the exact integer idf, and
    * both window ranks, so every score and every tie-break must match
    * bit-for-bit. */
  def keyphrases(spark: SparkSession, dir: String): DataFrame =
    graft.ops.TextSearch.tfidfKeyphrases(
      Tables.documents(spark, dir), "doc_id", "text", k = 3,
      // the synthetic corpus has a 31-term vocabulary with median df
      // ≈ 78% — the default half-corpus stopword cut would leave one
      // term; 900‰ keeps the ranking exercised while still a cut
      maxDfPermille = 900)
      .orderBy(col("doc_id"), col("rank"))

  val keyphrasesSql: String =
    """WITH toks AS (
      |  SELECT doc_id, string_split(text, ' ') AS ts FROM documents),
      |p AS (
      |  SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf
      |  FROM (SELECT doc_id, unnest(ts) AS term FROM toks) GROUP BY 1, 2),
      |n AS (SELECT COUNT(*) AS n_docs FROM documents),
      |d AS (SELECT term, COUNT(*) AS df FROM p GROUP BY 1),
      |sc AS (
      |  SELECT p.doc_id, p.term,
      |    p.tf * ((2 * (n.n_docs - d.df) + 1) * 1000000 // (2 * d.df + 1)) AS score_e6
      |  FROM p JOIN d USING (term) CROSS JOIN n
      |  WHERE d.df * 1000 <= n.n_docs * 900)
      |SELECT doc_id, CAST(rn AS INTEGER) AS rank, term, CAST(score_e6 AS BIGINT) AS score_e6
      |FROM (
      |  SELECT doc_id, term, score_e6,
      |    row_number() OVER (PARTITION BY doc_id ORDER BY score_e6 DESC, term ASC) AS rn
      |  FROM sc)
      |WHERE rn <= 3 ORDER BY doc_id, rank""".stripMargin

  /** Q93 — CCNet-style LM-perplexity quality bucketing
    * (TrainingPrep.lmQualityBuckets): an integer bigram LM trained on
    * the reference slice (doc_id % 3 == 0 — CCNet's trusted-domain
    * corpus), every document scored by exact floor-log₂ conditional
    * surprisal with a 20-bit unseen backoff, then split head/middle/
    * tail by value-tercile thresholds (percentile_disc semantics: equal
    * scores share a bucket). Served from the build-once
    * [[CurationArtifacts.lmRawBuckets]] (round 12: q93/q170/q195 each
    * rebuilt the same two count tables per run; now one build per
    * corpus, consumers FileScan). The oracle replays tokenization, both
    * count tables, every per-bigram bit score, the fixed-point average,
    * the histogram-derived thresholds, and the bucket assignment. */
  def lmQuality(spark: SparkSession, dir: String): DataFrame =
    CurationArtifacts.lmRawBuckets(spark, dir).orderBy(col("doc_id"))

  /** The q93 CTE chain (reference-slice bigram LM → per-doc surprisal →
    * tercile thresholds), shared with q170's agreement census so the two
    * forms cannot drift. Composable under a plain WITH. */
  private val lmQualityCtes: String =
    """base AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
      |refuni AS (
      |  SELECT w1, COUNT(*) AS c1
      |  FROM (SELECT unnest(ws) AS w1 FROM base WHERE doc_id % 3 = 0) GROUP BY 1),
      |refbg AS (
      |  SELECT bg, COUNT(*) AS c12 FROM (
      |    SELECT unnest(list_transform(range(1, len(ws)), i -> ws[i] || ' ' || ws[i+1])) AS bg
      |    FROM base WHERE doc_id % 3 = 0 AND len(ws) >= 2) GROUP BY 1),
      |allbg AS (
      |  SELECT doc_id, t.w1, t.w1 || ' ' || t.w2 AS bg FROM (
      |    SELECT doc_id, unnest(list_transform(range(1, len(ws)),
      |      i -> {'w1': ws[i], 'w2': ws[i+1]})) AS t
      |    FROM base WHERE len(ws) >= 2)),
      |perdoc AS (
      |  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
      |    CAST(SUM(CASE WHEN c12 IS NULL THEN 20
      |             ELSE length(bin(c1)) - length(bin(c12)) END) AS BIGINT) AS bits_total,
      |    CAST(SUM(CASE WHEN c12 IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_unseen
      |  FROM allbg LEFT JOIN refbg USING (bg) LEFT JOIN refuni USING (w1)
      |  GROUP BY doc_id),
      |avgd AS (
      |  SELECT *, (bits_total * 1000000) // n_bigrams AS avg_micro FROM perdoc),
      |hist AS (SELECT avg_micro, COUNT(*) AS nv FROM avgd GROUP BY 1),
      |cumh AS (SELECT avg_micro, SUM(nv) OVER (ORDER BY avg_micro) AS cum FROM hist),
      |tot AS (SELECT COUNT(*) AS n FROM avgd),
      |thr AS (
      |  SELECT MIN(CASE WHEN cum * 3 >= n THEN avg_micro END) AS t1,
      |    MIN(CASE WHEN cum * 3 >= n * 2 THEN avg_micro END) AS t2
      |  FROM cumh, tot)""".stripMargin

  val lmQualitySql: String =
    s"""WITH $lmQualityCtes
       |SELECT a.doc_id, a.n_bigrams, a.bits_total, a.n_unseen,
       |  CAST(a.avg_micro AS BIGINT) AS avg_micro,
       |  CAST(CASE WHEN a.avg_micro <= t.t1 THEN 1
       |       WHEN a.avg_micro <= t.t2 THEN 2 ELSE 3 END AS INTEGER) AS bucket
       |FROM avgd a, thr t ORDER BY a.doc_id""".stripMargin

  /** Q94 — DSIR-style importance selection
    * (TrainingPrep.importanceSelect): target domain = source 'src0',
    * raw pool = every other source; word bigrams hashed into 4096
    * feature cells, integer floor-log₂ weight surrogate with Laplace
    * smoothing and the +64 positivity offset, top-25 raw docs by mean
    * feature weight (fully tie-broken). The oracle replays the portable
    * 60-bit hash, the bucket counts, every weight, the fixed-point
    * averages, and the ranked selection. */
  def importanceSelect(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    graft.ops.TrainingPrep.importanceSelect(
      docs.filter(col("source") =!= "src0"), docs.filter(col("source") === "src0"),
      "doc_id", "text")
      .orderBy(col("rank"))
  }

  val importanceSelectSql: String =
    """WITH base AS (SELECT doc_id, source, string_split(text, ' ') AS ws FROM documents),
      |bg AS (
      |  SELECT doc_id, source,
      |    unnest(list_transform(range(1, len(ws)), i -> ws[i] || ' ' || ws[i+1])) AS bg
      |  FROM base WHERE len(ws) >= 2),
      |f AS (
      |  SELECT doc_id, source,
      |    CAST(('0x' || substring(md5(bg), 1, 15)) AS BIGINT) % 4096 AS f
      |  FROM bg),
      |ct AS (SELECT f, COUNT(*) AS ct FROM f WHERE source = 'src0' GROUP BY 1),
      |cs AS (SELECT f, COUNT(*) AS cs FROM f WHERE source <> 'src0' GROUP BY 1),
      |w AS (
      |  SELECT s.f,
      |    64 + length(bin(COALESCE(t.ct, 0) + 1)) - length(bin(s.cs + 1)) AS wb
      |  FROM cs s LEFT JOIN ct t USING (f)),
      |perdoc AS (
      |  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
      |    CAST(SUM(wb) AS BIGINT) AS bits_total,
      |    (SUM(wb) * 1000000) // COUNT(*) AS avg_micro
      |  FROM f JOIN w USING (f) WHERE source <> 'src0' GROUP BY doc_id)
      |SELECT doc_id, n_bigrams, bits_total, CAST(avg_micro AS BIGINT) AS avg_micro,
      |  CAST(row_number() OVER (ORDER BY avg_micro DESC, doc_id ASC) AS INTEGER) AS rank
      |FROM perdoc ORDER BY avg_micro DESC, doc_id ASC LIMIT 25""".stripMargin

  /** Q95 — batched positional phrase search (TextSearch.phraseSearch):
    * three phrases of mixed length — including one with a REPEATED
    * term — matched exactly (consecutive words) across the corpus in
    * one join + one aggregate. The oracle replays the positional
    * set-intersection independently (per-phrase correlated position
    * arithmetic over the split arrays), so every (query, doc) hit
    * count and first position must agree. */
  def phraseSearch(spark: SparkSession, dir: String): DataFrame =
    graft.ops.TextSearch.phraseSearch(
      Tables.documents(spark, dir), "doc_id", "text",
      Map(
        "p_bigram" -> Seq("table", "hash"),
        "p_trigram" -> Seq("part", "filter", "scan"),
        "p_repeat" -> Seq("table", "table")))
      .orderBy(col("query"), col("doc_id"))

  val phraseSearchSql: String =
    """WITH base AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
      |ph AS (
      |  SELECT * FROM (VALUES
      |    ('p_bigram', ['table', 'hash']),
      |    ('p_trigram', ['part', 'filter', 'scan']),
      |    ('p_repeat', ['table', 'table'])) AS t(query, terms)),
      |hits AS (
      |  SELECT p.query, b.doc_id, s.i - 1 AS start
      |  FROM base b CROSS JOIN ph p,
      |    UNNEST(range(1, len(b.ws) - len(p.terms) + 2)) AS s(i)
      |  WHERE len(b.ws) >= len(p.terms)
      |    AND NOT EXISTS (
      |      SELECT 1 FROM UNNEST(range(1, len(p.terms) + 1)) AS o(j)
      |      WHERE b.ws[s.i + o.j - 1] <> p.terms[o.j]))
      |SELECT query, doc_id, CAST(COUNT(*) AS BIGINT) AS n_hits,
      |  CAST(MIN(start) AS INTEGER) AS first_pos
      |FROM hits GROUP BY 1, 2 ORDER BY query, doc_id""".stripMargin

  /** Q101 — token-distribution drift monitor
    * (TrainingPrep.tokenDriftChiSq): chi-square homogeneity
    * contributions of every token's count split between the src0 and
    * src1 corpus slices — integer-exact in DECIMAL(38)/HUGEINT, no
    * logarithms, one corpus pass. The oracle recomputes every
    * contribution from the same conditional counts. */
  def tokenDrift(spark: SparkSession, dir: String): DataFrame =
    graft.ops.TrainingPrep.tokenDriftChiSq(
      Tables.documents(spark, dir), "source", "text", "src0", "src1")
      .orderBy(col("token"))

  val tokenDriftSql: String =
    """WITH t AS (
      |  SELECT source AS l, unnest(string_split(text, ' ')) AS token
      |  FROM documents WHERE source IN ('src0', 'src1')),
      |c AS (
      |  SELECT token,
      |    CAST(SUM(CASE WHEN l = 'src0' THEN 1 ELSE 0 END) AS BIGINT) AS o_a,
      |    CAST(SUM(CASE WHEN l = 'src1' THEN 1 ELSE 0 END) AS BIGINT) AS o_b
      |  FROM t GROUP BY token),
      |tot AS (SELECT SUM(o_a) AS na, SUM(o_b) AS nb FROM c),
      |d AS (
      |  SELECT token, o_a, o_b, na, nb,
      |    o_a::HUGEINT * (na + nb) - (o_a + o_b)::HUGEINT * na AS dd
      |  FROM c, tot)
      |SELECT token, o_a, o_b,
      |  CAST(dd * dd * 1000000 // ((na + nb)::HUGEINT * (o_a + o_b) * na)
      |     + dd * dd * 1000000 // ((na + nb)::HUGEINT * (o_a + o_b) * nb) AS BIGINT) AS chi2_e6
      |FROM d ORDER BY token""".stripMargin

  /** Q103 — corpus-trained Naive Bayes classification
    * (Classify.nbClassify): the supervised model-based filter stage —
    * train a multinomial NB on the %5≠0 slice (label = source), classify
    * the held-out %5=0 slice. Integer floor-log₂ bits throughout; the
    * oracle replays the vocabulary, every smoothed (class, word) weight,
    * every per-class score and the fully-tie-broken argmax. */
  def nbClassifier(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    graft.ops.Classify.nbClassify(
      docs.filter(col("doc_id") % 5 =!= 0), docs.filter(col("doc_id") % 5 === 0),
      "source", "doc_id", "text")
      .orderBy(col("doc_id"))
  }

  /** The NB scoring CTE chain shared by the q103 oracle and the q155
    * margin-calibration oracle (everything through the per-doc ranked
    * score table). */
  private val nbCtes: String =
    """WITH tr AS (
      |  SELECT source AS label, doc_id, unnest(string_split(text, ' ')) AS w
      |  FROM documents WHERE doc_id % 5 <> 0),
      |te AS (
      |  SELECT doc_id, source AS actual, unnest(string_split(text, ' ')) AS w
      |  FROM documents WHERE doc_id % 5 = 0),
      |vocab AS (SELECT DISTINCT w FROM tr),
      |vs AS (SELECT COUNT(*) AS v FROM vocab),
      |cls AS (SELECT label, COUNT(*) AS tc, COUNT(DISTINCT doc_id) AS dc
      |  FROM tr GROUP BY 1),
      |wc AS (SELECT label, w, COUNT(*) AS cwc FROM tr GROUP BY 1, 2),
      |grid AS (
      |  SELECT c.label, vb.w,
      |    64 + length(bin(COALESCE(x.cwc, 0) + 1)) - length(bin(c.tc + vs.v)) AS bits,
      |    length(bin(c.dc + 1)) - 1 AS prior_bits
      |  FROM cls c CROSS JOIN vocab vb CROSS JOIN vs
      |  LEFT JOIN wc x ON x.label = c.label AND x.w = vb.w),
      |perdl AS (
      |  SELECT te.doc_id, g.label,
      |    CAST(COUNT(*) AS BIGINT) AS n_vocab_tokens,
      |    CAST(SUM(g.bits) + MIN(g.prior_bits) AS BIGINT) AS score_bits,
      |    MIN(te.actual) AS actual
      |  FROM te JOIN grid g USING (w)
      |  GROUP BY 1, 2),
      |best AS (
      |  SELECT doc_id, n_vocab_tokens, label, score_bits, actual,
      |    row_number() OVER (PARTITION BY doc_id
      |      ORDER BY score_bits DESC, label DESC) AS rn
      |  FROM perdl)""".stripMargin

  val nbClassifierSql: String = nbCtes +
    """
      |SELECT doc_id, n_vocab_tokens, label AS pred_label, score_bits, actual,
      |  CAST(CASE WHEN label = actual THEN 1 ELSE 0 END AS INTEGER) AS hit
      |FROM best WHERE rn = 1 ORDER BY doc_id""".stripMargin

  /** Q155 — classifier margin CALIBRATION (Classify.nbClassifyMargin):
    * held-out accuracy stratified by the integer decision margin (winner
    * bits − runner-up bits) — the model-ops answer to "at what
    * confidence threshold can the q103 filter be trusted". The synthetic
    * text is label-independent (q103's census is honest about that:
    * held-out accuracy 0), so a weak label token is PLANTED on every
    * doc_id % 3 == 0 document — the classifier is then RIGHT exactly
    * when it is CONFIDENT, the monotone accuracy-vs-margin shape a
    * calibration census exists to reveal (and whose absence flags a
    * broken confidence signal). Margins are floor-log₂ bit counts
    * (single digits by construction), so each margin value is its own
    * stratum. The split is doc_id % 7 — NOT q103's % 5, which is
    * label-DISJOINT against source = f(doc_id % 20) (every test class
    * unseen in training; q103 measures mechanism under that, a
    * calibration census needs a class-covering split). All integers; the
    * oracle replays the scoring chain, the per-doc top-2, and the
    * census. */
  def classifierCalibration(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"), col("source"), concat(col("text"),
        when(col("doc_id") % 3 === 0,
          repeat(concat(lit(" marker"), col("source")), 8))
          .otherwise(lit(""))).as("text"))
    graft.ops.Classify.nbClassifyMargin(
        docs.filter(col("doc_id") % 7 =!= 0), docs.filter(col("doc_id") % 7 === 0),
        "source", "doc_id", "text")
      .groupBy(col("margin_bits"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("hit")).cast("long").as("n_hits"))
      .withColumn("accuracy_permille", expr("n_hits * 1000 div n_docs"))
      .orderBy(col("margin_bits"))
  }

  val classifierCalibrationSql: String =
    nbCtes
      .replace("doc_id % 5", "doc_id % 7") // class-covering split (see scaladoc)
      .replace("FROM documents",
        """FROM (SELECT doc_id, source, text
          |  || CASE WHEN doc_id % 3 = 0 THEN repeat(' marker' || source, 8) ELSE '' END AS text
          |  FROM documents)""".stripMargin) +
    """,
      |w1 AS (SELECT doc_id, label, score_bits, actual FROM best WHERE rn = 1),
      |w2 AS (SELECT doc_id, score_bits AS s2 FROM best WHERE rn = 2),
      |m AS (
      |  SELECT w1.doc_id,
      |    w1.score_bits - COALESCE(w2.s2, w1.score_bits) AS margin_bits,
      |    CASE WHEN w1.label = w1.actual THEN 1 ELSE 0 END AS hit
      |  FROM w1 LEFT JOIN w2 USING (doc_id))
      |SELECT CAST(margin_bits AS BIGINT) AS margin_bits,
      |  CAST(COUNT(*) AS BIGINT) AS n_docs,
      |  CAST(SUM(hit) AS BIGINT) AS n_hits,
      |  CAST(SUM(hit) * 1000 // COUNT(*) AS BIGINT) AS accuracy_permille
      |FROM m GROUP BY 1 ORDER BY 1""".stripMargin

  /** Q120 — classifier EVALUATION metrics (the model-ops verb that
    * closes the q103 loop: train → classify → MEASURE): per-class
    * confusion counts and precision / recall / F1 in exact permille over
    * the q103 held-out predictions. F1 computes as `2·tp·1000 div
    * (n_pred + n_actual)` — one integer division, no intermediate
    * rounding; never-predicted or absent classes report null metrics but
    * keep census rows. Three tiny per-class aggregates joined on the
    * ≤ |classes| key space — everything after the q103 argmax is
    * class-cardinality work. */
  def classifierEval(spark: SparkSession, dir: String): DataFrame = {
    // eager: the full NB scoring chain fans out to FOUR consumers below
    // (classes ×2, per-class actual/pred counts, true positives) —
    // unmaterialized it was inlined and re-evaluated per consumer
    // (~4× the q103 task time at sf0.1)
    val pred = nbClassifier(spark, dir).localCheckpoint(true)
    val classes = pred.select(col("actual").as("label"))
      .union(pred.select(col("pred_label").as("label"))).distinct()
    val nActual = pred.groupBy(col("actual").as("label"))
      .agg(count(lit(1)).as("n_actual"))
    val nPred = pred.groupBy(col("pred_label").as("label"))
      .agg(count(lit(1)).as("n_pred"))
    val tp = pred.filter(col("pred_label") === col("actual"))
      .groupBy(col("actual").as("label")).agg(count(lit(1)).as("tp"))
    classes
      .join(nActual, Seq("label"), "left_outer")
      .join(nPred, Seq("label"), "left_outer")
      .join(tp, Seq("label"), "left_outer")
      .na.fill(0L, Seq("n_actual", "n_pred", "tp"))
      .withColumn("precision_permille",
        when(col("n_pred") > 0, expr("tp * 1000 div n_pred")))
      .withColumn("recall_permille",
        when(col("n_actual") > 0, expr("tp * 1000 div n_actual")))
      .withColumn("f1_permille",
        when(col("n_pred") + col("n_actual") > 0,
          expr("2 * tp * 1000 div (n_pred + n_actual)")))
      .orderBy(col("label"))
  }

  val classifierEvalSql: String =
    s"""WITH pred AS (SELECT * FROM (
       |$nbClassifierSql
       |) q),
       |cls AS (SELECT actual AS label FROM pred
       |        UNION SELECT pred_label FROM pred),
       |na AS (SELECT actual AS label, COUNT(*) AS n_actual FROM pred GROUP BY 1),
       |np AS (SELECT pred_label AS label, COUNT(*) AS n_pred FROM pred GROUP BY 1),
       |tpt AS (SELECT actual AS label, COUNT(*) AS tp FROM pred
       |        WHERE pred_label = actual GROUP BY 1),
       |j AS (
       |  SELECT cls.label,
       |    COALESCE(na.n_actual, 0) AS n_actual,
       |    COALESCE(np.n_pred, 0) AS n_pred,
       |    COALESCE(tpt.tp, 0) AS tp
       |  FROM cls LEFT JOIN na USING (label) LEFT JOIN np USING (label)
       |  LEFT JOIN tpt USING (label))
       |SELECT label, CAST(n_actual AS BIGINT) AS n_actual,
       |  CAST(n_pred AS BIGINT) AS n_pred, CAST(tp AS BIGINT) AS tp,
       |  CAST(CASE WHEN n_pred > 0 THEN tp * 1000 // n_pred END AS BIGINT)
       |    AS precision_permille,
       |  CAST(CASE WHEN n_actual > 0 THEN tp * 1000 // n_actual END AS BIGINT)
       |    AS recall_permille,
       |  CAST(CASE WHEN n_pred + n_actual > 0
       |       THEN 2 * tp * 1000 // (n_pred + n_actual) END AS BIGINT)
       |    AS f1_permille
       |FROM j ORDER BY label""".stripMargin

  /** Q143 — retrieval SNIPPETS (the search-UX half of q45): for each
    * BM25 top-20 document, the earliest query-term hit position and a
    * ±3-word highlight window around it — pure array ops (first
    * array_position over the term bag, a bounded slice), so the oracle
    * replays the ranking, every hit position and every snippet string.
    * Hit position is the MIN over terms of the term's first occurrence
    * (1-based; ties need no rule — min of exact integers). */
  def snippets(spark: SparkSession, dir: String): DataFrame = {
    // ranking off the stored postings index (the q45 serving path); only
    // the top-k doc_ids resolve back to corpus text, for the snippets
    val top = graft.ops.TextSearch.bm25TopKIndexed(
      spark, ClusterArtifacts.postingsIndex(spark, dir), Bm25Terms, Bm25K)
    attachSnippets(spark, dir, top)
      .select(col("doc_id"), col("score_e12"), col("hit_pos"), col("snippet"))
      .orderBy(col("score_e12").desc, col("doc_id").asc)
  }

  /** The q143 snippet attachment factored for reuse (q143 + the service
    * facade's /search): joins ANY ranked doc-id list back to the corpus
    * and adds the earliest query-term hit position and the ±3-word
    * highlight window. Docs without a term hit (semantic-only hybrid
    * results) keep null hit_pos/snippet. The ranked list is top-k
    * bounded, so the join broadcasts it against one pruned corpus scan. */
  def attachSnippets(spark: SparkSession, dir: String, ranked: DataFrame,
      terms: Seq[String] = Bm25Terms): DataFrame =
    attachSnippets(Tables.documents(spark, dir), ranked, terms)

  /** [[attachSnippets]] over an already-resolved `documents` frame (the
    * serving facade's per-corpus relation). */
  def attachSnippets(docs: DataFrame, ranked: DataFrame,
      terms: Seq[String]): DataFrame = {
    val posExprs = terms.map(t =>
      when(array_position(col("ws"), t) > 0, array_position(col("ws"), t)))
    broadcast(ranked).join(docs.select(col("doc_id"), col("text")), Seq("doc_id"))
      .withColumn("ws", split(col("text"), " "))
      .withColumn("hit_pos",
        if (posExprs.size == 1) posExprs.head else least(posExprs: _*))
      // guard the null-hit case explicitly: concat_ws IGNORES null args
      // (returns ''), so without it a semantic-only doc would carry
      // snippet="" where the contract promises null
      .withColumn("snippet", when(col("hit_pos").isNotNull, expr(
        "concat_ws(' ', slice(ws, greatest(1, cast(hit_pos as int) - 3)," +
          " cast(hit_pos as int) + 3 - greatest(1, cast(hit_pos as int) - 3) + 1))")))
      .drop("ws", "text")
  }

  val snippetsSql: String = {
    val termList = Bm25Terms.map(t => s"'$t'").mkString(", ")
    val posList = Bm25Terms.map(t => s"list_position(ws, '$t')").mkString(", ")
    s"""WITH base AS (
       |  SELECT doc_id, string_split(text, ' ') AS toks,
       |    CAST(len(string_split(text, ' ')) AS BIGINT) AS dl
       |  FROM documents),
       |stats AS (
       |  SELECT CAST(count(*) AS BIGINT) AS n_docs, CAST(sum(dl) AS BIGINT) AS sdl
       |  FROM base),
       |tfrows AS (
       |  SELECT doc_id, dl, term,
       |    CAST(len(list_filter(toks, x -> x = term)) AS BIGINT) AS tf
       |  FROM base CROSS JOIN (SELECT unnest([$termList]) AS term)
       |  WHERE len(list_filter(toks, x -> x = term)) > 0),
       |dft AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM tfrows GROUP BY term),
       |scored AS (
       |  SELECT doc_id,
       |    CAST(round(((2.0 * CAST((n_docs - df) AS DOUBLE) + 1.0)
       |                / (2.0 * CAST(df AS DOUBLE) + 1.0)) * 1000000.0, 0) AS BIGINT)
       |    * CAST(round(((CAST(tf AS DOUBLE) * 2.2)
       |                  / (CAST(tf AS DOUBLE)
       |                     + 1.2 * (0.25 + 0.75 * (CAST(dl AS DOUBLE) * CAST(n_docs AS DOUBLE)
       |                                             / CAST(sdl AS DOUBLE))))) * 1000000.0, 0) AS BIGINT)
       |      AS term_score
       |  FROM tfrows JOIN dft USING (term) CROSS JOIN stats),
       |toplist AS (
       |  SELECT doc_id, CAST(sum(term_score) AS BIGINT) AS score_e12
       |  FROM scored GROUP BY doc_id
       |  ORDER BY score_e12 DESC, doc_id LIMIT $Bm25K),
       |sn AS (
       |  SELECT t.doc_id, t.score_e12,
       |    (SELECT MIN(p) FROM UNNEST([$posList]) AS u(p) WHERE p IS NOT NULL AND p > 0)
       |      AS hit_pos, ws
       |  FROM toplist t JOIN (SELECT doc_id, string_split(text, ' ') AS ws
       |                       FROM documents) d USING (doc_id))
       |SELECT doc_id, score_e12, CAST(hit_pos AS BIGINT) AS hit_pos,
       |  array_to_string(ws[greatest(1, CAST(hit_pos AS INTEGER) - 3):CAST(hit_pos AS INTEGER) + 3], ' ')
       |    AS snippet
       |FROM sn ORDER BY score_e12 DESC, doc_id""".stripMargin
  }

  /** Q106 — collocation extraction (TextSearch.collocations): top-25
    * word pairs by chi-square association over the corpus bigram table,
    * min pair count 5, integer-exact in DECIMAL(38)/HUGEINT. The oracle
    * rebuilds the full 2×2 contingency table per surviving pair and
    * replays every χ² contribution and the tie-broken ranking. */
  def collocationsQuery(spark: SparkSession, dir: String): DataFrame =
    graft.ops.TextSearch.collocations(
      Tables.documents(spark, dir), "doc_id", "text")

  val collocationsSql: String =
    """WITH base AS (SELECT string_split(text, ' ') AS ws FROM documents),
      |bg AS (
      |  SELECT ws[i] AS x, ws[i + 1] AS y, COUNT(*) AS o11
      |  FROM base, UNNEST(range(1, len(ws))) AS t(i)
      |  WHERE len(ws) >= 2
      |  GROUP BY 1, 2),
      |mx AS (SELECT x, SUM(o11) AS cx FROM bg GROUP BY 1),
      |my AS (SELECT y, SUM(o11) AS cy FROM bg GROUP BY 1),
      |tot AS (SELECT SUM(o11) AS n FROM bg),
      |tab AS (
      |  SELECT bg.x, bg.y, bg.o11, m1.cx - bg.o11 AS o12, m2.cy - bg.o11 AS o21,
      |    t.n - m1.cx - m2.cy + bg.o11 AS o22, m1.cx, m2.cy, t.n
      |  FROM bg JOIN mx m1 USING (x) JOIN my m2 USING (y), tot t
      |  WHERE bg.o11 >= 5 AND t.n > m1.cx AND t.n > m2.cy),
      |sc AS (
      |  SELECT x, y, o11,
      |    (o11::HUGEINT * o22 - o12::HUGEINT * o21) AS d,
      |    (o11 + o12)::HUGEINT * (o21 + o22) * (o11 + o21) * (o12 + o22) AS den
      |  FROM tab)
      |SELECT x, y, CAST(o11 AS BIGINT) AS n_pair,
      |  CAST((SELECT n FROM tot)::HUGEINT * d * d * 1000000 // den AS BIGINT) AS chi2_e6
      |FROM sc ORDER BY chi2_e6 DESC, x ASC, y ASC LIMIT 25""".stripMargin

  /** Q107 — unicode canonicalization (NormalizeFold): the CCNet-style
    * normalize-before-dedup step. The corpus is ASCII, so the query
    * MANUFACTURES the unicode surface deterministically in both engines
    * (translate vowels to precomposed diacritics + uppercase) and the
    * kernel must fold it back: NFC, strip combining marks, casefold.
    * `folds_back` pins round-trip equality with lower(text) row by row;
    * the oracle computes the same fold via DuckDB's own unicode stack
    * (nfc_normalize / strip_accents / lower), so the two independent
    * unicode implementations must agree on every byte. */
  def normalizeQuery(spark: SparkSession, dir: String): DataFrame = {
    val mangled = upper(translate(col("text"), "aeiou", "áéíóú"))
    val folded = graft.functions.NativeExpressions.normalizeFold(mangled)
    Tables.documents(spark, dir)
      .select(col("doc_id"), folded.as("norm_text"),
        when(folded === lower(col("text")), 1).otherwise(0)
          .cast("int").as("folds_back"))
      .orderBy(col("doc_id"))
  }

  val normalizeSql: String =
    """SELECT doc_id,
      |  lower(strip_accents(nfc_normalize(upper(translate(text, 'aeiou', 'áéíóú'))))) AS norm_text,
      |  CAST(CASE WHEN lower(strip_accents(nfc_normalize(upper(translate(text, 'aeiou', 'áéíóú')))))
      |            = lower(text) THEN 1 ELSE 0 END AS INTEGER) AS folds_back
      |FROM documents ORDER BY doc_id""".stripMargin

  /** Q112 — Aho–Corasick multi-pattern scan (NativeExpressions.
    * MultiPatternStats): the blocklist/contamination-span verb — every
    * occurrence (overlaps included) of every pattern in ONE automaton
    * pass per document. The "blocklist" derives deterministically from
    * the corpus: all distinct word bigrams of the %100=0 document sample
    * (a few hundred strings, collected like q88's bloom vocabulary and
    * shipped inside the expression). Substring semantics, not
    * word-boundary — the automaton and the oracle both count raw char
    * positions. n_hits/n_patterns_hit/hit_checksum (Σ endPos·31+|p|) pin
    * every match position and length; the oracle replays via a
    * per-pattern-length substring equi-join. */
  def multiPatternScan(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val docs = Tables.documents(spark, dir)
    val pats = docs.filter(col("doc_id") % 100 === 0)
      .select(split(col("text"), " ").as("ws"))
      .filter(size(col("ws")) >= 2)
      .select(explode(expr(
        "transform(sequence(1, size(ws) - 1)," +
          " i -> concat(element_at(ws, i), ' ', element_at(ws, i + 1)))")).as("p"))
      .distinct().orderBy(col("p")).as[String].collect()
    val st = graft.functions.NativeExpressions.multiPatternStats(
      col("text"), scala.collection.immutable.ArraySeq.unsafeWrapArray(pats))
    docs.select(col("doc_id"), st.as("s"))
      .select(col("doc_id"),
        col("s.n_hits").as("n_hits"),
        col("s.n_patterns_hit").as("n_patterns_hit"),
        col("s.hit_checksum").as("hit_checksum"))
      .orderBy(col("doc_id"))
  }

  val multiPatternScanSql: String =
    """WITH pats AS (
      |  SELECT DISTINCT ws[i] || ' ' || ws[i + 1] AS p
      |  FROM (SELECT string_split(text, ' ') AS ws
      |        FROM documents WHERE doc_id % 100 = 0) s,
      |       UNNEST(range(1, len(ws))) AS t(i)),
      |pl AS (SELECT p, length(p) AS plen FROM pats),
      |lens AS (SELECT DISTINCT plen FROM pl),
      |pos AS (
      |  SELECT doc_id, i, l.plen,
      |    substr(text, CAST(i AS INTEGER), CAST(l.plen AS INTEGER)) AS sub
      |  FROM documents, UNNEST(range(1, length(text) + 1)) AS t(i), lens l
      |  WHERE i + l.plen - 1 <= length(text)),
      |occ AS (
      |  SELECT doc_id, i + pos.plen - 1 AS e, pos.plen, p
      |  FROM pos JOIN pl ON pl.plen = pos.plen AND pl.p = pos.sub),
      |agg AS (
      |  SELECT doc_id, COUNT(*) AS n_hits, COUNT(DISTINCT p) AS n_patterns_hit,
      |    SUM(e * 31 + plen) AS hit_checksum
      |  FROM occ GROUP BY 1)
      |SELECT d.doc_id,
      |  CAST(COALESCE(a.n_hits, 0) AS BIGINT) AS n_hits,
      |  CAST(COALESCE(a.n_patterns_hit, 0) AS BIGINT) AS n_patterns_hit,
      |  CAST(COALESCE(a.hit_checksum, 0) AS BIGINT) AS hit_checksum
      |FROM documents d LEFT JOIN agg a USING (doc_id)
      |ORDER BY doc_id""".stripMargin

  /** Q164 — BOILERPLATE REMOVAL (the jusText/readability line-level
    * content-extraction verb — the step between raw crawl HTML and every
    * text-quality operator in the suite): pages are segmented into
    * block-level elements, each block is scored by LINK DENSITY (chars
    * of anchor text / chars of text) and LENGTH, and only
    * content-shaped blocks (≥ 10 words, link density < 0.3) survive.
    * Pages are built deterministically from each document — a
    * link-dense nav strip, the text split into two paragraph blocks,
    * and a boilerplate footer — so the kernel has real chrome to strip
    * and the oracle can replay construction, block split (non-greedy
    * tag-pair regex), anchor-text accounting, tag strip, and the census
    * bit-for-bit. Output: per-source census of blocks / kept blocks /
    * chars / kept chars and the kept-ratio (µ, integer division).
    *
    * Scale: pure map-side per-document kernel (regex split + per-block
    * integer features) feeding one bounded-source hash aggregate; the
    * only exchange is census-sized. At 100 TB this is exactly the
    * trafilatura/jusText pass crawl pipelines run first — linear,
    * stateless, no shuffle of page bytes. */
  def boilerplateRemoval(spark: SparkSession, dir: String): DataFrame = {
    val page = Tables.documents(spark, dir)
      .withColumn("__w", split(col("text"), " "))
      .withColumn("__h", expr("CAST((size(__w) + 1) DIV 2 AS INT)"))
      .withColumn("page", concat(
        lit("<div><a href=\"/\">home</a> <a href=\"/s/"), col("source"),
        lit("\">"), col("source"), lit("</a> menu</div>"),
        lit("<p>"), concat_ws(" ", expr("slice(__w, 1, __h)")), lit("</p>"),
        lit("<p>"), concat_ws(" ", expr("slice(__w, __h + 1, size(__w) - __h)")),
        lit("</p>"),
        lit("<div>(c) 2026 graft <a href=\"/terms\">terms of use</a> " +
          "<a href=\"/privacy\">privacy</a></div>")))
    page
      .select(col("doc_id"), col("source"),
        explode(expr(
          "regexp_extract_all(page, '<(?:p|div)>(.*?)</(?:p|div)>', 1)"))
          .as("block"))
      .withColumn("btxt", trim(regexp_replace(col("block"), "<[^>]*>", "")))
      .withColumn("link_chars", expr(
        "aggregate(regexp_extract_all(block, '<a [^>]*>([^<]*)</a>', 1), " +
          "0, (a, x) -> a + length(x))"))
      .withColumn("n_words", when(col("btxt") === "", lit(0))
        .otherwise(size(split(col("btxt"), " "))))
      .withColumn("n_chars", length(col("btxt")))
      .withColumn("link_density_micro", expr(
        "CAST(link_chars * 1000000 DIV greatest(n_chars, 1) AS BIGINT)"))
      .withColumn("is_good",
        col("n_words") >= 10 && col("link_density_micro") < 300000L)
      .groupBy(col("source"))
      .agg(countDistinct(col("doc_id")).as("n_docs"),
        count(lit(1)).as("n_blocks"),
        sum(when(col("is_good"), 1L).otherwise(0L)).as("n_kept"),
        sum(col("n_chars").cast("long")).as("chars_total"),
        sum(when(col("is_good"), col("n_chars").cast("long")).otherwise(0L))
          .as("chars_kept"))
      .withColumn("kept_ratio_micro",
        expr("CAST(chars_kept * 1000000 DIV greatest(chars_total, 1) AS BIGINT)"))
      .orderBy(col("source"))
  }

  val boilerplateRemovalSql: String =
    """WITH pg AS (
      |  SELECT doc_id, source,
      |    '<div><a href="/">home</a> <a href="/s/' || source || '">' || source ||
      |    '</a> menu</div>' ||
      |    '<p>' || array_to_string(words[1:h], ' ') || '</p>' ||
      |    '<p>' || array_to_string(words[h+1:], ' ') || '</p>' ||
      |    '<div>(c) 2026 graft <a href="/terms">terms of use</a> <a href="/privacy">privacy</a></div>'
      |      AS page
      |  FROM (SELECT doc_id, source, string_split(text, ' ') AS words,
      |          CAST((len(string_split(text, ' ')) + 1) // 2 AS INT) AS h
      |        FROM documents)),
      |blocks AS (
      |  SELECT doc_id, source,
      |    UNNEST(regexp_extract_all(page, '<(?:p|div)>(.*?)</(?:p|div)>', 1)) AS block
      |  FROM pg),
      |feat AS (
      |  SELECT doc_id, source,
      |    trim(regexp_replace(block, '<[^>]*>', '', 'g')) AS btxt,
      |    COALESCE(list_sum(list_transform(
      |      regexp_extract_all(block, '<a [^>]*>([^<]*)</a>', 1),
      |      x -> len(x))), 0) AS link_chars
      |  FROM blocks),
      |scored AS (
      |  SELECT doc_id, source,
      |    CASE WHEN btxt = '' THEN 0 ELSE len(string_split(btxt, ' ')) END AS n_words,
      |    len(btxt) AS n_chars,
      |    CAST(link_chars * 1000000 // greatest(len(btxt), 1) AS BIGINT) AS link_density_micro
      |  FROM feat),
      |cls AS (
      |  SELECT doc_id, source, n_chars,
      |    (n_words >= 10 AND link_density_micro < 300000) AS is_good
      |  FROM scored)
      |SELECT source,
      |  CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs,
      |  CAST(COUNT(*) AS BIGINT) AS n_blocks,
      |  CAST(SUM(CASE WHEN is_good THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
      |  CAST(SUM(n_chars) AS BIGINT) AS chars_total,
      |  CAST(SUM(CASE WHEN is_good THEN n_chars ELSE 0 END) AS BIGINT) AS chars_kept,
      |  CAST(SUM(CASE WHEN is_good THEN n_chars ELSE 0 END) * 1000000 //
      |       greatest(SUM(n_chars), 1) AS BIGINT) AS kept_ratio_micro
      |FROM cls GROUP BY source ORDER BY source""".stripMargin

  /** Q167 — VOCABULARY GROWTH census (Heaps' law, the type/token curve):
    * the corpus in doc-id order is cut into 10 equal-width id deciles;
    * for each decile, the count of NEW types (tokens whose first
    * occurrence — min doc_id — lands in it), the running distinct
    * vocabulary, the decile's token volume, and cumulative tokens. The
    * curve is how tokenizer/vocab planning reads saturation: a corpus
    * whose cum_types flatten early re-uses vocabulary; one growing
    * linearly keeps minting types (OOV pressure at any fixed vocab).
    *
    * Scale: ONE exchange on the token (the min-doc_id aggregate — the
    * canonical Heaps pass); token volume per decile aggregates map-side
    * into 10 cells; both cumulative sums run through OrderStats.cumSums
    * over the 10-row census, so no unpartitioned row window exists at
    * any scale. */
  def vocabGrowth(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val toks = docs.select(col("doc_id"),
      explode(split(col("text"), " ")).as("tok"))
    val maxId = docs.agg(max(col("doc_id")).as("__mx"))
    val firstSeen = toks.groupBy(col("tok")).agg(min(col("doc_id")).as("first_doc"))
      .crossJoin(broadcast(maxId))
      .withColumn("bucket", expr("CAST(first_doc * 10 DIV (__mx + 1) AS BIGINT)"))
      .groupBy(col("bucket")).agg(count(lit(1)).as("new_types"))
    val tokCount = toks.crossJoin(broadcast(maxId))
      .withColumn("bucket", expr("CAST(doc_id * 10 DIV (__mx + 1) AS BIGINT)"))
      .groupBy(col("bucket")).agg(count(lit(1)).as("bucket_tokens"))
    val census = tokCount.join(firstSeen, Seq("bucket"), "left")
      .select(col("bucket"),
        coalesce(col("new_types"), lit(0L)).as("new_types"),
        col("bucket_tokens"))
    graft.ops.OrderStats.cumSums(census, "bucket",
        Seq("new_types", "bucket_tokens"))
      .select(col("bucket"), col("new_types"),
        col("cum_new_types").as("cum_types"),
        col("bucket_tokens"), col("cum_bucket_tokens").as("cum_tokens"))
      .orderBy(col("bucket"))
  }

  val vocabGrowthSql: String =
    """WITH mx AS (SELECT MAX(doc_id) AS mxid FROM documents),
      |toks AS (SELECT doc_id, UNNEST(string_split(text, ' ')) AS tok FROM documents),
      |firstseen AS (SELECT tok, MIN(doc_id) AS first_doc FROM toks GROUP BY tok),
      |nt AS (SELECT CAST(first_doc * 10 // (mxid + 1) AS BIGINT) AS bucket,
      |              COUNT(*) AS new_types
      |       FROM firstseen, mx GROUP BY 1),
      |bt AS (SELECT CAST(doc_id * 10 // (mxid + 1) AS BIGINT) AS bucket,
      |              COUNT(*) AS bucket_tokens
      |       FROM toks, mx GROUP BY 1),
      |census AS (
      |  SELECT bt.bucket, COALESCE(nt.new_types, 0) AS new_types, bt.bucket_tokens
      |  FROM bt LEFT JOIN nt ON bt.bucket = nt.bucket)
      |SELECT bucket,
      |  CAST(new_types AS BIGINT) AS new_types,
      |  CAST(SUM(new_types) OVER (ORDER BY bucket) AS BIGINT) AS cum_types,
      |  CAST(bucket_tokens AS BIGINT) AS bucket_tokens,
      |  CAST(SUM(bucket_tokens) OVER (ORDER BY bucket) AS BIGINT) AS cum_tokens
      |FROM census ORDER BY bucket""".stripMargin

  /** Q170 — QUALITY-FILTER AGREEMENT census (the ensemble-disagreement
    * audit behind every FineWeb-style ablation: before picking gate
    * thresholds, measure how often the independent quality signals
    * agree): three production gates — the heuristic composite score
    * (q17, pass ≥ 0.7), the reference-LM perplexity tercile (q93, pass =
    * head/middle), and language-ID consistency (q16's stopword argmax
    * matching the recorded language) — evaluated per document and
    * rolled into the 2³ agreement cells with exact shares. Cells where
    * gates disagree are exactly the docs a threshold change moves, so
    * this census IS the ablation planning table.
    *
    * Scale: the heuristic and langid gates are row-local kernels; the
    * LM gate is q93's audited chain (bounded reference model, histogram
    * terciles); the census aggregate is 8 rows. The ≤8-row cell table is
    * localCheckpointed before the total join so the LM chain runs once,
    * not once per consumer. */
  def filterAgreement(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val gates = docs.select(col("doc_id"), col("lang"),
      round(qualityScoreRaw(col("text")) * 1000000, 0).cast("long").as("__qm"),
      (langId(col("text")) === col("lang")).as("g_lang"))
    val lm = CurationArtifacts.lmRawBuckets(spark, dir)
      .select(col("doc_id"), col("bucket"))
    val cells = gates.join(lm, Seq("doc_id"))
      .select((col("__qm") >= 700000L).as("g_quality"),
        (col("bucket") <= 2).as("g_lm"), col("g_lang"))
      .groupBy(col("g_quality"), col("g_lm"), col("g_lang"))
      .agg(count(lit(1)).as("n_docs"))
      .localCheckpoint(true)
    val tot = cells.agg(sum(col("n_docs")).as("__tot"))
    cells.crossJoin(broadcast(tot))
      .withColumn("share_micro",
        expr("CAST(n_docs * 1000000 DIV __tot AS BIGINT)"))
      .drop("__tot")
      .orderBy(col("g_quality"), col("g_lm"), col("g_lang"))
  }

  val filterAgreementSql: String = {
    val (hEn, hDe, hEs, hFr) = (hitsSql("en"), hitsSql("de"), hitsSql("es"), hitsSql("fr"))
    s"""WITH $lmQualityCtes,
       |lmbuck AS (
       |  SELECT a.doc_id,
       |    CASE WHEN a.avg_micro <= t.t1 THEN 1
       |         WHEN a.avg_micro <= t.t2 THEN 2 ELSE 3 END AS bucket
       |  FROM avgd a, thr t),
       |feats AS (
       |  SELECT doc_id, lang, text,
       |    CAST(len(string_split(text, ' ')) AS DOUBLE) AS n,
       |    CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE) AS nd,
       |    CAST(len(list_filter(string_split(text, ' '), t -> regexp_matches(t, '^[0-9]+$$'))) AS DOUBLE) AS dig,
       |    $hEn AS h_en, $hDe AS h_de, $hEs AS h_es, $hFr AS h_fr
       |  FROM documents),
       |qd AS (
       |  SELECT doc_id, lang,
       |    CAST(round((0.3 * least(1.0, n / 50) + 0.3 * (nd / n)
       |      + 0.2 * (1.0 - dig / n)
       |      + 0.2 * least(1.0, ((length(text) - (n - 1)) / n) / 8)) * 1000000, 0) AS BIGINT) AS qm,
       |    CASE WHEN h_en = 0 AND h_de = 0 AND h_es = 0 AND h_fr = 0 THEN 'und'
       |         WHEN h_en >= h_de AND h_en >= h_es AND h_en >= h_fr THEN 'en'
       |         WHEN h_de >= h_es AND h_de >= h_fr THEN 'de'
       |         WHEN h_es >= h_fr THEN 'es'
       |         ELSE 'fr' END AS predicted
       |  FROM feats),
       |cells AS (
       |  SELECT (qm >= 700000) AS g_quality, (bucket <= 2) AS g_lm,
       |    (predicted = lang) AS g_lang, COUNT(*) AS n_docs
       |  FROM qd JOIN lmbuck USING (doc_id)
       |  GROUP BY 1, 2, 3)
       |SELECT g_quality, g_lm, g_lang, CAST(n_docs AS BIGINT) AS n_docs,
       |  CAST(n_docs * 1000000 // (SELECT SUM(n_docs) FROM cells) AS BIGINT) AS share_micro
       |FROM cells ORDER BY g_quality, g_lm, g_lang""".stripMargin
  }

  /** Q171 — ENCODING QC census (the mojibake/transcoding-damage gate
    * crawl pipelines run right after charset detection — CCNet/
    * RefinedWeb drop or strip documents whose bytes survived transit
    * but not decoding): per document, count C0 CONTROL characters
    * (except tab/newline/CR — legitimate text never contains BEL or
    * NUL; their presence means binary contamination or a charset
    * mis-detect) and U+FFFD REPLACEMENT characters (the decoder's own
    * damage marker), flag documents carrying either, and roll up per
    * language. Deterministic damage is planted in-query (every 13th doc
    * gains a BEL, every 26th additionally a U+FFFD) so the detector has
    * known positives and the oracle replays plant + detection exactly.
    *
    * Scale: entirely map-side (two row-local scans of each string) into
    * a bounded per-language hash aggregate — the cheapest QC pass in
    * the suite, which is why production pipelines run it first. */
  def encodingQc(spark: SparkSession, dir: String): DataFrame = {
    val ControlClass = "[\\x00-\\x08\\x0B\\x0C\\x0E-\\x1F]"
    Tables.documents(spark, dir)
      .withColumn("t2", concat(col("text"),
        when(col("doc_id") % 13 === 0, lit("\u0007")).otherwise(lit("")),
        when(col("doc_id") % 26 === 0, lit("\uFFFD")).otherwise(lit(""))))
      .withColumn("n_control",
        (length(col("t2")) - length(regexp_replace(col("t2"), ControlClass, "")))
          .cast("long"))
      .withColumn("n_repl",
        (length(col("t2")) - length(translate(col("t2"), "\uFFFD", "")))
          .cast("long"))
      .withColumn("flag_bad", col("n_control") > 0 || col("n_repl") > 0)
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("flag_bad"), 1L).otherwise(0L)).as("n_flagged"),
        sum(col("n_control")).as("total_control_chars"),
        sum(col("n_repl")).as("total_replacement_chars"))
      .withColumn("clean_share_micro",
        expr("CAST((n_docs - n_flagged) * 1000000 DIV n_docs AS BIGINT)"))
      .orderBy(col("lang"))
  }

  val encodingQcSql: String =
    """WITH mutated AS (
      |  SELECT doc_id, lang,
      |    text || CASE WHEN doc_id % 13 = 0 THEN chr(7) ELSE '' END
      |         || CASE WHEN doc_id % 26 = 0 THEN chr(65533) ELSE '' END AS t2
      |  FROM documents),
      |feat AS (
      |  SELECT lang,
      |    CAST(len(t2) - len(regexp_replace(t2, '[\x00-\x08\x0B\x0C\x0E-\x1F]', '', 'g')) AS BIGINT) AS n_control,
      |    CAST(len(t2) - len(replace(t2, chr(65533), '')) AS BIGINT) AS n_repl
      |  FROM mutated)
      |SELECT lang,
      |  CAST(COUNT(*) AS BIGINT) AS n_docs,
      |  CAST(SUM(CASE WHEN n_control > 0 OR n_repl > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_flagged,
      |  CAST(SUM(n_control) AS BIGINT) AS total_control_chars,
      |  CAST(SUM(n_repl) AS BIGINT) AS total_replacement_chars,
      |  CAST((COUNT(*) - SUM(CASE WHEN n_control > 0 OR n_repl > 0 THEN 1 ELSE 0 END))
      |       * 1000000 // COUNT(*) AS BIGINT) AS clean_share_micro
      |FROM feat GROUP BY lang ORDER BY lang""".stripMargin

  /** Q173 — N-GRAM NOVELTY curve (the occurrence-level memorization-
    * pressure metric of the dedup literature — Lee et al. 2022 measure
    * exactly this before/after dedup): cut the corpus into 10 doc-id
    * deciles; for each decile, how many of its word-trigram OCCURRENCES
    * repeat a gram first minted in an EARLIER decile. The complement of
    * q167's type-growth curve: q167 counts what's new, this counts how
    * hard the past is being replayed — the share a model would see
    * twice across the training order. Also emits each decile's newly-
    * minted trigram types.
    *
    * Scale: the canonical novelty pass — one exchange on the gram for
    * min-bucket, one gram-keyed join back to occurrences (both the
    * shape of an inverted-index build), then a 10-cell census. The
    * gram table is the corpus's trigram vocabulary: at 100 TB both
    * exchanges bucket cleanly on the gram hash; nothing is broadcast,
    * nothing funnels. */
  def ngramNovelty(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val maxId = docs.agg(max(col("doc_id")).as("__mx"))
    val occ = docs
      .withColumn("__w", split(col("text"), " "))
      .filter(size(col("__w")) >= 3)
      .select(col("doc_id"), explode(expr(
        "transform(sequence(0, size(__w) - 3), " +
          "i -> concat(__w[i], ' ', __w[i+1], ' ', __w[i+2]))")).as("gram"))
      .crossJoin(broadcast(maxId))
      .withColumn("bucket", expr("CAST(doc_id * 10 DIV (__mx + 1) AS BIGINT)"))
      .select(col("gram"), col("bucket"))
    val firstB = occ.groupBy(col("gram")).agg(min(col("bucket")).as("first_bucket"))
    val censusOcc = occ.join(firstB, Seq("gram"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_grams"),
        sum(when(col("bucket") > col("first_bucket"), 1L).otherwise(0L))
          .as("n_repeat_past"))
    val censusTypes = firstB.groupBy(col("first_bucket").as("bucket"))
      .agg(count(lit(1)).as("new_types"))
    censusOcc.join(censusTypes, Seq("bucket"), "left")
      .select(col("bucket"), col("n_grams"), col("n_repeat_past"),
        expr("CAST(n_repeat_past * 1000000 DIV n_grams AS BIGINT)")
          .as("repeat_share_micro"),
        coalesce(col("new_types"), lit(0L)).as("new_types"))
      .orderBy(col("bucket"))
  }

  val ngramNoveltySql: String =
    """WITH mx AS (SELECT MAX(doc_id) AS mxid FROM documents),
      |occ AS (
      |  SELECT doc_id,
      |    UNNEST([words[i] || ' ' || words[i+1] || ' ' || words[i+2]
      |            FOR i IN range(1, len(words) - 1)]) AS gram
      |  FROM (SELECT doc_id, string_split(text, ' ') AS words FROM documents)),
      |ob AS (SELECT gram, CAST(doc_id * 10 // (mxid + 1) AS BIGINT) AS bucket
      |       FROM occ, mx),
      |fb AS (SELECT gram, MIN(bucket) AS first_bucket FROM ob GROUP BY gram),
      |co AS (SELECT bucket, COUNT(*) AS n_grams,
      |         SUM(CASE WHEN bucket > first_bucket THEN 1 ELSE 0 END) AS n_repeat_past
      |       FROM ob JOIN fb USING (gram) GROUP BY bucket),
      |ct AS (SELECT first_bucket AS bucket, COUNT(*) AS new_types FROM fb GROUP BY 1)
      |SELECT co.bucket,
      |  CAST(co.n_grams AS BIGINT) AS n_grams,
      |  CAST(co.n_repeat_past AS BIGINT) AS n_repeat_past,
      |  CAST(co.n_repeat_past * 1000000 // co.n_grams AS BIGINT) AS repeat_share_micro,
      |  CAST(COALESCE(ct.new_types, 0) AS BIGINT) AS new_types
      |FROM co LEFT JOIN ct USING (bucket) ORDER BY co.bucket""".stripMargin

  /** Q181 — curation YIELD CURVE: what a quality threshold would keep.
    * Every curation run picks a cut-off; this is the artifact that
    * decides it — documents bucketed by the q17 quality score into ten
    * 0.1-wide bands, and for each band the census of what survives a
    * "keep ≥ this band" gate: cumulative docs, cumulative tokens, and
    * the mean quality of the survivors (all integer-exact). Reading the
    * curve top-down is exactly the threshold-selection loop (FineWeb/
    * DCLM-style ablations start here: how many tokens does each half-
    * point of quality cost?).
    *
    * Scale: one map-only scoring pass (the codegen'd q17 kernel), a
    * 10-key hash aggregate, and a window over the ≤10-row census — the
    * unpartitioned window sits ABOVE the aggregation (the OrderStats
    * discipline), never over the corpus. */
  def qualityYield(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val census = Tables.documents(spark, dir)
      .select(
        round(qualityScoreRaw(col("text")) * 1000000, 0).cast("long").as("qm"),
        size(split(col("text"), " ")).cast("long").as("n_tokens"))
      .withColumn("bucket", expr("least(qm div 100000, 9L)"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("n_tokens"),
        sum(col("qm")).as("__qs"))
    val w = Window.orderBy(col("bucket").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    census
      .withColumn("cum_docs", sum(col("n_docs")).over(w))
      .withColumn("cum_tokens", sum(col("n_tokens")).over(w))
      .withColumn("__cum_qs", sum(col("__qs")).over(w))
      .withColumn("survivor_mean_qm", expr("__cum_qs div cum_docs")) // integer div, engine-exact
      .select(col("bucket"), col("n_docs"), col("n_tokens"),
        col("cum_docs"), col("cum_tokens"), col("survivor_mean_qm"))
      .orderBy(col("bucket"))
  }

  val qualityYieldSql: String =
    """WITH scored AS (
      |  SELECT CAST(round((0.3 * least(1.0, n / 50)
      |      + 0.3 * (nd / n)
      |      + 0.2 * (1.0 - dig / n)
      |      + 0.2 * least(1.0, ((length(text) - (n - 1)) / n) / 8)) * 1000000, 0) AS BIGINT) AS qm,
      |    CAST(n AS BIGINT) AS n_tokens
      |  FROM (
      |    SELECT text,
      |      CAST(len(string_split(text, ' ')) AS DOUBLE) AS n,
      |      CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE) AS nd,
      |      CAST(len(list_filter(string_split(text, ' '), t -> regexp_matches(t, '^[0-9]+$'))) AS DOUBLE) AS dig
      |    FROM documents)),
      |census AS (
      |  SELECT least(qm // 100000, 9) AS bucket,
      |    CAST(COUNT(*) AS BIGINT) AS n_docs,
      |    CAST(SUM(n_tokens) AS BIGINT) AS n_tokens,
      |    CAST(SUM(qm) AS BIGINT) AS qs
      |  FROM scored GROUP BY 1)
      |SELECT bucket, n_docs, n_tokens,
      |  CAST(SUM(n_docs) OVER w AS BIGINT) AS cum_docs,
      |  CAST(SUM(n_tokens) OVER w AS BIGINT) AS cum_tokens,
      |  CAST(SUM(qs) OVER w // SUM(n_docs) OVER w AS BIGINT) AS survivor_mean_qm
      |FROM census
      |WINDOW w AS (ORDER BY bucket DESC ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      |ORDER BY bucket""".stripMargin

  /** Q191 — ZIPF-fit naturalness check: natural language follows
    * freq ∝ rank^(−s) with s ≈ 1; template farms, log spew, and
    * machine-generated filler deviate hard — so the fitted slope per
    * source is a cheap generated-text / corpus-pathology detector
    * (used as a QC signal since Zipf 1949; modern synthetic-text
    * audits still start here). Engine-reproducible throughout: the
    * log-log points are FLOOR-log₂ buckets (binary digit count — the
    * q58 convention; an FP log2 could round differently at powers of
    * two), the OLS moments accumulate in exact decimal (the q65
    * convention), and only the closed-form slope runs in double.
    * hapax_micro (share of once-seen types) rides along — the other
    * classic naturalness number.
    *
    * Scale: one token exchange into the per-source frequency table, a
    * SOURCE-partitioned rank window (vocab-bounded per partition),
    * and a bounded per-source aggregate. */
  def zipfFit(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val freqs = Tables.documents(spark, dir)
      .select(col("source"), explode(split(col("text"), " ")).as("token"))
      .groupBy(col("source"), col("token"))
      .agg(count(lit(1)).as("f"))
    val ranked = freqs.withColumn("r", row_number().over(
      Window.partitionBy(col("source"))
        .orderBy(col("f").desc, col("token").asc)).cast("long"))
    val pts = ranked.select(col("source"), col("f"),
      (length(bin(col("r"))) - 1).cast("decimal(19,0)").as("x"),
      (length(bin(col("f"))) - 1).cast("decimal(19,0)").as("y"))
    pts.groupBy(col("source"))
      .agg(count(lit(1)).as("n_types"),
        sum(when(col("f") === 1, 1L).otherwise(0L)).as("__hapax"),
        sum(col("x")).as("sx"), sum(col("y")).as("sy"),
        sum(col("x") * col("y")).as("sxy"), sum(col("x") * col("x")).as("sxx"))
      .select(col("source"), col("n_types"),
        expr("__hapax * 1000000 div n_types").as("hapax_micro"),
        round((col("n_types").cast("double") * col("sxy").cast("double")
            - col("sx").cast("double") * col("sy").cast("double"))
          / (col("n_types").cast("double") * col("sxx").cast("double")
            - col("sx").cast("double") * col("sx").cast("double")), 6)
          .as("zipf_slope"))
      .orderBy(col("source"))
  }

  val zipfFitSql: String =
    """WITH freqs AS (
      |  SELECT source, token, CAST(COUNT(*) AS BIGINT) AS f
      |  FROM (SELECT source, unnest(string_split(text, ' ')) AS token FROM documents)
      |  GROUP BY source, token),
      |ranked AS (
      |  SELECT source, f,
      |    row_number() OVER (PARTITION BY source ORDER BY f DESC, token ASC) AS r
      |  FROM freqs),
      |pts AS (
      |  SELECT source, f,
      |    CAST(length(bin(r)) - 1 AS DECIMAL(19,0)) AS x,
      |    CAST(length(bin(f)) - 1 AS DECIMAL(19,0)) AS y
      |  FROM ranked),
      |m AS (
      |  SELECT source, COUNT(*) AS n,
      |    SUM(CASE WHEN f = 1 THEN 1 ELSE 0 END) AS hapax,
      |    SUM(x) AS sx, SUM(y) AS sy, SUM(x * y) AS sxy, SUM(x * x) AS sxx
      |  FROM pts GROUP BY source)
      |SELECT source, CAST(n AS BIGINT) AS n_types,
      |  CAST(hapax * 1000000 // n AS BIGINT) AS hapax_micro,
      |  round((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
      |    / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)), 6)
      |    AS zipf_slope
      |FROM m ORDER BY source""".stripMargin

  /** Q218 — VOCABULARY CONCENTRATION per source (Simpson/Herfindahl
    * index): λ = Σ c_t² / N², the probability two random tokens are the
    * same type — the diversity signal complementary to q191's Zipf slope
    * (a template farm repeats a few types → λ spikes; natural prose stays
    * low) and the standard repeated-content screen a mixture planner
    * runs per source before weighting it. The inverse 1/λ is the
    * "effective vocabulary" in types. All integer-exact: Σ c² and N²
    * accumulate in DECIMAL(38,0) (Σ c² ≤ N² ≈ 10²⁶ at a 100 TB source —
    * BIGINT wraps at 9.2·10¹⁸, the oracle uses HUGEINT), λ is reported
    * in micro units by integer division, eff_types = N² div Σ c².
    *
    * Scale: ONE token exchange into the (source, token) frequency table
    * (Heaps-bounded), then a per-source hash aggregate over it — the
    * q191 shape minus the rank window. */
  def sourceConcentration(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("source"), explode(split(col("text"), " ")).as("token"))
      .groupBy(col("source"), col("token"))
      .agg(count(lit(1)).as("f"))
      .groupBy(col("source"))
      .agg(sum(col("f")).as("n_tokens"),
        count(lit(1)).as("n_types"),
        sum(expr("cast(f as decimal(38,0)) * f")).as("__ss"))
      .select(col("source"), col("n_tokens"), col("n_types"),
        expr("cast((__ss * 1000000) div (cast(n_tokens as decimal(38,0)) * n_tokens) as bigint)")
          .as("simpson_micro"),
        expr("cast((cast(n_tokens as decimal(38,0)) * n_tokens) div __ss as bigint)")
          .as("eff_types"))
      .orderBy(col("source"))

  val sourceConcentrationSql: String =
    """WITH freqs AS (
      |  SELECT source, token, CAST(COUNT(*) AS BIGINT) AS f
      |  FROM (SELECT source, unnest(string_split(text, ' ')) AS token FROM documents)
      |  GROUP BY source, token),
      |m AS (
      |  SELECT source, CAST(SUM(f) AS BIGINT) AS n_tokens,
      |    CAST(COUNT(*) AS BIGINT) AS n_types,
      |    SUM(CAST(f AS HUGEINT) * f) AS ss
      |  FROM freqs GROUP BY source)
      |SELECT source, n_tokens, n_types,
      |  CAST((ss * 1000000) // (CAST(n_tokens AS HUGEINT) * n_tokens) AS BIGINT)
      |    AS simpson_micro,
      |  CAST((CAST(n_tokens AS HUGEINT) * n_tokens) // ss AS BIGINT) AS eff_types
      |FROM m ORDER BY source""".stripMargin

  /** Q223 — EXCESS-LOSS (learnability) DATA SELECTION, the document-level
    * core of RHO-1 (Lin et al. 2024, "Rho-1: Not All Tokens Are What You
    * Need"): rank training documents by L_current(x) − L_reference(x) —
    * what the model in hand still finds hard but a model trained on
    * curated data finds easy is exactly the data worth training on next;
    * what both find easy is learned, what both find hard is noise. The
    * deterministic engine form: the CURRENT model is the whole-corpus
    * bigram LM (the model the raw data would induce — q58's table over
    * all documents), the REFERENCE is q93's trusted-slice LM (served
    * from the build-once [[CurationArtifacts.lmRawBuckets]]); both score
    * every document by the exact floor-log₂ surprisal of
    * [[graft.ops.TrainingPrep.lmSurprisalPerDoc]], and the top-50 by
    * signed excess (micro-bits, fully tie-broken) is the selection
    * manifest. The oracle replays BOTH count tables, every per-bigram
    * bit score, both fixed-point averages, and the tie-broken cut.
    *
    * Scale: the reference leg is an artifact FileScan; the current-model
    * leg is one bigram-keyed exchange against the corpus count table
    * (the q58/q93 shape — count tables are bigram-vocabulary-sized,
    * never corpus-sized); the cut is TakeOrdered. At 100 TB the exact
    * table can be swapped for q94's hashed-feature DSIR buckets if the
    * vocabulary itself outgrows a shuffle — same selection contract. */
  def rhoSelection(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val ref = CurationArtifacts.lmRawBuckets(spark, dir)
      .select(col("doc_id"), col("n_bigrams"), col("avg_micro").as("ref_micro"))
    val self = graft.ops.TrainingPrep.lmSurprisalPerDoc(docs, docs, "doc_id", "text")
      .select(col("doc_id"), col("avg_micro").as("self_micro"))
    ref.join(self, Seq("doc_id"))
      .withColumn("rho_micro", (col("self_micro") - col("ref_micro")).cast("long"))
      .select(col("doc_id"), col("n_bigrams"), col("ref_micro"),
        col("self_micro"), col("rho_micro"))
      .orderBy(col("rho_micro").desc, col("doc_id").asc)
      .limit(50)
  }

  val rhoSelectionSql: String =
    """WITH base AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
      |refuni AS (
      |  SELECT w1, COUNT(*) AS c1
      |  FROM (SELECT unnest(ws) AS w1 FROM base WHERE doc_id % 3 = 0) GROUP BY 1),
      |refbg AS (
      |  SELECT bg, COUNT(*) AS c12 FROM (
      |    SELECT unnest(list_transform(range(1, len(ws)), i -> ws[i] || ' ' || ws[i+1])) AS bg
      |    FROM base WHERE doc_id % 3 = 0 AND len(ws) >= 2) GROUP BY 1),
      |selfuni AS (
      |  SELECT w1, COUNT(*) AS c1s
      |  FROM (SELECT unnest(ws) AS w1 FROM base) GROUP BY 1),
      |selfbg AS (
      |  SELECT bg, COUNT(*) AS c12s FROM (
      |    SELECT unnest(list_transform(range(1, len(ws)), i -> ws[i] || ' ' || ws[i+1])) AS bg
      |    FROM base WHERE len(ws) >= 2) GROUP BY 1),
      |allbg AS (
      |  SELECT doc_id, t.w1, t.w1 || ' ' || t.w2 AS bg FROM (
      |    SELECT doc_id, unnest(list_transform(range(1, len(ws)),
      |      i -> {'w1': ws[i], 'w2': ws[i+1]})) AS t
      |    FROM base WHERE len(ws) >= 2)),
      |scored AS (
      |  SELECT a.doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
      |    CAST(SUM(CASE WHEN r.c12 IS NULL THEN 20
      |             ELSE length(bin(ru.c1)) - length(bin(r.c12)) END) AS BIGINT) AS bits_ref,
      |    CAST(SUM(CASE WHEN s.c12s IS NULL THEN 20
      |             ELSE length(bin(su.c1s)) - length(bin(s.c12s)) END) AS BIGINT) AS bits_self
      |  FROM allbg a
      |  LEFT JOIN refbg r USING (bg) LEFT JOIN refuni ru USING (w1)
      |  LEFT JOIN selfbg s USING (bg) LEFT JOIN selfuni su USING (w1)
      |  GROUP BY a.doc_id)
      |SELECT doc_id, n_bigrams,
      |  CAST(bits_ref * 1000000 // n_bigrams AS BIGINT) AS ref_micro,
      |  CAST(bits_self * 1000000 // n_bigrams AS BIGINT) AS self_micro,
      |  CAST(bits_self * 1000000 // n_bigrams
      |    - bits_ref * 1000000 // n_bigrams AS BIGINT) AS rho_micro
      |FROM scored
      |ORDER BY rho_micro DESC, doc_id ASC LIMIT 50""".stripMargin

  /** Q225 — the SERVED selection manifest: q223's rows read back from
    * the build-once artifact ([[CurationArtifacts.rhoManifest]] — the
    * exact frame `GET /selection` pages, the way `GET /attributes`
    * serves the decision log). Gating the ARTIFACT against the same
    * oracle as the live computation pins the serving surface itself: a
    * stale or drifted manifest can never serve silently. Plan: one
    * 50-row FileScan + TakeOrdered — nothing re-scores. */
  def selectionManifest(spark: SparkSession, dir: String): DataFrame =
    CurationArtifacts.rhoManifest(spark, dir)

  /** Q195 — LOSS-TILTED DOMAIN REWEIGHTING (the deterministic core of
    * DoReMi, Xie et al. 2023: shift training mass toward domains the
    * reference model finds HARD, away from domains it has already fit):
    * per source-domain, token mass and the bigram-LM surprisal of q93's
    * audited reference model (bits-per-bigram over the domain's pooled
    * bigrams — exact integer counts, milli-scaled), then one
    * multiplicative-weights step  w_d ∝ tokens_d · loss_d  normalized to
    * micro shares. The output is the mixture table a loader consumes:
    * natural share, loss, reweighted share, and the signed delta. The
    * exponentiated-gradient exp(η·loss) of the paper is replaced by the
    * linear tilt so every weight is exact integer arithmetic (exp is not
    * correctly-rounded cross-engine); the ORDERING of domain boosts is
    * identical for any monotone tilt.
    *
    * Scale: q93's chain (bounded reference model, one bigram join), a
    * per-source hash aggregate (bounded by |sources|), one broadcast
    * total. tilt = tokens · loss_milli ≤ 1e13 · 2e4 < 2⁶³ per domain at
    * 100 TB; the ×1e6 share step runs in DECIMAL(38)/HUGEINT (the q99
    * convention) so the normalization cannot overflow either. */
  def domainReweight(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    // the buckets artifact embeds lmSurprisalPerDoc's per-doc sums —
    // the threshold pass it additionally paid is already amortized
    val loss = CurationArtifacts.lmRawBuckets(spark, dir)
      .select(col("doc_id"), col("n_bigrams"), col("bits_total"))
    val perSource = docs
      .select(col("doc_id"), col("source"),
        size(split(col("text"), " ")).cast("long").as("nt"))
      .join(loss, Seq("doc_id"))
      .groupBy(col("source"))
      .agg(sum(col("nt")).as("n_tokens"),
        sum(col("n_bigrams")).as("__nbg"), sum(col("bits_total")).as("__bits"))
      .withColumn("loss_milli", expr("CAST(__bits * 1000 DIV __nbg AS BIGINT)"))
      .withColumn("tilt", expr(
        "CAST(n_tokens AS DECIMAL(38,0)) * CAST(loss_milli AS DECIMAL(38,0))"))
      .localCheckpoint(true) // consumers: share normalization + total
    val tot = perSource.agg(
      sum(col("n_tokens")).as("__tt"), sum(col("tilt")).as("__tw"))
    perSource.crossJoin(broadcast(tot))
      .select(col("source"), col("n_tokens"),
        expr("CAST(n_tokens * 1000000 DIV __tt AS BIGINT)").as("base_share_micro"),
        col("loss_milli"),
        expr("CAST((tilt * 1000000) DIV __tw AS BIGINT)").as("reweight_share_micro"))
      .withColumn("delta_micro",
        (col("reweight_share_micro") - col("base_share_micro")).cast("long"))
      .orderBy(col("source"))
  }

  val domainReweightSql: String =
    s"""WITH $lmQualityCtes,
       |withsrc AS (
       |  SELECT d.source, CAST(len(string_split(d.text, ' ')) AS BIGINT) AS nt,
       |    p.n_bigrams, p.bits_total
       |  FROM documents d JOIN perdoc p ON d.doc_id = p.doc_id),
       |per_source AS (
       |  SELECT source, SUM(nt) AS n_tokens,
       |    CAST(SUM(bits_total) * 1000 // SUM(n_bigrams) AS BIGINT) AS loss_milli
       |  FROM withsrc GROUP BY source),
       |tilted AS (
       |  SELECT source, n_tokens, loss_milli,
       |    CAST(n_tokens AS HUGEINT) * CAST(loss_milli AS HUGEINT) AS tilt
       |  FROM per_source),
       |gtot AS (SELECT SUM(n_tokens) AS tt, SUM(tilt) AS tw FROM tilted)
       |SELECT source, CAST(n_tokens AS BIGINT) AS n_tokens,
       |  CAST(n_tokens * 1000000 // tt AS BIGINT) AS base_share_micro,
       |  loss_milli,
       |  CAST((tilt * 1000000) // tw AS BIGINT) AS reweight_share_micro,
       |  CAST(CAST((tilt * 1000000) // tw AS BIGINT)
       |    - CAST(n_tokens * 1000000 // tt AS BIGINT) AS BIGINT) AS delta_micro
       |FROM tilted, gtot ORDER BY source""".stripMargin

  /** Q198 — FILTER-CASCADE ORDERING optimizer (the pipeline-economics
    * counterpart of q170's agreement census): a curation cascade
    * short-circuits on the first failing gate, so gate ORDER sets the
    * compute bill — run cheap high-rejection gates first (the classic
    * selection-ordering result: sort by rejection-rate per unit cost).
    * Three production gates with unit costs — length ≥ 45 tokens
    * (cost 1, a row-local size), langid-consistency (cost 4, stopword
    * profiles), heuristic quality ≥ 0.7 (cost 9, the full composite) —
    * and all 6 orderings priced exactly: a doc pays each gate's cost
    * until its first failure. Output ranks the orderings by total cost;
    * the gap between rank 1 and rank 6 is what the ordering decision is
    * worth at 100 TB.
    *
    * Scale: ONE corpus scan computes the 2³ gate-outcome census (all
    * three gates are row-local kernels); the 6-ordering pricing is
    * arithmetic over ≤ 8 × 6 bounded rows. The scan itself never
    * repeats per ordering. */
  def filterOrdering(spark: SparkSession, dir: String): DataFrame = {
    val gates = Tables.documents(spark, dir)
      .select(
        (size(split(col("text"), " ")) >= 45).as("g_len"),
        (langId(col("text")) === col("lang")).as("g_lang"),
        (round(qualityScoreRaw(col("text")) * 1000000, 0).cast("long")
          >= 700000L).as("g_quality"))
    val cells = gates.groupBy(col("g_len"), col("g_lang"), col("g_quality"))
      .agg(count(lit(1)).as("n_docs"))
      .localCheckpoint(true) // consumers: 6 ordering prices + total
    val orderings = Seq(
      ("len>lang>quality", "len", "lang", "quality"),
      ("len>quality>lang", "len", "quality", "lang"),
      ("lang>len>quality", "lang", "len", "quality"),
      ("lang>quality>len", "lang", "quality", "len"),
      ("quality>len>lang", "quality", "len", "lang"),
      ("quality>lang>len", "quality", "lang", "len"))
    import spark.implicits._
    val ordDf = orderings.toDF("ordering", "f1", "f2", "f3")
    def gateCost(f: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
      when(f === "len", 1L).when(f === "lang", 4L).otherwise(9L)
    def gatePass(f: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
      when(f === "len", col("g_len")).when(f === "lang", col("g_lang"))
        .otherwise(col("g_quality"))
    val priced = cells.crossJoin(broadcast(ordDf))
      .withColumn("__cost_per_doc",
        gateCost(col("f1"))
          + when(gatePass(col("f1")),
              gateCost(col("f2"))
                + when(gatePass(col("f2")), gateCost(col("f3"))).otherwise(0L))
            .otherwise(0L))
      .groupBy(col("ordering"))
      .agg(sum(col("n_docs") * col("__cost_per_doc")).as("total_cost"),
        sum(col("n_docs")).as("__n"))
    priced
      .withColumn("cost_per_doc_micro",
        expr("CAST(total_cost * 1000000 DIV __n AS BIGINT)"))
      .withColumn("rank", row_number().over(
        org.apache.spark.sql.expressions.Window
          .orderBy(col("total_cost").asc, col("ordering").asc)).cast("long"))
      .select(col("rank"), col("ordering"), col("total_cost"),
        col("cost_per_doc_micro"))
      .orderBy(col("rank"))
  }

  val filterOrderingSql: String = {
    val (hEn, hDe, hEs, hFr) = (hitsSql("en"), hitsSql("de"), hitsSql("es"), hitsSql("fr"))
    s"""WITH feats AS (
       |  SELECT doc_id, lang, text,
       |    CAST(len(string_split(text, ' ')) AS DOUBLE) AS n,
       |    CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE) AS nd,
       |    CAST(len(list_filter(string_split(text, ' '), t -> regexp_matches(t, '^[0-9]+$$'))) AS DOUBLE) AS dig,
       |    $hEn AS h_en, $hDe AS h_de, $hEs AS h_es, $hFr AS h_fr
       |  FROM documents),
       |gates AS (
       |  SELECT (n >= 45) AS g_len,
       |    (CASE WHEN h_en = 0 AND h_de = 0 AND h_es = 0 AND h_fr = 0 THEN 'und'
       |          WHEN h_en >= h_de AND h_en >= h_es AND h_en >= h_fr THEN 'en'
       |          WHEN h_de >= h_es AND h_de >= h_fr THEN 'de'
       |          WHEN h_es >= h_fr THEN 'es'
       |          ELSE 'fr' END = lang) AS g_lang,
       |    (CAST(round((0.3 * least(1.0, n / 50) + 0.3 * (nd / n)
       |      + 0.2 * (1.0 - dig / n)
       |      + 0.2 * least(1.0, ((length(text) - (n - 1)) / n) / 8)) * 1000000, 0) AS BIGINT)
       |      >= 700000) AS g_quality
       |  FROM feats),
       |cells AS (
       |  SELECT g_len, g_lang, g_quality, CAST(COUNT(*) AS BIGINT) AS n_docs
       |  FROM gates GROUP BY 1, 2, 3),
       |ords(ordering, f1, f2, f3) AS (VALUES
       |  ('len>lang>quality', 'len', 'lang', 'quality'),
       |  ('len>quality>lang', 'len', 'quality', 'lang'),
       |  ('lang>len>quality', 'lang', 'len', 'quality'),
       |  ('lang>quality>len', 'lang', 'quality', 'len'),
       |  ('quality>len>lang', 'quality', 'len', 'lang'),
       |  ('quality>lang>len', 'quality', 'lang', 'len')),
       |priced AS (
       |  SELECT o.ordering,
       |    SUM(c.n_docs * (
       |      (CASE o.f1 WHEN 'len' THEN 1 WHEN 'lang' THEN 4 ELSE 9 END)
       |      + CASE WHEN (CASE o.f1 WHEN 'len' THEN c.g_len WHEN 'lang' THEN c.g_lang ELSE c.g_quality END)
       |        THEN (CASE o.f2 WHEN 'len' THEN 1 WHEN 'lang' THEN 4 ELSE 9 END)
       |          + CASE WHEN (CASE o.f2 WHEN 'len' THEN c.g_len WHEN 'lang' THEN c.g_lang ELSE c.g_quality END)
       |            THEN (CASE o.f3 WHEN 'len' THEN 1 WHEN 'lang' THEN 4 ELSE 9 END)
       |            ELSE 0 END
       |        ELSE 0 END)) AS total_cost,
       |    SUM(c.n_docs) AS n
       |  FROM cells c CROSS JOIN ords o GROUP BY o.ordering)
       |SELECT CAST(row_number() OVER (ORDER BY total_cost ASC, ordering ASC) AS BIGINT) AS rank,
       |  ordering, CAST(total_cost AS BIGINT) AS total_cost,
       |  CAST(total_cost * 1000000 // n AS BIGINT) AS cost_per_doc_micro
       |FROM priced ORDER BY rank""".stripMargin
  }

  /** Q199 — READABILITY / lexical-complexity census (Flesch 1948's
    * syllable rate + Björnsson 1968's LIX long-word share — the
    * curriculum signals a difficulty-ordered pretraining schedule sorts
    * by): per document, whitespace words, syllables by the standard
    * vowel-group heuristic (runs of [aeiou], minimum 1 per word — the
    * no-vowel correction is counted explicitly), LIX long words
    * (≥ 7 chars), and the per-doc LIX score; rolled up per language.
    * The corpus is punctuation-free so the sentence term degenerates to
    * one sentence per document (documented; the words-per-sentence term
    * then equals doc length) — the DISCRIMINATING terms here are the
    * syllable rate and long-word share, which vary per word.
    *
    * Scale: entirely map-side (two regex scans + two array filters per
    * row) into a bounded per-language aggregate — same posture as q171,
    * cheap enough to run as an early gate. */
  def readability(spark: SparkSession, dir: String): DataFrame = {
    val toks = split(col("text"), " ")
    val perDoc = Tables.documents(spark, dir)
      .select(col("lang"),
        size(toks).cast("long").as("n"),
        size(regexp_extract_all(col("text"), lit("[aeiou]+"), lit(0)))
          .cast("long").as("__vg"),
        size(filter(toks, t => !t.rlike("[aeiou]"))).cast("long").as("__nv"),
        size(filter(toks, t => length(t) >= 7)).cast("long").as("n_long"))
      .withColumn("syl", col("__vg") + col("__nv"))
      .withColumn("lix_milli",
        expr("CAST(n * 1000 + n_long * 100000 DIV n AS BIGINT)"))
    perDoc.groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n")).as("n_words"),
        expr("CAST(SUM(syl) * 1000000 DIV SUM(n) AS BIGINT)")
          .as("syl_per_word_micro"),
        expr("CAST(SUM(n_long) * 1000000 DIV SUM(n) AS BIGINT)")
          .as("long_share_micro"),
        expr("CAST(SUM(lix_milli) DIV COUNT(1) AS BIGINT)").as("avg_lix_milli"))
      .orderBy(col("lang"))
  }

  val readabilitySql: String =
    """WITH perdoc AS (
      |  SELECT lang,
      |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n,
      |    CAST(len(regexp_extract_all(text, '[aeiou]+')) AS BIGINT) AS vg,
      |    CAST(len(list_filter(string_split(text, ' '),
      |      t -> NOT regexp_matches(t, '[aeiou]'))) AS BIGINT) AS nv,
      |    CAST(len(list_filter(string_split(text, ' '),
      |      t -> length(t) >= 7)) AS BIGINT) AS n_long
      |  FROM documents),
      |scored AS (
      |  SELECT lang, n, vg + nv AS syl, n_long,
      |    CAST(n * 1000 + n_long * 100000 // n AS BIGINT) AS lix_milli
      |  FROM perdoc)
      |SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
      |  CAST(SUM(n) AS BIGINT) AS n_words,
      |  CAST(SUM(syl) * 1000000 // SUM(n) AS BIGINT) AS syl_per_word_micro,
      |  CAST(SUM(n_long) * 1000000 // SUM(n) AS BIGINT) AS long_share_micro,
      |  CAST(SUM(lix_milli) // COUNT(*) AS BIGINT) AS avg_lix_milli
      |FROM scored GROUP BY lang ORDER BY lang""".stripMargin

  /** Q201 — VOCABULARY-SIZE sweep (the tokenizer-sizing decision table:
    * corpus compression as a function of merge count — fertility falls
    * with every added merge but with diminishing returns, and the knee
    * of this curve is where a vocabulary budget should stop): the q82
    * trainer runs ONCE at 10 merges, then the corpus is encoded under
    * each PREFIX of the merge list (3, 6, 10 — valid because greedy BPE
    * training is prefix-stable: the first V merges of a larger train ARE
    * the V-merge vocabulary). Output per sweep point: corpus word and
    * subword totals and the fertility (subwords per kiloword). The
    * oracle re-trains the same 10 unrolled stages and applies each
    * prefix chain independently.
    *
    * Scale: the merge list is the one driver-side datum (≤ vocab size,
    * the q82 contract); each sweep point is an independent narrow scan →
    * chained replace → corpus-level aggregate (2 rows of state). |sweep|
    * scans of one string column — embarrassingly parallel, no shuffle
    * anywhere but the 1-row aggregates. */
  def vocabSweep(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val merges = bpeMergeList(spark, dir)
    Seq(3, 6, 10).map { v =>
      graft.ops.Bpe.encode(docs, "doc_id", "text", merges.take(v))
        .agg(sum(col("n_words")).as("n_words"),
          sum(col("n_subwords")).as("n_subwords"))
        .select(lit(v.toLong).as("n_merges"), col("n_words"), col("n_subwords"))
    }.reduce(_ unionByName _)
      .withColumn("subwords_per_kiloword", expr("n_subwords * 1000 DIV n_words"))
      .orderBy(col("n_merges"))
  }

  val vocabSweepSql: String = {
    def applied(v: Int): String =
      (1 to v).foldLeft("regexp_replace(word, '(.)', '<\\1>', 'g')") {
        (e, i) => s"replace($e, '<' || m$i.l || '><' || m$i.r || '>', '<' || m$i.l || m$i.r || '>')"
      }
    def point(v: Int): String =
      s"""SELECT CAST($v AS BIGINT) AS n_merges,
         |  CAST(COUNT(*) AS BIGINT) AS n_words,
         |  CAST(SUM(length(r) - length(replace(r, '<', ''))) AS BIGINT) AS n_subwords,
         |  CAST(SUM(length(r) - length(replace(r, '<', ''))) * 1000 // COUNT(*) AS BIGINT)
         |    AS subwords_per_kiloword
         |FROM (SELECT ${applied(v)} AS r
         |      FROM words, ${(1 to v).map(i => s"m$i").mkString(", ")})""".stripMargin
    s"""WITH ${bpeStagesSql(10)},
       |words AS (
       |  SELECT word
       |  FROM (SELECT unnest(string_split(text, ' ')) AS word FROM documents)
       |  WHERE regexp_matches(word, '^[a-z]+$$'))
       |${point(3)}
       |UNION ALL ${point(6)}
       |UNION ALL ${point(10)}
       |ORDER BY n_merges""".stripMargin
  }

  def defs: Seq[QueryDef] = Seq(
    QueryDef("q201_vocab_sweep", vocabSweep, Some(vocabSweepSql)),
    QueryDef("q195_domain_reweight", domainReweight, Some(domainReweightSql)),
    QueryDef("q223_rho_selection", rhoSelection, Some(rhoSelectionSql)),
    QueryDef("q225_selection_manifest", selectionManifest, Some(rhoSelectionSql)),
    QueryDef("q198_filter_ordering", filterOrdering, Some(filterOrderingSql)),
    QueryDef("q199_readability", readability, Some(readabilitySql)),
    QueryDef("q191_zipf_fit", zipfFit, Some(zipfFitSql)),
    QueryDef("q218_source_concentration", sourceConcentration,
      Some(sourceConcentrationSql)),
    QueryDef("q181_quality_yield", qualityYield, Some(qualityYieldSql)),
    QueryDef("q164_boilerplate", boilerplateRemoval, Some(boilerplateRemovalSql)),
    QueryDef("q170_filter_agreement", filterAgreement, Some(filterAgreementSql)),
    QueryDef("q171_encoding_qc", encodingQc, Some(encodingQcSql)),
    QueryDef("q173_ngram_novelty", ngramNovelty, Some(ngramNoveltySql)),
    QueryDef("q167_vocab_growth", vocabGrowth, Some(vocabGrowthSql)),
    QueryDef("q112_multipattern", multiPatternScan, Some(multiPatternScanSql)),
    QueryDef("q120_classifier_eval", classifierEval, Some(classifierEvalSql)),
    QueryDef("q143_snippets", snippets, Some(snippetsSql)),
    QueryDef("q84_langid_trained", langIdTrained, Some(langIdTrainedSql)),
    QueryDef("q103_nb_classifier", nbClassifier, Some(nbClassifierSql)),
    QueryDef("q155_classifier_calibration", classifierCalibration,
      Some(classifierCalibrationSql)),
    QueryDef("q106_collocations", collocationsQuery, Some(collocationsSql)),
    QueryDef("q107_normalize", normalizeQuery, Some(normalizeSql)),
    QueryDef("q93_lm_quality", lmQuality, Some(lmQualitySql)),
    QueryDef("q94_importance_select", importanceSelect, Some(importanceSelectSql)),
    QueryDef("q95_phrase_search", phraseSearch, Some(phraseSearchSql)),
    QueryDef("q101_token_drift", tokenDrift, Some(tokenDriftSql)),
    QueryDef("q86_keyphrases", keyphrases, Some(keyphrasesSql)),
    QueryDef("q16_lang_id", langIdQuery, Some(langIdSql)),
    QueryDef("q82_bpe_train", bpeTrain, Some(bpeTrainSql)),
    QueryDef("q83_bpe_encode", bpeEncode, Some(bpeEncodeSql)),
    QueryDef("q148_bpe_fertility", bpeFertility, Some(bpeFertilitySql)),
    QueryDef("q17_quality_score", qualityQuery, Some(qualitySql)),
    QueryDef("q18_token_counts", tokenCounts, Some(tokenCountsSql)),
    QueryDef("q19_fingerprint", fingerprintQuery, Some(fingerprintSql)),
    QueryDef("q39_repetition", repetitionQuery, Some(repetitionSql)),
    QueryDef("q45_bm25", bm25Query, Some(bm25Sql)),
    QueryDef("q214_retrieval_metrics", retrievalMetrics, Some(retrievalMetricsSql)),
    QueryDef("q58_bigram_lm", bigramLm, Some(bigramLmSql)))
}
