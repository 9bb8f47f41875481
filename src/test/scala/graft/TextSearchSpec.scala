package graft

import org.apache.spark.sql.functions._
import graft.ops.TextSearch

/** BM25 inverted-index retrieval (ops.TextSearch). */
class TextSearchSpec extends SparkSpec {

  private def corpus = {
    import spark.implicits._
    Seq(
      (1L, "spark spark spark fast table"),       // tf(spark)=3, short
      (2L, "spark table row value key line sort fast big small the a batch merge"), // tf(spark)=1, long
      (3L, "vector vector merge"),                // rare terms, very short
      (4L, "table row value key"),                // no query terms
      (5L, "spark vector")                        // two query terms
    ).toDF("doc_id", "text")
  }

  test("bm25 ranks term-dense short docs first and excludes non-matching docs") {
    val res = TextSearch.bm25TopK(corpus, "doc_id", "text",
      Seq("spark", "vector", "merge"), k = 10).collect()
    val ids = res.map(_.getLong(0))
    assert(!ids.contains(4L), "doc without query terms must not appear")
    assert(ids.length == 4)
    // independently recomputed fixed-point scores (same formula, Python):
    // doc3 3942377600000 > doc5 2868722444808 > doc2 1310261091348 >
    // doc1 1148825459530 — doc 3's two rare-term hits in a 3-token doc win;
    // doc 1's tf=3 of a common term in a short doc still loses to doc 2's
    // two-term hit
    assert(ids.sameElements(Array(3L, 5L, 2L, 1L)), s"got ${ids.toSeq}")
    val scores = res.map(_.getLong(1))
    assert(scores.sameElements(Array(3942377600000L, 2868722444808L,
      1310261091348L, 1148825459530L)), s"got ${scores.toSeq}")
  }

  test("bm25 tf saturation: more occurrences raise the score sublinearly") {
    import spark.implicits._
    val docs = Seq(
      (1L, "spark aaa bbb ccc ddd eee fff ggg"),
      (2L, "spark spark bbb ccc ddd eee fff ggg"),
      (3L, "spark spark spark spark ddd eee fff ggg")
    ).toDF("doc_id", "text")
    val res = TextSearch.bm25TopK(docs, "doc_id", "text", Seq("spark"), 10)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(res(1L) < res(2L) && res(2L) < res(3L), s"monotone in tf: $res")
    val d12 = res(2L) - res(1L)
    val d23 = res(3L) - res(2L)
    assert(d23 < 2 * d12, s"saturating gains expected: $res")
  }

  test("postings + termStats form a consistent inverted index") {
    val p = TextSearch.postings(corpus, "doc_id", "text").cache()
    val stats = TextSearch.termStats(p).collect()
      .map(r => (r.getString(0), (r.getLong(1), r.getLong(2)))).toMap
    assert(stats("spark") == ((3L, 5L)), s"spark df/total_tf: ${stats.get("spark")}")
    assert(stats("vector") == ((2L, 3L)))
    // postings tf matches a direct recount for one (term, doc)
    val tf = p.filter(col("term") === "spark" && col("doc_id") === 1L)
      .select(col("tf")).collect().head.getLong(0)
    assert(tf == 3L)
    p.unpersist()
  }

  test("tfidf keyphrases: integer scores, statistical stopword cut, tie-breaks") {
    import spark.implicits._
    val docs = Seq(
      (1L, "apple apple banana common"),
      (2L, "banana cherry common x"),
      (3L, "common common q"),
      (4L, "common z z z")).toDF("doc_id", "text")
    val res = TextSearch.tfidfKeyphrases(docs, "doc_id", "text", k = 3)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getString(2), r.getLong(3)))
    // N=4; 'common' has df=4 → 2·df > N → statistically a stopword, dropped
    assert(!res.exists(_._3 == "common"), s"'common' must be cut: ${res.toSeq}")
    // df=1 → idf_e6 = 7·10⁶ div 3 = 2333333; df=2 → 5·10⁶ div 5 = 1000000
    val d1 = res.filter(_._1 == 1L).sortBy(_._2)
    assert(d1.toSeq == Seq((1L, 1, "apple", 4666666L), (1L, 2, "banana", 1000000L)),
      s"doc 1: ${d1.toSeq}")
    // cherry and x tie at 2333333 → term-asc tie-break
    val d2 = res.filter(_._1 == 2L).sortBy(_._2)
    assert(d2.toSeq == Seq((2L, 1, "cherry", 2333333L), (2L, 2, "x", 2333333L),
      (2L, 3, "banana", 1000000L)), s"doc 2: ${d2.toSeq}")
    // tf multiplies the exact idf
    val d4 = res.filter(_._1 == 4L)
    assert(d4.toSeq == Seq((4L, 1, "z", 6999999L)), s"doc 4: ${d4.toSeq}")
  }

  test("tfidf keyphrases plan: one scan, two shuffles, map-side top-k limit") {
    val plan = TextSearch.tfidfKeyphrases(corpus, "doc_id", "text", k = 3)
      .queryExecution.executedPlan.toString
    // tf is computed row-locally: only the term-df window and the per-doc
    // rank window exchange, nothing else
    val shuffles = "Exchange hashpartitioning".r.findAllIn(plan).length
    assert(shuffles == 2, s"expected exactly 2 hash exchanges, got $shuffles in:\n$plan")
    assert(plan.contains("WindowGroupLimit"),
      s"expected map-side WindowGroupLimit pruning in:\n$plan")
    assert(!plan.contains("SortMergeJoin"), s"vocabulary must not be joined:\n$plan")
  }

  test("q45 plan: corpus is not exchanged — only tiny aggregates shuffle") {
    val plan = TextSearch.bm25TopK(corpus, "doc_id", "text",
      Seq("spark", "vector"), 5).queryExecution.executedPlan.toString
    // df and stats joins must arrive broadcast, not as sort-merge joins
    assert(plan.contains("BroadcastHashJoin") || plan.contains("BroadcastNestedLoopJoin"),
      s"expected broadcast joins in:\n$plan")
    assert(!plan.contains("SortMergeJoin"), s"no sort-merge join expected:\n$plan")
  }

  test("phrase search: exact consecutive matches, overlapping repeats, batch of mixed lengths") {
    import spark.implicits._
    val docs = Seq(
      (1L, "a b c a b"),     // "a b" at 0 and 3; "a b c" at 0
      (2L, "x x x"),         // "x x" OVERLAPS at 0 and 1
      (3L, "b a c b"),       // words present, phrase never consecutive
      (4L, "a")              // shorter than any phrase
    ).toDF("doc_id", "text")
    val out = graft.ops.TextSearch.phraseSearch(docs, "doc_id", "text",
      Map("ab" -> Seq("a", "b"), "abc" -> Seq("a", "b", "c"), "xx" -> Seq("x", "x")))
      .collect().map(r => (r.getString(0), r.getLong(1)) -> (r.getLong(2), r.getInt(3))).toMap
    assert(out === Map(
      ("ab", 1L) -> ((2L, 0)),   // two hits, first at 0
      ("abc", 1L) -> ((1L, 0)),
      ("xx", 2L) -> ((2L, 0))))  // overlapping starts 0 and 1 both count

    // plan: query side broadcasts; corpus never sort-merge-joined
    val plan = graft.ops.TextSearch.phraseSearch(docs, "doc_id", "text",
      Map("ab" -> Seq("a", "b"))).queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), s"query side not broadcast:\n$plan")
    assert(!plan.contains("SortMergeJoin"), s"no sort-merge join expected:\n$plan")
  }

  test("collocations: hand-computed chi-square, min-count cut") {
    import spark.implicits._
    // bigrams: (a,b)x5, (b,a)x4 -> N=9. For (a,b): O=(5,0,0,4), d=20,
    // chi2_e6 = 9*400*1e6 // (5*4*5*4) = 9_000_000. (b,a) dies at minCount.
    val docs = Seq((1L, "a b a b a b a b a b")).toDF("doc_id", "text")
    val out = TextSearch.collocations(docs, "doc_id", "text")
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3)))
    assert(out.toSeq === Seq(("a", "b", 5L, 9000000L)), out.mkString(", "))
  }

  test("collocations: a word owning a whole margin is cut, not divided by zero") {
    import spark.implicits._
    // every bigram is (a,a): cx = cy = N -> denominator would be 0
    val docs = Seq((1L, "a a a a a a")).toDF("doc_id", "text")
    assert(TextSearch.collocations(docs, "doc_id", "text").count() === 0L)
  }

  test("rrf fusion: both-list items beat single-list, absent ranks contribute 0, ties to id") {
    import spark.implicits._
    val lex = Seq((10L, 1L), (20L, 2L), (30L, 3L)).toDF("id", "lex_rank")
    val sem = Seq((20L, 1L), (40L, 2L)).toDF("id", "sem_rank")
    val out = TextSearch.rrfFuse(Seq(lex, sem), "id", Seq("lex_rank", "sem_rank"))
      .select("id", "rrf_e6").as[(Long, Long)].collect().toSeq
    // 20: 1e6/62 + 1e6/61 = 16129 + 16393 = 32522 (integer division)
    // 10: 1e6/61 = 16393; 40: 1e6/62 = 16129; 30: 1e6/63 = 15873
    assert(out == Seq((20L, 32522L), (10L, 16393L), (40L, 16129L), (30L, 15873L)))
    // identical fused scores must tie-break on the smaller id
    val a = Seq((5L, 1L)).toDF("id", "r1")
    val b = Seq((3L, 1L)).toDF("id", "r2")
    val tied = TextSearch.rrfFuse(Seq(a, b), "id", Seq("r1", "r2"))
      .select("id").as[Long].collect().toSeq
    assert(tied == Seq(3L, 5L))
  }

  test("retrieval metrics: weight constants pinned, metric invariants hold") {
    import graft.queries.TextQueries
    // the micro-scaled DCG weights are part of the oracle contract —
    // a platform math.log drift would silently change every nDCG
    assert(TextQueries.DcgWeights == Seq(
      1 -> 1000000L, 2 -> 630930L, 3 -> 500000L, 4 -> 430677L,
      5 -> 386853L, 6 -> 356207L, 7 -> 333333L, 8 -> 315465L,
      9 -> 301030L, 10 -> 289065L))
    val rows = TextQueries.retrievalMetrics(spark, sf()).collect()
    assert(rows.map(_.getAs[Long]("query_id")).toSeq ==
      TextQueries.RetrievalQueries.map(_._1))
    rows.foreach { r =>
      val (mrr, p10) = (r.getAs[Long]("mrr_micro"), r.getAs[Long]("precision_at_10"))
      val (dcg, idcg, ndcg) = (r.getAs[Long]("dcg_e6"), r.getAs[Long]("idcg_e6"),
        r.getAs[Long]("ndcg_micro"))
      assert(p10 >= 0 && p10 <= 10)
      assert(mrr == 0 || (mrr >= 100000 && mrr <= 1000000))
      assert(dcg >= 0 && dcg <= idcg, s"DCG must not exceed ideal: $r")
      assert(ndcg >= 0 && ndcg <= 1000000)
      // ndcg is exactly the micro integer division of its own parts
      if (idcg > 0) assert(ndcg == dcg * 1000000L / idcg)
    }
  }

  test("driver-side postings bucket ids equal the engine's pmod(xxhash64(term), 64)") {
    import spark.implicits._
    val vocab = graft.sources.Tables.documents(spark, sf("sf0.1"))
      .select(explode(split(col("text"), " "))).distinct().as[String].collect().toSeq
    assert(vocab.nonEmpty)
    val bag64 = (vocab ++ (1 to 64).map("zz" + _)).distinct.take(64)
    val terms = (vocab ++ bag64 ++
      Seq("", " ", "naïve", "straße", "日本語", "кириллица", "emoji🙂", "e\u0301")).distinct
    val engine = terms.toDF("t")
      .select(col("t"), pmod(xxhash64(col("t")), lit(TextSearch.PostingsBuckets)))
      .as[(String, Long)].collect().toMap
    terms.foreach(t => assert(TextSearch.bucketId(t, TextSearch.PostingsBuckets) == engine(t),
      s"bucket of '$t'"))
    // a full 64-term bag through the stored index still ranks exactly as
    // the corpus scan
    val docs = graft.sources.Tables.documents(spark, sf())
    val idx = graft.queries.ClusterArtifacts.postingsIndex(spark, sf())
    assert(bag64.size == 64)
    assert(TextSearch.bm25TopKIndexed(spark, idx, bag64, 20).collect().toSeq ==
      TextSearch.bm25TopK(docs, "doc_id", "text", bag64, 20).collect().toSeq)
  }
}
