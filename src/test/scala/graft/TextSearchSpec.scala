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

  test("writePostingsIndex forms a consistent inverted index") {
    val dir = java.nio.file.Files.createTempDirectory("graft_postings").toString
    TextSearch.writePostingsIndex(corpus, "doc_id", "text", dir)
    val p = spark.read.parquet(s"$dir/postings")
    // df is stored on every posting of the term, so a term has one value
    val stats = p.groupBy(col("term"))
      .agg(collect_set(col("df")).as("df"), sum(col("tf")).as("total_tf")).collect()
      .map(r => (r.getString(0), (r.getSeq[Long](1), r.getLong(2)))).toMap
    assert(stats("spark") == ((Seq(3L), 5L)), s"spark df/total_tf: ${stats.get("spark")}")
    assert(stats("vector") == ((Seq(2L), 3L)))
    // postings tf matches a direct recount for one (term, doc)
    val tf = p.filter(col("term") === "spark" && col("doc_id") === 1L)
      .select(col("tf")).collect().head.getLong(0)
    assert(tf == 3L)
    // each posting carries its term's first position and ±3-token window
    val at = p.filter(col("term") === "merge" && col("doc_id") === 2L)
      .select(col("first_pos"), col("ctx")).collect().head
    assert(at.getLong(0) == 14L && at.getString(1) == "the a batch merge", at)
  }

  test("a built index stores on every posting its term's df: the number of postings of the term") {
    val p = spark.read.parquet(
      s"${graft.queries.ClusterArtifacts.postingsIndex(spark, sf())}/postings")
    val counted = p.groupBy(col("term")).agg(count(lit(1)).as("n"))
    val joined = p.join(counted, Seq("term"), "left_outer")
    assert(joined.count() == p.count() && p.count() > 0)
    assert(joined.filter(col("df").isNull || col("df") =!= col("n")).count() == 0,
      "stored df differs from the term's posting count")
  }

  /** The sf0.001 corpus's seven term bags: the standard bag, one term,
    * two terms in one bucket, an absent term alone and with a present
    * one, a repeated term, and 64 terms. */
  private def termBags(): (Seq[String], Seq[(String, Seq[String])]) = {
    import spark.implicits._
    import graft.queries.TextQueries
    val vocab = graft.sources.Tables.documents(spark, sf())
      .select(explode(split(col("text"), " ")).as("t"))
      .groupBy(col("t")).agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("t").asc).as[(String, Long)].collect().map(_._1).toSeq
    // the fixture has fewer than 64 distinct words: the 64-term bag pads
    // with absent terms
    val bag64 = (vocab ++ (1 to 64).map("zz" + _)).take(64)
    assert(bag64.distinct.size == 64)
    val sameBucket = vocab.groupBy(TextSearch.bucketId(_, TextSearch.PostingsBuckets))
      .values.map(_.take(2)).find(_.size == 2).get
    val absent = "zz_not_in_corpus"
    (vocab, Seq(
      "standard bag" -> TextQueries.Bm25Terms,
      "one term" -> Seq(vocab.head),
      "two terms in one bucket" -> sameBucket,
      "an absent term" -> Seq(absent),
      "an absent and a present term" -> Seq(absent, vocab(1)),
      "a repeated term" -> Seq(vocab(2), vocab(3), vocab(2)),
      "64 terms" -> bag64))
  }

  test("stored-df handle, counted-df path overload and the corpus scan rank bit-identically") {
    import graft.queries.ClusterArtifacts
    val docs = graft.sources.Tables.documents(spark, sf())
    val idx = ClusterArtifacts.postingsIndex(spark, sf())
    val postings = spark.read.parquet(s"$idx/postings")
    val (nDocs, sdl) = TextSearch.indexTotals(spark.read.parquet(s"$idx/stats"))
    val (vocab, bags) = termBags()
    // a streamed tree's layout: the same postings without the stored df
    val noDf = java.nio.file.Files.createTempDirectory("graft_postings_nodf").toString
    postings.drop("df").write.partitionBy("bucket").parquet(s"$noDf/postings")
    spark.read.parquet(s"$idx/stats").write.parquet(s"$noDf/stats")
    bags.foreach { case (name, terms) =>
      val handle = TextSearch.bm25TopKIndexed(postings, nDocs, sdl, terms, 100,
        TextSearch.PostingsBuckets).collect().toSeq
      val path = TextSearch.bm25TopKIndexed(spark, idx, terms, 100).collect().toSeq
      val counted = TextSearch.bm25TopKIndexed(spark, noDf, terms, 100).collect().toSeq
      val scan = TextSearch.bm25TopK(docs, "doc_id", "text", terms, 100).collect().toSeq
      assert(handle == scan, s"$name: handle vs corpus scan")
      assert(path == scan, s"$name: path overload (stored df) vs corpus scan")
      assert(counted == scan, s"$name: path overload (counted df) vs corpus scan")
      assert(scan.nonEmpty == terms.exists(vocab.contains), s"$name: ${scan.size} rows")
    }
  }

  test("the path overload reads a built index's stored df: one postings scan, no per-term count") {
    val idx = graft.queries.ClusterArtifacts.postingsIndex(spark, sf())
    val q = TextSearch.bm25TopKIndexed(spark, idx, graft.queries.TextQueries.Bm25Terms, 20)
    q.collect()
    val plan = q.queryExecution.executedPlan.toString.split("== Initial Plan ==").head
    val scans = plan.split("\n").count(l => l.contains("FileScan") && l.contains("struct<term:"))
    assert(scans == 1, s"expected one postings scan:\n$plan")
  }

  /** The handle's snippet page and attachSnippets over `docs` of the
    * handle's ranked page, as collected rows. */
  private def snippetPages(docs: org.apache.spark.sql.DataFrame,
      postings: org.apache.spark.sql.DataFrame, nDocs: Long, sdl: Long,
      terms: Seq[String]): (Seq[org.apache.spark.sql.Row], Seq[org.apache.spark.sql.Row]) = {
    val order = Seq(col("score_e12").desc, col("doc_id").asc)
    val got = TextSearch.bm25TopKSnippets(postings, nDocs, sdl, terms, 100,
      TextSearch.PostingsBuckets).orderBy(order: _*)
    val want = graft.queries.TextQueries.attachSnippets(docs,
        TextSearch.bm25TopKIndexed(postings, nDocs, sdl, terms, 100, TextSearch.PostingsBuckets),
        terms)
      .select(col("doc_id"), col("score_e12"), col("n_terms_hit"), col("hit_pos"),
        col("snippet"))
      .orderBy(order: _*)
    (got.collect().toSeq, want.collect().toSeq)
  }

  test("snippets from the postings equal attachSnippets over documents, bit for bit: the seven term bags") {
    val idx = graft.queries.ClusterArtifacts.postingsIndex(spark, sf())
    val postings = spark.read.parquet(s"$idx/postings")
    val (nDocs, sdl) = TextSearch.indexTotals(spark.read.parquet(s"$idx/stats"))
    val docs = graft.sources.Tables.documents(spark, sf())
    val (vocab, bags) = termBags()
    bags.foreach { case (name, terms) =>
      val (got, want) = snippetPages(docs, postings, nDocs, sdl, terms)
      assert(got == want, s"$name: postings snippets vs attachSnippets")
      assert(got.nonEmpty == terms.exists(vocab.contains), s"$name: ${got.size} rows")
      assert(got.forall(r => !r.isNullAt(3) && !r.isNullAt(4)), s"$name: a hit without a snippet")
    }
  }

  test("snippets from the postings equal attachSnippets at the window's edges") {
    import spark.implicits._
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta iota"), // hits at 1, 2, 3
      (2L, "one two three four five six seven eight alpha"),      // hit at the last token
      (3L, "alpha"),                                               // one token
      (4L, "beta x alpha y beta alpha gamma"),                     // repeated tokens
      (5L, "  alpha  beta "),                                      // empty tokens
      (6L, ""),                                                    // one empty token
      (7L, "naïve 日本語 alpha emoji🙂 beta"),                      // multi-byte tokens
      (8L, "zeta eta theta")).toDF("doc_id", "text")               // no query term
    val dir = java.nio.file.Files.createTempDirectory("graft_postings_edges").toString
    TextSearch.writePostingsIndex(docs, "doc_id", "text", dir)
    val postings = spark.read.parquet(s"$dir/postings")
    val (nDocs, sdl) = TextSearch.indexTotals(spark.read.parquet(s"$dir/stats"))
    // the totals observed on the build's pass are the corpus scan's
    val scanTotals = docs.agg(count(lit(1)), sum(size(split(col("text"), " ")).cast("long")))
      .as[(Long, Long)].head()
    assert((nDocs, sdl) == scanTotals)
    val bags = Seq(
      Seq("alpha"), Seq("beta", "gamma"), Seq("gamma", "alpha", "beta"),
      Seq("alpha", "alpha", "beta"), Seq("alpha", "eight"), Seq("iota"), Seq(""),
      Seq("", "beta"), Seq("日本語", "emoji🙂"), Seq("absent"))
    bags.foreach { terms =>
      val (got, want) = snippetPages(docs, postings, nDocs, sdl, terms)
      assert(got == want, s"$terms: postings snippets vs attachSnippets")
      assert(got.nonEmpty == (terms != Seq("absent")), s"$terms: ${got.size} rows")
    }
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
