package graft

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.charset.StandardCharsets

import org.apache.spark.sql.functions._

import graft.service.GraftService

/** The service facade (C analog of reference service.kt) driven over real
  * HTTP with the JDK client: lifecycle (start → ingest → poll → stop),
  * the offset-paged changelog cursor, and the error surface. */
class ServiceSpec extends SparkSpec {

  private def tmpDir(prefix: String): java.nio.file.Path = {
    val p = java.nio.file.Files.createTempDirectory(prefix)
    p.toFile.deleteOnExit()
    p
  }

  private def writeTxt(dir: java.nio.file.Path, name: String, content: String): Unit =
    java.nio.file.Files.write(dir.resolve(name),
      content.getBytes(StandardCharsets.UTF_8))

  private val client = HttpClient.newHttpClient()

  private def get(svc: GraftService, path: String): (Int, String) = {
    val r = client.send(
      HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:${svc.port}$path")).GET().build(),
      HttpResponse.BodyHandlers.ofString())
    (r.statusCode(), r.body())
  }

  private def post(svc: GraftService, path: String, body: String): (Int, String) = {
    val r = client.send(
      HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:${svc.port}$path"))
        .POST(HttpRequest.BodyPublishers.ofString(body)).build(),
      HttpResponse.BodyHandlers.ofString())
    (r.statusCode(), r.body())
  }

  test("service lifecycle: banner, /test sample, 404, datarecords-before-start (service.kt:32-39)") {
    val svc = GraftService.start(spark, port = 0)
    try {
      assert(get(svc, "/") == ((200, """{"service":"graft"}""")))
      val (tc, tb) = get(svc, "/test")
      assert(tc == 200 && tb.contains("\"path\":\"path\"") && tb.contains("\"createdBy\":\"test\""), tb)
      assert(get(svc, "/nope")._1 == 404)
      assert(get(svc, "/datarecords")._1 == 409)
      assert(post(svc, "/startPipeline", """{"bogus": 1}""")._1 == 400)
    } finally svc.close()
  }

  test("startPipeline ingests a directory; /datarecords pages by id cursor; stop tears down") {
    val dir = tmpDir("svc_ingest")
    writeTxt(dir, "1.txt", "alpha beta gamma delta")
    writeTxt(dir, "2.txt", "epsilon zeta")
    val svc = GraftService.start(spark, port = 0)
    try {
      val (sc, sb) = post(svc, "/startPipeline",
        s"""{"scanDirectory": "$dir", "pipelineName": "svc_test"}""")
      assert(sc == 200 && sb.contains("svc_test"), sb)

      val (c1, b1) = get(svc, "/datarecords")
      assert(c1 == 200, b1)
      // engine-serialized records: ids 1 and 2 with enriched metadata
      assert(b1.contains("\"id\":1") && b1.contains("\"id\":2"), b1)
      assert(b1.contains("\"createdBy\":\"lang\""), s"enrichers must run in the service pipeline: $b1")

      // the scheduled-re-walk analog: a file appearing later is observed
      // by the next poll; the cursor returns ONLY the new record
      writeTxt(dir, "9.txt", "late arrival")
      val (c2, b2) = get(svc, "/datarecords?sinceId=2")
      assert(c2 == 200 && b2.contains("\"id\":9") && !b2.contains("\"id\":1"), b2)

      // limit caps the page
      val (c3, b3) = get(svc, "/datarecords?sinceId=0&limit=1")
      assert(c3 == 200 && b3.contains("\"id\":1") && !b3.contains("\"id\":2"), b3)

      assert(post(svc, "/stopPipeline", "")._1 == 200)
      assert(get(svc, "/datarecords")._1 == 409)
    } finally svc.close()
  }

  test("startPipeline replaces a running pipeline instead of stacking queries") {
    val dirA = tmpDir("svc_a"); writeTxt(dirA, "3.txt", "first corpus")
    val dirB = tmpDir("svc_b"); writeTxt(dirB, "4.txt", "second corpus")
    val svc = GraftService.start(spark, port = 0)
    try {
      post(svc, "/startPipeline", s"""{"scanDirectory": "$dirA", "pipelineName": "svc_gen1"}""")
      val before = spark.streams.active.length
      post(svc, "/startPipeline", s"""{"scanDirectory": "$dirB", "pipelineName": "svc_gen2"}""")
      assert(spark.streams.active.length == before, "old query must be stopped on restart")
      val (_, b) = get(svc, "/datarecords")
      assert(b.contains("\"id\":4") && !b.contains("\"id\":3"), b)
    } finally svc.close()
  }

  test("/search drives q45→q143 over HTTP; rows match the oracle-verified snippets query") {
    val svc = GraftService.start(spark, port = 0)
    try {
      assert(get(svc, "/search")._1 == 400, "dir is required")
      val dir = java.net.URLEncoder.encode(sf(), "UTF-8")
      val (code, body) = get(svc, s"/search?dir=$dir")
      assert(code == 200, body)
      // the endpoint's payload must be exactly the q143 result, row
      // order included — same engine serializer on both sides
      val expected = graft.queries.TextQueries.snippets(spark, sf())
        .toJSON.collect().mkString("[", ",", "]")
      assert(body == expected, body.take(400))
      // limit pages the ranked list
      val (c3, b3) = get(svc, s"/search?dir=$dir&limit=3")
      assert(c3 == 200 && b3.count(_ == '{') == 3, b3)
    } finally svc.close()
  }

  test("/search serves the lexical ranking from the stored postings index, scan pruned to the query terms' buckets") {
    import graft.queries.TextQueries
    val idx = GraftService.postingsIndexFor(spark, sf())
    val terms = TextQueries.Bm25Terms
    val indexed = graft.ops.TextSearch.bm25TopKIndexed(
      spark, idx, terms, TextQueries.Bm25K)
    // bit-identical to the oracle-verified scan-path ranking (q45)
    val scanPath = graft.ops.TextSearch.bm25TopK(
      graft.sources.Tables.documents(spark, sf()), "doc_id", "text",
      terms, TextQueries.Bm25K)
    assert(indexed.collect().toSeq == scanPath.collect().toSeq,
      "stored-index scores must equal the corpus-scan scores")
    // the serving read prunes: partition filter on the terms' buckets,
    // and only those bucket directories' files are touched
    val p = indexed.queryExecution.executedPlan.toString
    val pf = p.split("\n").find(_.contains("PartitionFilters")).getOrElse("")
    assert(pf.contains("bucket"), s"no partition filter on bucket: $p")
    import spark.implicits._
    val nTermBuckets = terms.toDS()
      .select(pmod(xxhash64(col("value")), lit(64))).distinct().count()
    val allBuckets = new java.io.File(s"$idx/postings").listFiles()
      .count(_.getName.startsWith("bucket="))
    assert(nTermBuckets < allBuckets,
      s"fixture degenerate: $nTermBuckets term buckets vs $allBuckets total")
    // the physical scan reports the pruned partition count
    val scanned = "partition count: (\\d+)".r.findFirstMatchIn(p.toLowerCase)
      .map(_.group(1).toInt)
    scanned.foreach(n => assert(n == nTermBuckets,
      s"scan read $n partitions, expected $nTermBuckets of $allBuckets"))
  }

  test("/search q= runs USER terms through the same indexed path; results match the operator") {
    import graft.queries.TextQueries
    val svc = GraftService.start(spark, port = 0)
    try {
      val dir = java.net.URLEncoder.encode(sf(), "UTF-8")
      val q = java.net.URLEncoder.encode("customer line", "UTF-8")
      val (code, body) = get(svc, s"/search?dir=$dir&q=$q&limit=5")
      assert(code == 200, body)
      val gotIds = "\"doc_id\":(\\d+)".r.findAllMatchIn(body)
        .map(_.group(1).toLong).toSeq
      val want = graft.ops.TextSearch.bm25TopKIndexed(spark,
          GraftService.postingsIndexFor(spark, sf()),
          Seq("customer", "line"), TextQueries.Bm25K)
        .orderBy(col("score_e12").desc, col("doc_id").asc)
        .limit(5).select("doc_id").collect().map(_.getLong(0)).toSeq
      assert(gotIds == want && gotIds.nonEmpty, s"got=$gotIds want=$want")
      // snippets highlight the USER terms, not the default bag
      assert(body.contains("customer") || body.contains("line"), body.take(400))
      // term-count cap surfaces as a client error, not a require() blowup
      val many = java.net.URLEncoder.encode((1 to 65).map("t" + _).mkString(" "), "UTF-8")
      assert(get(svc, s"/search?dir=$dir&q=$many")._1 == 400)
      // repeated terms dedup (the df-double-count hazard): identical result
      val dup = java.net.URLEncoder.encode("customer customer line", "UTF-8")
      assert(get(svc, s"/search?dir=$dir&q=$dup&limit=5")._2 == body)
      // 65 repeats of ONE term is a 1-term query, not a cap violation
      val rep = java.net.URLEncoder.encode(Seq.fill(65)("line").mkString(" "), "UTF-8")
      assert(get(svc, s"/search?dir=$dir&q=$rep&limit=1")._1 == 200)
      // hybrid's semantic leg is probe-fixed: q= with mode=hybrid is an
      // explicit client error, never a silently-wrong fusion
      assert(get(svc, s"/search?dir=$dir&mode=hybrid&q=$q")._1 == 400)
    } finally svc.close()
  }

  test("/search mode=hybrid with a user probe serves the semantic leg from the IVF artifact") {
    import graft.queries.{SimilarityQueries, TextQueries}
    val svc = GraftService.start(spark, port = 0)
    try {
      val dir = java.net.URLEncoder.encode(sf(), "UTF-8")
      val q = java.net.URLEncoder.encode("customer line", "UTF-8")
      val (code, body) = get(svc, s"/search?dir=$dir&mode=hybrid&probeDoc=5&q=$q")
      assert(code == 200, body)
      val gotIds = "\"doc_id\":(\\d+)".r.findAllMatchIn(body).map(_.group(1).toLong).toSeq
      // independent composition of the same public operators
      val ivf = GraftService.ivfIndexFor(spark, sf())
      val probeQv = graft.sources.Tables.embeddings(spark, sf())
        .filter(col("vec_id") === 5L)
        .select(graft.ops.Similarity.quantize(col("embedding")))
        .collect().head.getSeq[Long](0).toSeq
      val lexTop = graft.ops.TextSearch.bm25TopKIndexed(spark,
        GraftService.postingsIndexFor(spark, sf()), Seq("customer", "line"), 100)
      val fused = SimilarityQueries.rrfFusionIvfProbe(
        spark, ivf, lexTop, probeQv, nProbe = 3, excludeId = Some(5L))
      val want = fused.select("doc_id").collect().map(_.getLong(0)).toSeq
      assert(gotIds == want && gotIds.nonEmpty, s"got=$gotIds want=$want")
      // the probe's own row never ranks (it would be cosine 1.0)
      assert(!want.take(1).contains(5L))
      // the semantic serving read PRUNES to the probed cells: the
      // cell-partitioned index scan carries a static partition filter on
      // exactly the nprobe=3 cells nearest the probe
      val plan = fused.queryExecution.executedPlan.toString
      val cells = graft.ops.Similarity.ivfNearestCells(graft.ops.Similarity
        .ivfCentroidRows(spark.read.parquet(s"$ivf/centroids")), probeQv, 3)
      val pruned = "PartitionFilters: \\[cell#\\d+ IN \\(([\\d,]+)\\)\\]".r
        .findFirstMatchIn(plan).map(_.group(1).split(",").map(_.toLong).toSet)
      assert(cells.size == 3 && pruned.contains(cells.toSet),
        s"index scan not pruned to the cells $cells:\n$plan")
      // a raw 64-dim probe is accepted; malformed probes are client errors
      val vec = java.net.URLEncoder.encode(Seq.fill(64)("0.5").mkString(","), "UTF-8")
      assert(get(svc, s"/search?dir=$dir&mode=hybrid&probe=$vec")._1 == 200)
      assert(get(svc, s"/search?dir=$dir&mode=hybrid&probe=1,2,3")._1 == 400)
      assert(get(svc, s"/search?dir=$dir&mode=hybrid&probeDoc=notanumber")._1 == 400)
      assert(get(svc, s"/search?dir=$dir&mode=hybrid&probeDoc=999999999")._1 == 400)
      // a LEXICAL request ignores a stray probe param entirely: same 200
      // body as without it, even when the probe would be invalid
      val plain = get(svc, s"/search?dir=$dir&q=$q&limit=5")
      assert(plain._1 == 200)
      assert(get(svc, s"/search?dir=$dir&q=$q&limit=5&probeDoc=notanumber") == plain)
      assert(get(svc, s"/search?dir=$dir&q=$q&limit=5&probe=1,2,3") == plain)

      // diversify=k: the fused page re-ranked by MMR (q194's operator).
      // Pick 1 must be the fused top hit; picks are distinct; every pick
      // comes from the undiversified page; ranks are 1..k
      val (dcode, dbody) = get(svc,
        s"/search?dir=$dir&mode=hybrid&probeDoc=5&q=$q&limit=10&diversify=3")
      assert(dcode == 200, dbody)
      val divIds = "\"doc_id\":(\\d+)".r.findAllMatchIn(dbody).map(_.group(1).toLong).toSeq
      val ranks = "\"rank\":(\\d+)".r.findAllMatchIn(dbody).map(_.group(1).toInt).toSeq
      assert(divIds.length == 3 && divIds.distinct.length == 3, dbody.take(400))
      assert(ranks == Seq(1, 2, 3), s"ranks=$ranks")
      assert(divIds.head == want.head, // MMR pick 1 = pure-relevance argmax
        s"diversified head ${divIds.head} != fused top ${want.head}")
      assert(divIds.forall(want.take(10).contains),
        s"picks $divIds must come from the fused top-10 ${want.take(10)}")
      // a lexical request ignores a stray diversify param (same body)
      assert(get(svc, s"/search?dir=$dir&q=$q&limit=5&diversify=3") == plain)
    } finally svc.close()
  }

  test("/similar serves ANN from the durable IVF index over HTTP; streamed incremental layout bit-equal to the artifact") {
    import graft.ops.Similarity
    import spark.implicits._
    val svc = GraftService.start(spark, port = 0)
    try {
      val dir = java.net.URLEncoder.encode(sf(), "UTF-8")
      // error surface: facade-shaped client errors, never require() blowups
      assert(get(svc, "/similar")._1 == 400, "dir is required")
      assert(get(svc, s"/similar?dir=$dir")._1 == 400, "a probe is required")
      assert(get(svc, s"/similar?dir=$dir&probe=1,2,3")._1 == 400)
      assert(get(svc, s"/similar?dir=$dir&probeDoc=notanumber")._1 == 400)
      assert(get(svc, s"/similar?dir=$dir&probeDoc=999999999")._1 == 400)

      // default layout (build-once artifact): rows must be exactly the
      // q79-shape batched probe over the same corpus, self excluded
      val (c1, b1) = get(svc, s"/similar?dir=$dir&probeDoc=7&k=10&nprobe=3")
      assert(c1 == 200, b1)
      val ivf = GraftService.ivfIndexFor(spark, sf())
      val probeQv = graft.sources.Tables.embeddings(spark, sf())
        .filter(col("vec_id") === 7L)
        .select(Similarity.quantize(col("embedding")))
        .collect().head.getSeq[Long](0).toSeq
      val queries = Seq((0L, probeQv)).toDF("query_id", "q")
      val want = Similarity.ivfExactTopKMany(
          spark.read.parquet(s"$ivf/index"), spark.read.parquet(s"$ivf/centroids"),
          queries, k = 11, nProbe = 3)
        .filter(col("id") =!= 7L)
        .orderBy(col("cosine").desc, col("id").asc).limit(10)
        .select("id").as[Long].collect().toSeq
      val got = "\"id\":(\\d+)".r.findAllMatchIn(b1).map(_.group(1).toLong).toSeq
      assert(got == want && got.size == 10, s"got=$got want=$want")
      assert(!got.contains(7L), "the probe's own row must not rank")

      // streamed layout: ingest the corpus through incrementalAnnSink
      // with the SAME centroid artifact, then serve via indexDir= +
      // centroidsDir= — the payload must be BYTE-equal to the artifact
      // read (annIndexVectors hides batch_run from the serving schema)
      val root = java.nio.file.Files.createTempDirectory("svc_ann").toString
      val srcDir = s"$root/src"; new java.io.File(srcDir).mkdirs()
      graft.sources.Tables.embeddings(spark, sf())
        .select($"vec_id", $"embedding").write.mode("append").parquet(srcDir)
      val schema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("vec_id",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("embedding",
          org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.FloatType))))
      val q = graft.streaming.Streaming.incrementalAnnSink(
        spark.readStream.schema(schema).parquet(srcDir), "vec_id", "embedding",
        s"$ivf/centroids", s"$root/idx", checkpointDir = Some(s"$root/ckpt"))
      q.processAllAvailable(); q.stop()
      def enc(s: String) = java.net.URLEncoder.encode(s, "UTF-8")
      val (c2, b2) = get(svc, s"/similar?dir=$dir&probeDoc=7&k=10&nprobe=3" +
        s"&indexDir=${enc(s"$root/idx")}&centroidsDir=${enc(s"$ivf/centroids")}")
      assert(c2 == 200, b2)
      assert(b2 == b1, s"streamed-index serving diverged:\n$b2\nvs\n$b1")

      // a raw 64-dim probe works (no self-exclusion)
      val vec = enc(Seq.fill(64)("0.5").mkString(","))
      val (c4, b4) = get(svc, s"/similar?dir=$dir&probe=$vec&k=3")
      assert(c4 == 200 && b4.count(_ == '{') == 3, b4)

      // diversify=n: MMR over the page — pick 1 is the pure-relevance
      // argmax, picks are distinct members of the page, ranks are 1..n
      val (c3, b3) = get(svc, s"/similar?dir=$dir&probeDoc=7&k=10&diversify=3")
      assert(c3 == 200, b3)
      val divIds = "\"id\":(\\d+)".r.findAllMatchIn(b3).map(_.group(1).toLong).toSeq
      val ranks = "\"rank\":(\\d+)".r.findAllMatchIn(b3).map(_.group(1).toInt).toSeq
      assert(divIds.length == 3 && divIds.distinct.length == 3, b3.take(400))
      assert(ranks == Seq(1, 2, 3), s"ranks=$ranks")
      assert(divIds.head == want.head,
        s"MMR pick 1 ${divIds.head} must be the top cosine hit ${want.head}")
      assert(divIds.forall(want.contains),
        s"picks $divIds must come from the undiversified page $want")
    } finally svc.close()
  }

  test("/search mode=hybrid returns the q114 fused ranking with snippets attached") {
    val svc = GraftService.start(spark, port = 0)
    try {
      val dir = java.net.URLEncoder.encode(sf(), "UTF-8")
      val (code, body) = get(svc, s"/search?dir=$dir&mode=hybrid")
      assert(code == 200, body)
      val gotIds = "\"doc_id\":(\\d+)".r.findAllMatchIn(body).map(_.group(1).toLong).toSeq
      val fused = graft.queries.SimilarityQueries.rrfFusion(spark, sf())
        .select("doc_id").collect().map(_.getLong(0)).toSeq
      assert(gotIds == fused, s"got=$gotIds fused=$fused")
      assert(body.contains("\"rrf_e6\":"), body.take(400))
      // a semantic-only hit carries snippet NULL, never the empty string
      // (concat_ws over a null slice yields '' unless guarded)
      assert(!body.contains("\"snippet\":\"\""), body.take(400))
    } finally svc.close()
  }

  test("/search mode=hybrid&anchors=1 fuses the anchor-surrogate third leg — scores bit-equal to an rrfFuse replay") {
    val svc = GraftService.start(spark, port = 0)
    try {
      val dir = java.net.URLEncoder.encode(sf(), "UTF-8")
      val (code, body) = get(svc, s"/search?dir=$dir&mode=hybrid&anchors=1")
      assert(code == 200, body)
      val gotIds = "\"doc_id\":(\\d+)".r.findAllMatchIn(body).map(_.group(1).toLong).toSeq
      val gotScores = "\"rrf_e6\":(\\d+)".r.findAllMatchIn(body).map(_.group(1).toLong).toSeq
      // replay: lexical (stored postings) + semantic (fixed q114 probe)
      // + anchor (q217's BM25 over the anchor-doc artifact), rrfFuse'd
      import org.apache.spark.sql.expressions.Window
      val terms = graft.queries.TextQueries.Bm25Terms
      val lexTop = graft.ops.TextSearch.bm25TopKIndexed(spark,
        graft.queries.ClusterArtifacts.postingsIndex(spark, sf()), terms, 100)
      val anchorTop = graft.ops.TextSearch.bm25TopK(
          graft.queries.ClusterArtifacts.anchorDocs(spark, sf()),
          "dst", "anchor_text", terms, 100)
        .withColumn("anchor_rank", row_number().over(
          Window.orderBy(col("score_e12").desc, col("doc_id").asc)).cast("long"))
        .select(col("doc_id"), col("anchor_rank"))
      val fused = graft.queries.SimilarityQueries.rrfFusionFrom(spark, sf(),
          lexTop, Seq((anchorTop, "anchor_rank")))
        .select("doc_id", "rrf_e6").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSeq
      assert(gotIds == fused.map(_._1), s"got=$gotIds fused=${fused.map(_._1)}")
      assert(gotScores == fused.map(_._2), s"got=$gotScores fused=${fused.map(_._2)}")
      // the anchor leg must be LIVE: the three-leg page's total score
      // strictly exceeds the two-leg page's (every RRF contribution is
      // positive, so a dead leg — empty anchor table, broken join —
      // would make them equal)
      val twoLeg = graft.queries.SimilarityQueries.rrfFusion(spark, sf())
        .agg(sum(col("rrf_e6"))).collect().head.getLong(0)
      assert(fused.map(_._2).sum > twoLeg,
        s"anchor leg contributed nothing: ${fused.map(_._2).sum} vs $twoLeg")
    } finally svc.close()
  }

  test("/attributes serves the streaming curation log: point read, verdict filter, id-cursor page") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val root = java.nio.file.Files.createTempDirectory("graft_attr_svc").toString
    val modelDir = graft.queries.CurationArtifacts.lmRefModelDir(spark, sf())
    val t0 = graft.sources.Tables.documents(spark, sf())
      .filter(col("doc_id") === 0).select(col("text")).collect().head.getString(0)
    val input = MemoryStream[(Long, String)]
    val q = graft.streaming.Streaming.incrementalCurationLogSink(
      input.toDF().toDF("doc_id", "text"), "doc_id", "text",
      modelDir, s"$root/digests", s"$root/log")
    try {
      input.addData((10L, t0), (11L, t0), (12L, "one"))
      q.processAllAvailable()
    } finally q.stop()
    val svc = GraftService.start(spark, port = 0)
    try {
      val log = java.net.URLEncoder.encode(s"$root/log", "UTF-8")
      // point read: the in-batch dup attributes to its canon
      val (c1, b1) = get(svc, s"/attributes?log=$log&id=11")
      assert(c1 == 200 && b1.contains("\"verdict\":\"exact_dup\"")
        && b1.contains("\"canon_doc\":10"), b1)
      // verdict filter
      val (c2, b2) = get(svc, s"/attributes?log=$log&verdict=no_evidence")
      assert(c2 == 200 && b2.contains("\"id\":12")
        && !b2.contains("exact_dup"), b2)
      // id-cursor page: sinceId=10 excludes 10, keeps order
      val (c3, b3) = get(svc, s"/attributes?log=$log&sinceId=10")
      val ids = "\"id\":(\\d+)".r.findAllMatchIn(b3).map(_.group(1).toLong).toSeq
      assert(c3 == 200 && ids == Seq(11L, 12L), b3)
      // error surface — malformed params are the CALLER's error (400,
      // never a 500 leaking a stack trace)
      assert(get(svc, "/attributes")._1 == 400)
      assert(get(svc, s"/attributes?log=${java.net.URLEncoder.encode("/nope/none", "UTF-8")}")._1 == 404)
      assert(get(svc, s"/attributes?log=$log&id=notanum")._1 == 400)
      assert(get(svc, s"/attributes?log=$log&limit=notanum")._1 == 400)
      assert(get(svc, s"/attributes?log=$log&sinceId=garbage")._1 == 400)
    } finally svc.close()
  }

  test("/search anchors=1 runs USER terms through all three legs; scores bit-equal to the replay") {
    import graft.queries.SimilarityQueries
    import org.apache.spark.sql.expressions.Window
    val svc = GraftService.start(spark, port = 0)
    try {
      val dir = java.net.URLEncoder.encode(sf(), "UTF-8")
      // one term guaranteed to live in the anchor corpus, so the third
      // leg MUST contribute rows for this user query
      val anchorWord = graft.queries.ClusterArtifacts.anchorDocs(spark, sf())
        .select(explode(split(lower(col("anchor_text")), "\\s+")).as("w"))
        .filter(length(col("w")) > 2).orderBy(col("w")).first().getString(0)
      val terms = Seq("customer", anchorWord).distinct
      val q = java.net.URLEncoder.encode(terms.mkString(" "), "UTF-8")
      val (code, body) =
        get(svc, s"/search?dir=$dir&mode=hybrid&probeDoc=5&q=$q&anchors=1")
      assert(code == 200, body)
      val gotIds = "\"doc_id\":(\\d+)".r.findAllMatchIn(body).map(_.group(1).toLong).toSeq
      val gotScores = "\"rrf_e6\":(\\d+)".r.findAllMatchIn(body).map(_.group(1).toLong).toSeq
      // replay: USER terms through lexical + anchor-surrogate BM25,
      // the user probe through the IVF leg, rrf-fused
      val probeQv = graft.sources.Tables.embeddings(spark, sf())
        .filter(col("vec_id") === 5L)
        .select(graft.ops.Similarity.quantize(col("embedding")))
        .collect().head.getSeq[Long](0).toSeq
      val lexTop = graft.ops.TextSearch.bm25TopKIndexed(spark,
        GraftService.postingsIndexFor(spark, sf()), terms, 100)
      val anchorTop = graft.ops.TextSearch.bm25TopK(
          graft.queries.ClusterArtifacts.anchorDocs(spark, sf()),
          "dst", "anchor_text", terms, 100)
        .withColumn("anchor_rank", row_number().over(
          Window.orderBy(col("score_e12").desc, col("doc_id").asc)).cast("long"))
        .select(col("doc_id"), col("anchor_rank"))
      assert(anchorTop.count() > 0, s"fixture term '$anchorWord' missed the anchor corpus")
      val ivf = GraftService.ivfIndexFor(spark, sf())
      val fused = SimilarityQueries.rrfFusionIvfProbe(spark, ivf, lexTop,
          probeQv, nProbe = 3, excludeId = Some(5L),
          Seq((anchorTop, "anchor_rank")))
        .select("doc_id", "rrf_e6").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSeq
      assert(gotIds == fused.map(_._1) && gotIds.nonEmpty,
        s"got=$gotIds want=${fused.map(_._1)}")
      assert(gotScores == fused.map(_._2), s"got=$gotScores want=${fused.map(_._2)}")
      // the anchor leg must be LIVE for user terms (every RRF
      // contribution is positive, so a dead third leg makes the totals equal)
      val twoLeg = SimilarityQueries.rrfFusionIvfProbe(spark, ivf, lexTop,
          probeQv, nProbe = 3, excludeId = Some(5L))
        .agg(sum(col("rrf_e6"))).collect().head.getLong(0)
      assert(fused.map(_._2).sum > twoLeg,
        s"anchor leg contributed nothing for user terms: ${fused.map(_._2).sum} vs $twoLeg")
    } finally svc.close()
  }

  test("/selection serves the q223 excess-loss manifest from the artifact: rows bit-equal to the oracle replay") {
    val svc = GraftService.start(spark, port = 0)
    try {
      val dir = java.net.URLEncoder.encode(sf(), "UTF-8")
      val (code, body) = get(svc, s"/selection?dir=$dir")
      assert(code == 200, body)
      val gotIds = "\"doc_id\":(\\d+)".r.findAllMatchIn(body).map(_.group(1).toLong).toSeq
      val gotRho = "\"rho_micro\":(-?\\d+)".r.findAllMatchIn(body).map(_.group(1).toLong).toSeq
      val want = graft.queries.TextQueries.rhoSelection(spark, sf())
        .select("doc_id", "rho_micro").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSeq
      assert(gotIds == want.map(_._1) && gotIds.nonEmpty,
        s"got=$gotIds want=${want.map(_._1)}")
      assert(gotRho == want.map(_._2), s"got=$gotRho want=${want.map(_._2)}")
      // point read: one row, the right one
      val (cp, bp) = get(svc, s"/selection?dir=$dir&id=${want.head._1}")
      assert(cp == 200 && "\"doc_id\":(\\d+)".r.findAllMatchIn(bp).size == 1
        && bp.contains(s"\"doc_id\":${want.head._1}"), bp)
      // error surface
      assert(get(svc, "/selection")._1 == 400)
      assert(get(svc, s"/selection?dir=$dir&id=notanum")._1 == 400)
      assert(get(svc, s"/selection?dir=$dir&limit=notanum")._1 == 400)
    } finally svc.close()
  }

  test("pathRoots confines every path param to the configured serving roots (403 outside)") {
    def enc(s: String) = java.net.URLEncoder.encode(s, "UTF-8")
    val svc = GraftService.start(spark, port = 0, pathRoots = Seq(sf()))
    try {
      // inside the root: serves normally
      assert(get(svc, s"/search?dir=${enc(sf())}")._1 == 200)
      // outside: refused before any filesystem read
      assert(get(svc, s"/search?dir=${enc("/etc")}")._1 == 403)
      assert(get(svc, s"/attributes?log=${enc("/etc/passwd")}")._1 == 403)
      assert(get(svc, s"/media?dir=${enc("/tmp")}")._1 == 403)
      // `..` cannot escape the root (normalized before the prefix check)
      assert(get(svc, s"/search?dir=${enc(sf() + "/..")}")._1 == 403)
      // the unconfigured default keeps the trusted-operator stance
      val open = GraftService.start(spark, port = 0)
      try assert(get(open, s"/search?dir=${enc(sf())}")._1 == 200)
      finally open.close()
    } finally svc.close()
  }

  test("/media serves the feature store over HTTP: census matches q220, point read matches the artifact") {
    val svc = GraftService.start(spark, port = 0)
    try {
      // census = the q220 rows, via HTTP (count + one spot value)
      val (code, bodyAll) = get(svc, s"/media?dir=${sf()}")
      assert(code == 200, bodyAll)
      val q220 = graft.queries.SimilarityQueries.mediaCensus(spark, sf())
        .collect()
      assert("\"modality\":".r.findAllMatchIn(bodyAll).size == q220.length,
        s"census row count diverged: ${bodyAll.take(300)}")
      // modality filter narrows to that modality's rows
      val (c2, bodyImg) = get(svc, s"/media?dir=${sf()}&modality=image")
      assert(c2 == 200 && !bodyImg.contains("\"modality\":\"audio\""), bodyImg.take(300))
      assert("\"modality\":\"image\"".r.findAllMatchIn(bodyImg).size ==
        q220.count(_.getString(0) == "image"))
      // point read: one image's features match the artifact row
      val ref = graft.queries.MediaArtifacts.imageDocFeatures(spark, sf())
        .filter(col("media_id") === 7L).collect().head
      val (c3, bodyRow) = get(svc, s"/media?dir=${sf()}&modality=image&id=7")
      assert(c3 == 200, bodyRow)
      assert(bodyRow.contains(s"\"hash_hi\":${ref.getAs[Long]("hash_hi")}") &&
        bodyRow.contains(s"\"mean_gray\":${ref.getAs[Long]("mean_gray")}"),
        bodyRow.take(300))
      // a video id returns its per-frame rows
      val nFrames = graft.queries.MediaArtifacts.videoDocFrames(spark, sf())
        .filter(col("media_id") === 7L && col("video_error").isNull).count()
      val (c4, bodyVid) = get(svc, s"/media?dir=${sf()}&modality=video&id=7")
      assert(c4 == 200 &&
        "\"frame_idx\":".r.findAllMatchIn(bodyVid).size == nFrames, bodyVid.take(300))
      // error surface
      assert(get(svc, s"/media?dir=${sf()}&id=7")._1 == 400) // id without modality
      assert(get(svc, "/media")._1 == 400) // dir required
    } finally svc.close()
  }

  test("concurrent mixed requests answer exactly as the same requests answered one at a time; close() ends the pool") {
    def enc(s: String) = java.net.URLEncoder.encode(s, "UTF-8")
    val dir = enc(sf())
    val reqs = Seq(
      s"/search?dir=$dir&q=${enc("customer line")}&limit=5",
      s"/search?dir=$dir&q=${enc("customer")}",
      s"/search?dir=$dir&mode=hybrid&probeDoc=5&q=${enc("customer line")}",
      s"/search?dir=$dir&mode=hybrid&probeDoc=9&q=${enc("line")}",
      s"/similar?dir=$dir&probeDoc=7&k=10",
      s"/similar?dir=$dir&probeDoc=3&k=5&nprobe=2",
      s"/search?dir=$dir&q=${enc("line")}&limit=3",
      s"/similar?dir=$dir&probeDoc=11&k=3")
    val svc = GraftService.start(spark, port = 0)
    val prefix = s"graft-service-${svc.port}-"
    def poolThreads = Thread.getAllStackTraces.keySet.toArray(Array.empty[Thread])
      .filter(_.getName.startsWith(prefix)).toSeq
    val threads = try {
      val sequential = reqs.map(get(svc, _))
      assert(sequential.forall(_._1 == 200), sequential.filter(_._1 != 200))
      val pending = reqs.map(r => client.sendAsync(
        HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:${svc.port}$r")).GET().build(),
        HttpResponse.BodyHandlers.ofString()))
      val concurrent = pending.map { f => val r = f.get(); (r.statusCode(), r.body()) }
      reqs.indices.foreach(i =>
        assert(concurrent(i) == sequential(i), s"${reqs(i)} answered differently under concurrency"))
      poolThreads
    } finally svc.close()
    assert(threads.nonEmpty, s"no $prefix* serving threads")
    threads.foreach(_.join(10000))
    assert(!threads.exists(_.isAlive) && poolThreads.isEmpty,
      s"serving threads alive after close(): ${poolThreads.map(_.getName)}")
  }

  test("a warm /search or /similar runs a pinned number of Spark jobs (no per-request resolution)") {
    val svc = GraftService.start(spark, port = 0)
    try {
      val dir = java.net.URLEncoder.encode(sf(), "UTF-8")
      val lex = s"/search?dir=$dir&q=${java.net.URLEncoder.encode("customer line", "UTF-8")}"
      val hybrid = s"$lex&mode=hybrid&probeDoc=5"
      val similar = s"/similar?dir=$dir&probeDoc=7&k=10"
      Seq(lex, hybrid, similar).foreach(r => assert(get(svc, r)._1 == 200)) // warm
      val lexJobs = jobsOf(assert(get(svc, lex)._1 == 200))
      val hybridJobs = jobsOf(assert(get(svc, hybrid)._1 == 200))
      val similarJobs = jobsOf(assert(get(svc, similar)._1 == 200))
      // resolving the corpus per request cost 13 (lexical), 21 (hybrid)
      // and 9 (/similar) jobs per warm request; aggregating the BM25
      // totals and choosing the IVF cells per request, 7, 12 and 5;
      // counting each term's df per request, 5 (lexical) and 6 (hybrid);
      // joining the lexical page to documents for its snippets, 3
      assert(lexJobs <= 2, s"lexical /search ran $lexJobs jobs")
      assert(hybridJobs <= 4, s"hybrid /search ran $hybridJobs jobs")
      assert(similarJobs <= 2, s"/similar ran $similarJobs jobs")
    } finally svc.close()
  }

  test("a warm lexical /search reads no documents: its executed plan scans only the postings") {
    def enc(s: String) = java.net.URLEncoder.encode(s, "UTF-8")
    val svc = GraftService.start(spark, port = 0)
    try {
      val lex = s"/search?dir=${enc(sf())}&q=${enc("customer line")}"
      val (code, body) = get(svc, lex) // warm
      assert(code == 200 && body.contains("\"snippet\":"), body.take(400))
      val plans = executedPlansOf(assert(get(svc, lex) == ((code, body))))
      val scans = plans.flatMap(_.split("\n")).filter(_.contains("FileScan"))
      assert(plans.nonEmpty && scans.exists(_.contains("struct<term:")),
        s"no postings scan in the request's plans:\n${plans.mkString("\n")}")
      assert(!scans.exists(l => l.contains("documents") || l.contains("text:string")),
        s"a lexical request scanned documents:\n${scans.mkString("\n")}")
    } finally svc.close()
  }

  test("/search mode=hybrid snippets equal attachSnippets over documents; an embeddings id with no documents row is dropped") {
    import graft.queries.{SimilarityQueries, TextQueries}
    def enc(s: String) = java.net.URLEncoder.encode(s, "UTF-8")
    def page(dir: String, probe: Long, terms: Seq[String]): org.apache.spark.sql.DataFrame = {
      val probeQv = graft.sources.Tables.embeddings(spark, dir)
        .filter(col("vec_id") === probe)
        .select(graft.ops.Similarity.quantize(col("embedding")))
        .collect().head.getSeq[Long](0).toSeq
      val lexTop = graft.ops.TextSearch.bm25TopKIndexed(spark,
        GraftService.postingsIndexFor(spark, dir), terms, 100)
      TextQueries.attachSnippets(spark, dir, SimilarityQueries.rrfFusionIvfProbe(spark,
          GraftService.ivfIndexFor(spark, dir), lexTop, probeQv, nProbe = 3,
          excludeId = Some(probe)), terms)
        .orderBy(col("rrf_e6").desc, col("doc_id").asc)
    }
    def request(dir: String, probe: Long, terms: Seq[String]) =
      s"/search?dir=${enc(dir)}&mode=hybrid&probeDoc=$probe&q=${enc(terms.mkString(" "))}"
    // a rare word: the fused page is mostly semantic-only rows
    val rare = Seq(graft.sources.Tables.documents(spark, sf())
      .select(explode(split(col("text"), " ")).as("t"))
      .groupBy(col("t")).agg(count(lit(1)).as("n"))
      .orderBy(col("n").asc, col("t").asc).first().getString(0))
    // a corpus whose documents lack the first semantic-only row of that page
    val semOnly = page(sf(), 5L, rare).limit(20).filter(col("snippet").isNull)
      .select("doc_id").collect().map(_.getLong(0))
    assert(semOnly.nonEmpty, "fixture degenerate: the page has no semantic-only row")
    val root = java.nio.file.Files.createTempDirectory("svc_hybrid_missing").toString
    graft.sources.Tables.documents(spark, sf()).filter(col("doc_id") =!= semOnly.head)
      .write.parquet(s"$root/documents.parquet")
    graft.sources.Tables.embeddings(spark, sf()).write.parquet(s"$root/embeddings.parquet")
    val svc = GraftService.start(spark, port = 0)
    try {
      for (dir <- Seq(sf(), root); probe <- Seq(5L, 9L); terms <- Seq(Seq("customer", "line"), rare)) {
        val want = page(dir, probe, terms).limit(20).toJSON.collect().mkString("[", ",", "]")
        val (code, body) = get(svc, request(dir, probe, terms))
        assert(code == 200 && body == want, s"$dir probe $probe $terms:\n$body\nvs\n$want")
      }
      val body = get(svc, request(root, 5L, rare))._2
      assert(!body.contains(s"\"doc_id\":${semOnly.head},"),
        s"doc ${semOnly.head} has no documents row but was served: $body")
      assert("\"snippet\"".r.findAllMatchIn(body).size < "\"doc_id\"".r.findAllMatchIn(body).size,
        s"no semantic-only row served: $body")
    } finally svc.close()
  }

  test("every job of a warm /similar carries the request's job description") {
    val svc = GraftService.start(spark, port = 0)
    try {
      val similar = s"/similar?dir=${java.net.URLEncoder.encode(sf(), "UTF-8")}&probeDoc=7&k=10"
      assert(get(svc, similar)._1 == 200) // warm
      val descs = jobDescriptionsOf(assert(get(svc, similar)._1 == 200))
      assert(descs.nonEmpty && descs.forall(_ == "graft /similar"), descs)
      // cleared after the request: a later request's jobs are its own
      val searchDescs = jobDescriptionsOf(assert(get(svc, s"/search?dir=${
        java.net.URLEncoder.encode(sf(), "UTF-8")}")._1 == 200))
      assert(searchDescs.nonEmpty && searchDescs.forall(_ == "graft /search"), searchDescs)
    } finally svc.close()
  }

  test("a serving thread reads the session's conf (its active session), not Spark's defaults") {
    import org.apache.spark.sql.internal.SQLConf
    val key = SQLConf.SHUFFLE_PARTITIONS.key
    val session = spark.conf.get(key)
    assert(session != SQLConf.SHUFFLE_PARTITIONS.defaultValueString,
      s"fixture degenerate: the session's $key is Spark's default")
    val svc = GraftService.start(spark, port = 0)
    try {
      // the pool's threads are created by a thread with no active session
      // (the HttpServer dispatcher); reproduce that for every thread
      val read = new java.util.concurrent.atomic.AtomicReference[Seq[String]]()
      val creator = new Thread(() => {
        org.apache.spark.sql.SparkSession.clearActiveSession()
        read.set((1 to 2 * Runtime.getRuntime.availableProcessors).map(_ =>
          svc.onServingThread(SQLConf.get.getConfString(key))))
      })
      creator.start(); creator.join()
      assert(read.get != null && read.get.forall(_ == session), read.get)
    } finally svc.close()
  }

  test("a facade reply is not held back by Nagle's algorithm: median GET / under 20 ms") {
    val svc = GraftService.start(spark, port = 0)
    try {
      assert(get(svc, "/")._1 == 200) // warm the connection
      val ms = (1 to 20).map { _ =>
        val t0 = System.nanoTime()
        assert(get(svc, "/")._1 == 200)
        (System.nanoTime() - t0) / 1e6
      }.sorted
      assert(ms(10) < 20.0, s"GET / median ${ms(10)} ms: ${ms.mkString(", ")}")
    } finally svc.close()
  }

  test("warm requests compile no generated class: a repeat on each route, an unseen probeDoc or k") {
    def enc(s: String) = java.net.URLEncoder.encode(s, "UTF-8")
    val dir = enc(sf())
    val lex = s"/search?dir=$dir&q=${enc("customer line")}"
    def hybrid(probe: Int) = s"/search?dir=$dir&mode=hybrid&probeDoc=$probe&q=${enc("customer line")}"
    def similar(probe: Int, k: Int) = s"/similar?dir=$dir&probeDoc=$probe&k=$k"
    val svc = GraftService.start(spark, port = 0)
    try {
      def compiles(r: String): Long = compilesOf(assert(get(svc, r)._1 == 200, r))
      Seq(lex, hybrid(5), similar(7, 10)).foreach(r => assert(get(svc, r)._1 == 200)) // warm
      // An adaptive plan may pick another join build side on a later run,
      // by which query stage finished first, and compile that variant's
      // few classes once; so each check takes the least of three requests.
      // A probe id or k planned as a primitive literal is inlined into
      // generated code and compiled 4 new classes per new value here.
      def least(rs: Seq[String]): Long = rs.map(compiles).min
      assert(least(Seq.fill(3)(lex)) == 0, "a repeated lexical /search compiled")
      assert(least(Seq.fill(3)(hybrid(5))) == 0, "a repeated hybrid /search compiled")
      assert(least(Seq.fill(3)(similar(7, 10))) == 0, "a repeated /similar compiled")
      assert(least(Seq(9, 11, 13).map(hybrid)) == 0, "an unseen hybrid probeDoc compiled")
      assert(least(Seq(8, 12, 14).map(similar(_, 10))) == 0, "an unseen /similar probeDoc compiled")
      assert(least(Seq(11, 12, 13).map(similar(7, _))) == 0, "an unseen /similar k compiled")
    } finally svc.close()
  }

  test("streamed /similar resolves its index per request: a batch_run added between requests is served") {
    import spark.implicits._
    def enc(s: String) = java.net.URLEncoder.encode(s, "UTF-8")
    val ivf = GraftService.ivfIndexFor(spark, sf())
    val root = java.nio.file.Files.createTempDirectory("svc_ann_fresh").toString
    val srcDir = s"$root/src"
    val emb = graft.sources.Tables.embeddings(spark, sf()).select($"vec_id", $"embedding")
    emb.write.mode("append").parquet(srcDir)
    val q = graft.streaming.Streaming.incrementalAnnSink(
      spark.readStream.schema(emb.schema).parquet(srcDir), "vec_id", "embedding",
      s"$ivf/centroids", s"$root/idx", checkpointDir = Some(s"$root/ckpt"))
    val svc = GraftService.start(spark, port = 0)
    try {
      q.processAllAvailable()
      val req = s"/similar?dir=${enc(sf())}&probeDoc=7&k=10" +
        s"&indexDir=${enc(s"$root/idx")}&centroidsDir=${enc(s"$ivf/centroids")}"
      val (c1, b1) = get(svc, req)
      assert(c1 == 200 && !b1.contains("\"id\":1000007,"), b1)
      // a copy of the probe under a new id: cosine 1.0, in the probed cell
      emb.filter($"vec_id" === 7L).select(lit(1000007L).as("vec_id"), $"embedding")
        .write.mode("append").parquet(srcDir)
      q.processAllAvailable()
      val runs = new java.io.File(s"$root/idx").listFiles().count(_.getName.startsWith("batch_run="))
      assert(runs == 2, s"expected a second batch_run, found $runs")
      val (c2, b2) = get(svc, req)
      assert(c2 == 200 && b2.contains("\"id\":1000007,"), b2)
      // the build-once layout is untouched by the stream
      assert(get(svc, s"/similar?dir=${enc(sf())}&probeDoc=7&k=10")._2 == b1)
    } finally {
      q.stop()
      svc.close()
    }
  }

  test("a dir refused under pathRoots creates no corpus handle") {
    def enc(s: String) = java.net.URLEncoder.encode(s, "UTF-8")
    val svc = GraftService.start(spark, port = 0, pathRoots = Seq(sf()))
    try {
      assert(get(svc, s"/search?dir=${enc("/etc")}")._1 == 403)
      assert(get(svc, s"/search?dir=${enc(sf() + "/..")}&mode=hybrid&probeDoc=5")._1 == 403)
      assert(get(svc, s"/similar?dir=${enc("/etc")}&probeDoc=7")._1 == 403)
      assert(get(svc, s"/similar?dir=${enc(sf())}&probeDoc=7" +
        s"&indexDir=${enc("/etc")}&centroidsDir=${enc("/etc")}")._1 == 403)
      assert(svc.corpusDirs.isEmpty, svc.corpusDirs)
      assert(get(svc, s"/search?dir=${enc(sf())}")._1 == 200)
      assert(svc.corpusDirs == Set(new java.io.File(sf()).getCanonicalPath), svc.corpusDirs)
    } finally svc.close()
  }
}
