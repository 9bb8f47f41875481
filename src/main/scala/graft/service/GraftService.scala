package graft.service

import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets
import java.util.concurrent.{ConcurrentHashMap, ExecutorService, Executors, TimeUnit}

import com.sun.net.httpserver.{HttpExchange, HttpServer}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.functions.NativeExpressions
import graft.model.DocumentRepresentation
import graft.sources.Tables
import graft.streaming.Streaming

/** The reference's service facade (service/src/main/kotlin/service.kt:22-80 —
  * a Javalin app: GET `/`, GET `/test`, POST `/startPipeline`, POST
  * `/stopPipeline`, and a `/websocket/datarecord` push channel fed by the
  * pipeline's changelog subscription), re-expressed over the Spark engine
  * with ONLY JDK + Spark-bundled machinery: `com.sun.net.httpserver` for
  * HTTP, json4s (ships with Spark) for request parsing, and
  * `Dataset.toJSON` for response serialization — zero added dependencies.
  *
  * `startPipeline` wires the same pipeline service.kt:85-105 builds:
  * a directory ingestor (A3/A4: streaming binaryFile re-walk) → CREATE
  * events → stateful consolidation fold (A11) → standard enrichers
  * (B1/B4/…) → the `dataRecords` changelog materialized as an in-memory
  * queryable table (A15/A16).
  *
  * Deliberate deviation, documented: the JDK has no server-side
  * WebSocket, so the push channel (service.kt:62-80) becomes an
  * offset-paged poll — `GET /datarecords?sinceId=N&limit=K` returns
  * records with `id > sinceId` ordered by id. Same subscription
  * semantics (client keeps a cursor, replay is cheap because the memory
  * sink IS the changelog), transport is pull instead of push. Responses
  * are driver-side by construction (a facade read), so `limit` is capped:
  * this endpoint serves operators and UIs, not bulk export — bulk
  * consumers read the sink table with Spark directly.
  *
  * Trust boundary: every path-taking param (`dir=`, `scanDirectory=`,
  * `log=`, `indexDir=`, `centroidsDir=`) names a filesystem location the
  * facade will read (or, for scanDirectory, watch) — the reference's
  * stance too (service.kt:53 takes scanDirectory verbatim). The facade
  * is an OPERATOR surface on a trusted network by default; deployments
  * that front it to less-trusted callers pass `pathRoots=` to
  * [[GraftService.start]] and every path param is then confined to
  * those roots (component-wise prefix after normalization, so `..`
  * cannot escape) — anything outside answers 403.
  *
  * Serving: requests run on a fixed pool of one thread per core, so
  * concurrent requests overlap their driver rounds (planning, job
  * scheduling, `collect()`) on the one session; `close()` shuts the pool
  * down. Each pool thread holds the service's session as its active
  * session, and each request's Spark jobs carry the job description
  * `graft <path>` (e.g. `graft /similar`), so a listener can attribute
  * them. `/search` and `/similar` plan over a per-corpus handle: the
  * first request on a corpus dir (after the path check) builds its
  * serving indexes and resolves, once, the corpus tables and both
  * indexes (schema read, partition directories listed) plus two sets of
  * per-corpus constants: the BM25 totals `(n_docs, sdl)` of the postings
  * index and the IVF centroid rows `(cell, cv)`, held on the driver (k ×
  * dim longs; 8 × 64 here). A request then plans only its own data: the
  * lexical ranking is one pruned postings scan, each posting bringing
  * its term's stored `df` and its snippet inputs (first position and
  * ±3-token window) and the totals entering as bound parameters, so a
  * lexical page reads no documents; a hybrid page still joins the
  * documents table for its snippets (see `/search`); and the probe's
  * nearest cells are ranked on the driver, so the IVF
  * read is a static partition filter. The immutable-corpus contract of
  * the build-once artifacts covers the handles too: a mutated corpus
  * needs a restarted service. A streamed index
  * (`/similar?indexDir=&centroidsDir=`) grows, so it and its centroids
  * are read on every request.
  */
final class GraftService private (spark: SparkSession, server: HttpServer,
    pool: ExecutorService, pathRoots: Seq[String]) {

  /** Enforce the configured serving root on a path param (no-op when
    * unconfigured — the trusted-operator default, see class doc). */
  private def checkPath(p: String): String = {
    if (pathRoots.nonEmpty) {
      val abs = java.nio.file.Paths.get(p).toAbsolutePath.normalize
      if (!pathRoots.exists(r => abs.startsWith(
          java.nio.file.Paths.get(r).toAbsolutePath.normalize)))
        throw new GraftService.ForbiddenPath(p)
    }
    p
  }

  /** Actual bound port (ephemeral when started with port 0). */
  def port: Int = server.getAddress.getPort

  @volatile private var running: Option[(String, StreamingQuery)] = None

  /** Resolved build-once relations, one handle per canonical corpus dir. */
  private val corpora = new ConcurrentHashMap[String, GraftService.Corpus]()

  /** The corpus handle of `dir`, resolved on first use. Call only after
    * [[checkPath]]: a refused or failing dir never gets a handle. */
  private def corpus(dir: String): GraftService.Corpus =
    corpora.computeIfAbsent(new java.io.File(dir).getCanonicalPath,
      GraftService.Corpus.resolve(spark, _))

  /** Runs `f` on a serving thread and returns its result (for tests). */
  private[graft] def onServingThread[T](f: => T): T =
    pool.submit(new java.util.concurrent.Callable[T] { def call(): T = f }).get()

  /** Canonical dirs that hold a resolved handle (for tests). */
  private[graft] def corpusDirs: Set[String] = {
    import scala.jdk.CollectionConverters._
    corpora.keySet.asScala.toSet
  }

  /** Stop the HTTP server, any running pipeline and the serving pool. */
  def close(): Unit = {
    stopPipeline()
    server.stop(0)
    pool.shutdown()
    if (!pool.awaitTermination(30, TimeUnit.SECONDS)) pool.shutdownNow()
  }

  private def stopPipeline(): Unit = synchronized {
    running.foreach { case (_, q) => if (q.isActive) q.stop() }
    running = None
  }

  /** service.kt:53-58 — build + run the pipeline for a scan directory.
    * Returns the memory-sink table name serving `/datarecords`. */
  private def startPipeline(scanDirectory: String, name: String,
      glob: String): String = synchronized {
    stopPipeline()
    val events = graft.sources.DirectoryIngest.asEvents(
      graft.sources.DirectoryIngest.scanStream(spark, scanDirectory, glob))
    val consolidated = Streaming.enriched(
      Streaming.consolidate(events),
      graft.pipeline.StandardEnrichers.all(
        graft.pipeline.ContentResolver.default))
    val q = Streaming.dataRecords(consolidated, name)
    running = Some((name, q))
    name
  }

  /** `probeDoc=<vec_id>` (embed by bounded corpus lookup; the id comes
    * back for self-exclusion) or `probe=<64 comma-separated floats>` —
    * the shared probe contract of `/search`'s hybrid leg and `/similar`. */
  private def parseProbe(ps: Map[String, String],
      embeddings: => DataFrame): Option[(Seq[Long], Option[Long])] =
    ps.get("probeDoc").flatMap(s => scala.util.Try {
      val id = s.toLong
      val rows = embeddings
        .filter(NativeExpressions.longIn(col("vec_id"), id))
        .select(graft.ops.Similarity.quantize(col("embedding")))
        .collect()
      if (rows.isEmpty) None
      else Some((rows.head.getSeq[Long](0).toSeq, Some(id)))
    }.toOption.flatten)
      .orElse(ps.get("probe").flatMap(s => scala.util.Try {
        val v = s.split(",").map(x => math.floor(x.trim.toDouble * 1000).toLong).toSeq
        if (v.size == 64) Some((v, None: Option[Long])) else None
      }.toOption.flatten))

  // --------------------------------------------------------- handlers

  private def handle(ex: HttpExchange): Unit = {
    val sc = spark.sparkContext
    sc.setJobDescription(s"graft ${ex.getRequestURI.getPath}")
    val (status, body) =
      try route(ex)
      catch { // reference: service.kt:25 routes exceptions to a printer;
        // a facade must answer, so they become an error payload instead
        case e: GraftService.BadParam =>
          (400, s"""{"error":${GraftService.jstr(e.getMessage)}}""")
        case e: GraftService.ForbiddenPath =>
          (403, s"""{"error":${GraftService.jstr(
            s"path outside the configured serving roots: ${e.getMessage}")}}""")
        case e: Exception =>
          (500, s"""{"error":${GraftService.jstr(e.toString)}}""")
      } finally sc.setJobDescription(null)
    val bytes = body.getBytes(StandardCharsets.UTF_8)
    ex.getResponseHeaders.set("Content-Type", "application/json")
    ex.sendResponseHeaders(status, bytes.length.toLong)
    ex.getResponseBody.write(bytes)
    ex.close()
  }

  private def route(ex: HttpExchange): (Int, String) = {
    val path = ex.getRequestURI.getPath
    val method = ex.getRequestMethod
    (method, path) match {
      case ("GET", "/") => (200, """{"service":"graft"}""")
      case ("GET", "/test") => // service.kt:33 — a sample representation
        (200, GraftService.toJsonRow(spark,
          DocumentRepresentation("path", "test")))
      case ("POST", "/startPipeline") =>
        val body = new String(ex.getRequestBody.readAllBytes(), StandardCharsets.UTF_8)
        val args = GraftService.parseFlat(body)
        args.get("scanDirectory") match {
          case None => (400, """{"error":"scanDirectory required"}""")
          case Some(dir0) =>
            val dir = checkPath(dir0)
            val table = startPipeline(dir,
              args.getOrElse("pipelineName", "testPipeline"),
              args.getOrElse("glob", "*.txt"))
            (200, s"""{"started":${GraftService.jstr(table)}}""")
        }
      case ("POST", "/stopPipeline") =>
        stopPipeline(); (200, """{"stopped":true}""")
      case ("GET", "/search") =>
        // the reference's query surface is its service layer
        // (service.kt:22-80); retrieval end-to-end behind the facade:
        // lexical = q45 BM25 + q143 snippets; hybrid = the q114 RRF
        // fusion, snippets attached the same way. The LEXICAL ranking is
        // served from the STORED term-bucketed postings index (built once
        // per corpus dir, lazily): the request reads its terms' postings
        // once, a scan pruned to their bucket partitions whose rows carry
        // each term's stored df, and the BM25 totals are the handle's
        // constants. Rows are identical to the q143/q114 oracles
        // (bm25TopKIndexed is score-bit-equal to bm25TopK). A lexical
        // request takes its snippets from the same postings: each one
        // stores its term's first position and ±3-token window, and the
        // per-document grouping keeps the earliest hit's
        // (bm25TopKSnippets), so the request reads no documents. A hybrid
        // page still joins `documents(doc_id, text)` (attachSnippets), a
        // scan of the whole table (SCALE.md): its semantic and anchor ids
        // need not have a documents row, the inner join drops those, and
        // the postings cannot tell a missing document from one without a
        // query term. The legs and the snippets plan over the corpus
        // handle.
        val ps = GraftService.parseQuery(ex.getRequestURI.getRawQuery)
        ps.get("dir") match {
          case None => (400, """{"error":"dir required"}""")
          case Some(dir0) =>
            val dir = checkPath(dir0)
            val limit = math.min(
              GraftService.intParam(ps, "limit", 20), GraftService.MaxPageRows)
            // user query terms (`q=spark vector`, URL-decoded by the
            // parser, deduplicated — a repeated term must not double-count
            // df); absent -> the q45/q143 standard term bag
            val userQ = ps.get("q")
              .map(_.trim.toLowerCase.split("\\s+").toSeq.filter(_.nonEmpty).distinct)
              .filter(_.nonEmpty)
            val terms = userQ.getOrElse(graft.queries.TextQueries.Bm25Terms)
            // hybrid's USER probe: `probeDoc=<vec_id>` (embed by lookup;
            // its own corpus row is excluded from the semantic ranking) or
            // `probe=<64 comma-separated floats>`; `nprobe=` widens the
            // IVF cell fan-out (default 3 of 8, the q175-tuned point)
            val probeRequested = ps.contains("probeDoc") || ps.contains("probe")
            val hybridMode = ps.get("mode").contains("hybrid")
            // LAZY and hybrid-gated: the probeDoc lookup is a (pushed-down,
            // bounded) embeddings read — it must run only on the requests
            // whose ranking actually uses it, and only after the cheap
            // validations, never for a lexical request that happens to
            // carry the param
            lazy val probeSpec: Option[(Seq[Long], Option[Long])] =
              parseProbe(ps, corpus(dir).embeddings)
            if (terms.size > 64) (400, """{"error":"at most 64 query terms"}""")
            else if (hybridMode && probeRequested && probeSpec.isEmpty)
              (400, """{"error":"probeDoc must be a known vec_id; probe must be 64 comma-separated numbers"}""")
            else if (userQ.isDefined && hybridMode && !probeRequested)
              // the DEFAULT hybrid semantic leg is the fixed q114 probe —
              // fusing it with arbitrary user terms would silently rank
              // probe-adjacent documents above matching ones; supply
              // probeDoc=/probe= to pick the semantic side explicitly
              (400, """{"error":"mode=hybrid with q= needs probeDoc= or probe= for the semantic leg"}""")
            else {
              val c = corpus(dir)
              def lexTop(k: Int) = graft.ops.TextSearch.bm25TopKIndexed(
                c.postings, c.nDocs, c.sdl, terms, k, graft.ops.TextSearch.PostingsBuckets)
              // `anchors=1` (hybrid only): a THIRD fusion leg — q217's
              // anchor-surrogate BM25 over the build-once anchor-document
              // artifact (what OTHER pages' link text says about each
              // target; the classic web-relevance serving stack is
              // body + vector + anchor, RRF-fused). Ranked by the same
              // total order as the lexical leg; bounded (top-100) before
              // the fusion join. Ignored outside hybrid mode (the
              // stray-param stance of probeDoc on lexical requests).
              val anchorLegs: Seq[(org.apache.spark.sql.DataFrame, String)] =
                if (hybridMode && ps.get("anchors").contains("1")) {
                  import org.apache.spark.sql.expressions.Window
                  val top = graft.ops.TextSearch.bm25TopK(
                    graft.queries.ClusterArtifacts.anchorDocs(spark, dir),
                    "dst", "anchor_text", terms, 100)
                    .withColumn("anchor_rank", row_number().over(
                      Window.orderBy(col("score_e12").desc, col("doc_id").asc))
                      .cast("long"))
                    .select(col("doc_id"), col("anchor_rank"))
                  Seq((top, "anchor_rank"))
                } else Nil
              // the probe resolves here only in hybrid mode — a lexical
              // request ignores a stray probeDoc entirely (no scan)
              val ranked = (ps.get("mode"),
                  if (hybridMode && probeRequested) probeSpec else None) match {
                case (Some("hybrid"), Some((qv, excl))) =>
                  val nProbe = math.min(8, math.max(1,
                    ps.get("nprobe").flatMap(s => scala.util.Try(s.toInt).toOption)
                      .getOrElse(3)))
                  graft.queries.TextQueries.attachSnippets(c.documents,
                    graft.queries.SimilarityQueries.rrfFusionIvfProbe(
                      c.ivfIndex, c.centroids, lexTop(100),
                      qv, nProbe, excl, anchorLegs), terms)
                    .orderBy(col("rrf_e6").desc, col("doc_id").asc)
                case (Some("hybrid"), None) =>
                  graft.queries.TextQueries.attachSnippets(c.documents,
                    graft.queries.SimilarityQueries.rrfFusionFrom(spark, dir,
                      lexTop(100), anchorLegs), terms)
                    .orderBy(col("rrf_e6").desc, col("doc_id").asc)
                case _ =>
                  graft.ops.TextSearch.bm25TopKSnippets(c.postings, c.nDocs, c.sdl, terms,
                      graft.queries.TextQueries.Bm25K, graft.ops.TextSearch.PostingsBuckets)
                    .select(col("doc_id"), col("score_e12"), col("hit_pos"),
                      col("snippet"))
                    .orderBy(col("score_e12").desc, col("doc_id").asc)
              }
              // `diversify=<k>`: MMR re-rank of the fused page (q194's
              // operator, λ = 0.7) — hybrid-with-probe only, because the
              // diversity leg needs the embedding space the probe already
              // committed to; elsewhere the param is ignored (the stray-
              // param stance of probeDoc on lexical requests). The page is
              // bounded (≤ limit ≤ MaxPageRows) before any vector work.
              val diversify = ps.get("diversify")
                .flatMap(s => scala.util.Try(s.toInt).toOption)
                .filter(k => k >= 1 && k <= limit)
              val out = (diversify,
                  if (hybridMode && probeRequested) probeSpec else None) match {
                case (Some(k), Some(_)) =>
                  val page = ranked.limit(limit).localCheckpoint(true)
                  val maxRel = page.agg(
                    max(col("rrf_e6")).cast("double").as("__mx"))
                  val cand = page.join(
                      c.embeddings
                        .select(col("vec_id").as("doc_id"), col("embedding")),
                      Seq("doc_id"))
                    .crossJoin(broadcast(maxRel))
                    .select(col("doc_id"), col("embedding"),
                      (col("rrf_e6").cast("double") / col("__mx")).as("rel"))
                  graft.ops.Similarity
                    .mmrRerank(cand, "doc_id", "embedding", "rel", k, 0.7)
                    .withColumnRenamed("id", "doc_id")
                    .drop("rel")
                    .join(page, Seq("doc_id"))
                    .orderBy(col("rank"))
                case _ => ranked.limit(limit)
              }
              (200, out.toJSON.collect().mkString("[", ",", "]"))
            }
        }
      case ("GET", "/similar") =>
        // ANN serving off the DURABLE IVF index — the vector twin of
        // `/search`'s stored-postings read. Default index = the
        // build-once per-corpus artifact (ClusterArtifacts.ivfIndex);
        // `indexDir=` + `centroidsDir=` point it at a STREAMED
        // incremental index tree instead (Streaming.incrementalAnnSink's
        // batch_run layout, read via annIndexVectors — batch_run never
        // reaches the serving schema, and the cell partitioning prunes
        // the scan to the probed cells). The probe is `probeDoc=<vec_id>`
        // (embed by corpus lookup; its own row is excluded) or
        // `probe=<64 comma-separated floats>`; `k=` result size,
        // `nprobe=` cell fan-out (default 3 of 8, the q175-tuned point),
        // `diversify=<n>` MMR-reranks the page (λ = 0.7, rel =
        // (cosine+1)/2 — the bounded-page contract, as `/search`).
        // Results are the q79 batched-probe rows for the same corpus:
        // ServiceSpec pins ingest → index → HTTP query bit-equality.
        val ps = GraftService.parseQuery(ex.getRequestURI.getRawQuery)
        ps.get("dir") match {
          case None => (400, """{"error":"dir required"}""")
          case Some(dir0) =>
            val dir = checkPath(dir0)
            val k = math.min(math.max(1,
              ps.get("k").flatMap(s => scala.util.Try(s.toInt).toOption)
                .getOrElse(10)), GraftService.MaxPageRows)
            val nProbe = math.min(8, math.max(1,
              ps.get("nprobe").flatMap(s => scala.util.Try(s.toInt).toOption)
                .getOrElse(3)))
            // the build-once layout plans over the corpus handle; a
            // streamed index grows, so it and its centroids are read on
            // every request (and need no handle)
            val streamed = for (i <- ps.get("indexDir"); c <- ps.get("centroidsDir"))
              yield (checkPath(i), checkPath(c))
            lazy val handle = corpus(dir)
            def embeddings =
              if (streamed.isEmpty) handle.embeddings else Tables.embeddings(spark, dir)
            parseProbe(ps, embeddings) match {
              case None =>
                (400, """{"error":"probeDoc must be a known vec_id; probe must be 64 comma-separated numbers"}""")
              case Some((qv, excl)) =>
                val (index, cents) = streamed match {
                  case Some((i, c)) => (Streaming.annIndexVectors(spark, i),
                    graft.ops.Similarity.ivfCentroidRows(spark.read.parquet(c)))
                  case None => (handle.ivfIndex, handle.centroids)
                }
                // ivfExactTopKMany's ranking for one probe, self excluded
                val page = graft.ops.Similarity.ivfProbeTopK(index, cents, qv, nProbe, k, excl)
                val diversify = ps.get("diversify")
                  .flatMap(s => scala.util.Try(s.toInt).toOption)
                  .filter(n => n >= 1 && n <= k)
                val out = diversify match {
                  case Some(n) =>
                    // bounded page → MMR; vectors resolve from the corpus
                    // (page ids ARE corpus vec_ids for every index layout)
                    val cand = page.localCheckpoint(true)
                      .join(embeddings
                        .select(col("vec_id").as("id"), col("embedding")),
                        Seq("id"))
                      .select(col("id"), col("embedding"),
                        ((col("cosine") + 1.0) / 2.0).as("rel"))
                    graft.ops.Similarity
                      .mmrRerank(cand, "id", "embedding", "rel", n, 0.7)
                      .drop("rel")
                  case None => page
                }
                (200, out.toJSON.collect().mkString("[", ",", "]"))
            }
        }
      case ("GET", "/media") =>
        // the MEDIA FEATURE STORE behind the facade — the decode-once
        // artifacts (queries/MediaArtifacts.scala) served two ways:
        // `id=<media_id>&modality=image|audio|video` is a POINT READ of
        // one artifact (pushed-down FileScan on media_id — a video id
        // returns its per-frame rows); without `id`, the q220 dataset
        // card (per-modality×source census), optionally filtered by
        // `modality=`/`source=`. Features only, never bytes: the codec
        // does not run on any serving path.
        val ps = GraftService.parseQuery(ex.getRequestURI.getRawQuery)
        ps.get("dir") match {
          case None => (400, """{"error":"dir required"}""")
          case Some(dir0) =>
            val dir = checkPath(dir0)
            val modality = ps.get("modality")
            ps.get("id").map(s => scala.util.Try(s.toLong).toOption) match {
              case Some(None) => (400, """{"error":"id must be a number"}""")
              case Some(Some(id)) =>
                val feats = modality match {
                  case Some("image") =>
                    Some(graft.queries.MediaArtifacts.imageDocFeatures(spark, dir))
                  case Some("audio") =>
                    Some(graft.queries.MediaArtifacts.audioDocFeatures(spark, dir))
                  case Some("video") =>
                    Some(graft.queries.MediaArtifacts.videoDocFrames(spark, dir))
                  case _ => None
                }
                feats match {
                  case None =>
                    (400, """{"error":"id= needs modality=image|audio|video"}""")
                  case Some(f) =>
                    val rows = f.filter(col("media_id") === id)
                      .limit(GraftService.MaxPageRows)
                      .toJSON.collect()
                    (200, rows.mkString("[", ",", "]"))
                }
              case None =>
                var census = graft.queries.SimilarityQueries.mediaCensus(spark, dir)
                modality.foreach(m => census = census.filter(col("modality") === m))
                ps.get("source").foreach(s =>
                  census = census.filter(col("source") === s))
                (200, census.limit(GraftService.MaxPageRows)
                  .toJSON.collect().mkString("[", ",", "]"))
            }
        }
      case ("GET", "/attributes") =>
        // the CURATION DECISION LOG behind the facade (Dolma ships its
        // "attributes" files for exactly this read): the durable verdict
        // table [[graft.streaming.Streaming.incrementalCurationLogSink]]
        // maintains, served two ways — `id=<doc>` is a point read of one
        // document's verdict (pushed-down FileScan); without `id`, an
        // id-cursor page (`sinceId=`, the /datarecords contract),
        // optionally filtered by `verdict=`. Why a doc entered or missed
        // the corpus is an operator/appeals question — exactly what a
        // facade read is for; bulk consumers read the log with Spark.
        val ps = GraftService.parseQuery(ex.getRequestURI.getRawQuery)
        ps.get("log") match {
          case None => (400, """{"error":"log required (the sink's logDir)"}""")
          case Some(logDir0) =>
            val logDir = checkPath(logDir0)
            scala.util.Try(graft.streaming.Streaming.curationLogRows(spark, logDir))
              .toOption match {
              case None => (404, """{"error":"no log at that path"}""")
              case Some(rows0) =>
                var rows = rows0
                ps.get("verdict").foreach(v => rows = rows.filter(col("verdict") === v))
                ps.get("id").map(s => scala.util.Try(s.toLong).toOption) match {
                  case Some(None) => (400, """{"error":"id must be a number"}""")
                  case Some(Some(id)) =>
                    (200, rows.filter(col("id") === id)
                      .toJSON.collect().mkString("[", ",", "]"))
                  case None =>
                    val since = GraftService.longParam(ps, "sinceId", -1L)
                    val limit = math.min(GraftService.intParam(ps, "limit", 100),
                      GraftService.MaxPageRows)
                    (200, rows.filter(col("id") > since).orderBy(col("id").asc)
                      .limit(limit).toJSON.collect().mkString("[", ",", "]"))
                }
            }
        }
      case ("GET", "/selection") =>
        // the q223 SELECTION MANIFEST behind the facade — the
        // training-ops twin of `/attributes`: which documents the
        // RHO-style excess-loss criterion selects, and by how much
        // (ref vs current-model surprisal). Served from the build-once
        // artifact ([[graft.queries.CurationArtifacts.rhoManifest]] —
        // a 50-row FileScan per request, never a corpus re-score);
        // `id=<doc>` is a point read of one document's selection row.
        val ps = GraftService.parseQuery(ex.getRequestURI.getRawQuery)
        ps.get("dir") match {
          case None => (400, """{"error":"dir required"}""")
          case Some(dir0) =>
            val dir = checkPath(dir0)
            val rows = graft.queries.CurationArtifacts.rhoManifest(spark, dir)
            ps.get("id").map(s => scala.util.Try(s.toLong).toOption) match {
              case Some(None) => (400, """{"error":"id must be a number"}""")
              case Some(Some(id)) =>
                (200, rows.filter(col("doc_id") === id)
                  .toJSON.collect().mkString("[", ",", "]"))
              case None =>
                val limit = math.min(GraftService.intParam(ps, "limit", 50),
                  GraftService.MaxPageRows)
                (200, rows.limit(limit)
                  .toJSON.collect().mkString("[", ",", "]"))
            }
        }
      case ("GET", "/datarecords") =>
        running match {
          case None => (409, """{"error":"no pipeline running"}""")
          case Some((table, q)) =>
            val ps = GraftService.parseQuery(ex.getRequestURI.getRawQuery)
            val sinceId = GraftService.longParam(ps, "sinceId", Long.MinValue)
            val limit = math.min(GraftService.intParam(ps, "limit", 100),
              GraftService.MaxPageRows)
            // drain pending files first so a poll after a write observes it
            // (the reference's push channel had no read-your-writes gap)
            q.processAllAvailable()
            val rows = spark.table(table)
              .filter(col("id") > sinceId)
              .orderBy(col("id"))
              .limit(limit)
              .toJSON.collect()
            (200, rows.mkString("[", ",", "]"))
        }
      case _ => (404, """{"error":"not found"}""") // service.kt:26
    }
  }
}

object GraftService {

  /** Page cap for the facade read — keeps the driver-side collect a
    * bounded serving read, never a bulk-export path. */
  val MaxPageRows: Int = 10000

  /** Lazily-built per-corpus postings index for `/search` — shared with
    * the batch retrieval queries (q45/q143/q214/q114), so the build
    * lives with the other build-once artifacts
    * ([[graft.queries.ClusterArtifacts.postingsIndex]]); this is the
    * serving-facade alias. Immutable-corpus cache contract: a mutated
    * corpus needs the index dir removed. */
  private[graft] def postingsIndexFor(spark: SparkSession, dir: String): String =
    graft.queries.ClusterArtifacts.postingsIndex(spark, dir)

  /** Lazily-built per-corpus IVF index for the hybrid `/search` semantic
    * leg ([[graft.queries.ClusterArtifacts.ivfIndex]] — the
    * q15c/q79/q163/q175 build). Same immutable-corpus cache contract as
    * [[postingsIndexFor]]. */
  private[graft] def ivfIndexFor(spark: SparkSession, dir: String): String =
    graft.queries.ClusterArtifacts.ivfIndex(spark, dir)

  /** One corpus's build-once relations, each resolved once (schema read,
    * partition directories listed) so a request only plans over them —
    * the corpus tables, the postings index ([[postingsIndexFor]]) and the
    * IVF index ([[ivfIndexFor]]) — and its constants, read once: the BM25
    * totals `nDocs`/`sdl` of the postings index and the IVF centroid
    * rows `(cell, cv)`. */
  private[service] final case class Corpus(documents: DataFrame, embeddings: DataFrame,
      postings: DataFrame, nDocs: Long, sdl: Long, ivfIndex: DataFrame,
      centroids: Seq[(Long, Seq[Long])])

  private[service] object Corpus {
    /** Builds the serving indexes first: a failed build leaves no handle. */
    def resolve(spark: SparkSession, dir: String): Corpus = {
      val idx = postingsIndexFor(spark, dir)
      val ivf = ivfIndexFor(spark, dir)
      val (nDocs, sdl) = graft.ops.TextSearch.indexTotals(spark.read.parquet(s"$idx/stats"))
      Corpus(Tables.documents(spark, dir), Tables.embeddings(spark, dir),
        spark.read.parquet(s"$idx/postings"), nDocs, sdl,
        spark.read.parquet(s"$ivf/index"),
        graft.ops.Similarity.ivfCentroidRows(spark.read.parquet(s"$ivf/centroids")))
    }
  }

  /** Malformed request param — surfaces as a 400, not a 500. */
  private[service] final class BadParam(msg: String)
    extends RuntimeException(msg)

  /** Path param outside the configured serving roots — a 403. */
  private[service] final class ForbiddenPath(path: String)
    extends RuntimeException(path)

  /** Parse an optional int param; garbage is the CALLER's error (400). */
  private[service] def intParam(ps: Map[String, String], name: String,
      default: Int): Int =
    ps.get(name).fold(default)(s => scala.util.Try(s.trim.toInt)
      .getOrElse(throw new BadParam(s"$name must be a number")))

  /** Parse an optional long param; garbage is the CALLER's error (400). */
  private[service] def longParam(ps: Map[String, String], name: String,
      default: Long): Long =
    ps.get(name).fold(default)(s => scala.util.Try(s.trim.toLong)
      .getOrElse(throw new BadParam(s"$name must be a number")))

  /** Start the facade on `port` (0 = ephemeral, for tests).
    * `pathRoots` — when non-empty, every path-taking request param must
    * resolve under one of these directories (403 otherwise); empty (the
    * default) preserves the trusted-operator stance (class doc).
    *
    * Sets `sun.net.httpserver.nodelay=true` unless the JVM already has
    * the property: the JDK server writes a reply's headers and body as two
    * segments, and with Nagle's algorithm the body waits for the
    * client's delayed ACK, about 40 ms per reply. The JDK reads the
    * property once per JVM, when the first `HttpServer` is created, so a
    * server created earlier in the JVM fixes the value for every later
    * one. */
  def start(spark: SparkSession, port: Int = 7000,
      pathRoots: Seq[String] = Nil): GraftService = {
    if (System.getProperty("sun.net.httpserver.nodelay") == null)
      System.setProperty("sun.net.httpserver.nodelay", "true")
    val server = HttpServer.create(new InetSocketAddress(port), 0)
    // one serving thread per core: concurrent requests overlap their
    // driver rounds (planning, scheduling, collect) on the shared session.
    // The HttpServer dispatcher creates these threads and holds no active
    // session to pass on, so each thread makes `spark` its active session
    // (what `SQLConf.get` reads outside an action)
    val threads = new java.util.concurrent.atomic.AtomicInteger()
    val pool = Executors.newFixedThreadPool(Runtime.getRuntime.availableProcessors,
      (r: Runnable) => {
        val t = new Thread(() => { SparkSession.setActiveSession(spark); r.run() },
          s"graft-service-${server.getAddress.getPort}-${threads.incrementAndGet()}")
        t.setDaemon(true)
        t
      })
    val svc = new GraftService(spark, server, pool, pathRoots)
    server.createContext("/", (ex: HttpExchange) => svc.handle(ex))
    server.setExecutor(pool)
    server.start()
    svc
  }

  /** One-row JSON via the engine's own serializer (schema-faithful). */
  private def toJsonRow(spark: SparkSession, repr: DocumentRepresentation): String = {
    import spark.implicits._
    Seq(repr).toDS().toJSON.head()
  }

  /** Parse a flat string→string JSON object (the startPipeline command —
    * reference commands.StartPipeline has only string fields) with the
    * Spark-bundled json4s. */
  private[service] def parseFlat(body: String): Map[String, String] = {
    import org.json4s._
    import org.json4s.jackson.JsonMethods
    if (body.trim.isEmpty) Map.empty
    else JsonMethods.parseOpt(body) match {
      case Some(JObject(fields)) =>
        fields.collect { case (k, JString(v)) => k -> v }.toMap
      case _ => Map.empty
    }
  }

  private[service] def parseQuery(raw: String): Map[String, String] =
    Option(raw).map(_.split("&").toSeq).getOrElse(Seq.empty)
      .flatMap { kv =>
        kv.split("=", 2) match {
          case Array(k, v) =>
            Some(java.net.URLDecoder.decode(k, "UTF-8") ->
              java.net.URLDecoder.decode(v, "UTF-8"))
          case _ => None
        }
      }.toMap

  private def jstr(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
}
