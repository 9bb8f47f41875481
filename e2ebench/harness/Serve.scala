package graft.e2ebench

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.queries.{ClusterArtifacts, SimilarityQueries, TextQueries}
import graft.service.GraftService

/** serve-search: `GraftService` over the generated corpus, driven by
  * closed-loop HTTP clients through a seeded request mix: one client for
  * half of `seconds` (two route cycles at least), then one client per core
  * for the other half (three cycles at least). Every response must equal
  * the direct in-process call for the same request. */
object Serve {
  final case class Req(route: String, query: String)
  final case class Done(req: Req, id: Long, status: Int, body: String, start: Double, ms: Double)

  /** The request file repeats these routes in this order (`gen.py`). */
  val Routes: Seq[String] = Seq("lex", "hybrid", "similar")
  val CycleLength: Int = Routes.size

  def loadRequests(path: String): IndexedSeq[Req] = {
    import org.json4s._
    import org.json4s.jackson.JsonMethods
    val src = scala.io.Source.fromFile(path, "UTF-8")
    val reqs = try src.getLines().map { l =>
      val JObject(f) = JsonMethods.parse(l)
      val m = f.collect { case (k, JString(v)) => k -> v }.toMap
      Req(m("route"), m("query"))
    }.toIndexedSeq finally src.close()
    require(reqs.indices.forall(i => reqs(i).route == Routes(i % CycleLength)),
      s"$path does not cycle through ${Routes.mkString(", ")}")
    reqs
  }

  final class Client(port: Int, dir: String, trace: Trace) {
    private val http = HttpClient.newHttpClient()
    private val dirParam = java.net.URLEncoder.encode(dir, "UTF-8")
    def send(r: Req, reqId: Long): Done = {
      val uri = URI.create(s"http://127.0.0.1:$port${r.query}&dir=$dirParam")
      val t0 = trace.now()
      val n0 = System.nanoTime()
      val resp = trace.span(s"service.${r.route}", reqId) {
        http.send(HttpRequest.newBuilder(uri).timeout(java.time.Duration.ofSeconds(60)).GET().build(),
          HttpResponse.BodyHandlers.ofString())
      }
      Done(r, reqId, resp.statusCode(), resp.body(), t0, (System.nanoTime() - n0) / 1e6)
    }
  }

  /** `clients` clients in a closed loop: each sends its next request only
    * when its previous one answered. Requests are issued in whole route
    * cycles, from request number `first` of the file on, until `seconds`
    * have passed and `minRequests` were issued, so every run samples the
    * same route mix. With `toggle` (one client) every second cycle runs
    * untraced. */
  def closedLoop(c: Ctx, port: Int, reqs: IndexedSeq[Req], clients: Int, first: Int,
      seconds: Double, minRequests: Int, reqBase: Long, toggle: Boolean = false): Seq[Done] = {
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    val lock = new Object
    var issued = 0
    var stopped = false
    /** The next request number, or -1 once the loop has stopped. */
    def claim(): Int = lock.synchronized {
      if (issued % CycleLength == 0 && issued >= minRequests && System.nanoTime() >= deadline)
        stopped = true
      if (stopped) -1 else { issued += 1; issued - 1 }
    }
    val done = new java.util.concurrent.ConcurrentLinkedQueue[Done]()
    val threads = (0 until clients).map { _ =>
      val t = new Thread(() => {
        val cl = new Client(port, c.data, c.trace)
        var i = claim()
        while (i >= 0) {
          if (toggle && i % CycleLength == 0) {
            if ((i / CycleLength) % 2 == 0) c.trace.stop() else c.trace.start()
          }
          val r = reqs((first + i) % reqs.size)
          done.add(try cl.send(r, reqBase + i) catch {
            case e: Exception => Done(r, reqBase + i, -1, e.toString, c.trace.now(), Double.NaN)
          })
          i = claim()
        }
      })
      t.start(); t
    }
    threads.foreach(_.join())
    done.asScala.toSeq
  }

  // ---------------------------------------------------------------- direct

  private def param(q: String, k: String): Option[String] =
    q.dropWhile(_ != '?').drop(1).split("&").map(_.split("=", 2)).collectFirst {
      case Array(`k`, v) => java.net.URLDecoder.decode(v, "UTF-8")
    }

  /** The route's ranking computed in-process, serialized as the facade
    * serializes it (the route's composition, no HTTP). */
  def direct(c: Ctx, r: Req): String = {
    val spark = c.spark
    val dir = c.data
    lazy val terms = param(r.query, "q").get.trim.toLowerCase.split("\\s+").toSeq.distinct
    lazy val probe: (Seq[Long], Long) = {
      val id = param(r.query, "probeDoc").get.toLong
      val v = graft.sources.Tables.embeddings(spark, dir).filter(col("vec_id") === id)
        .select(graft.ops.Similarity.quantize(col("embedding"))).collect()
      (v.head.getSeq[Long](0), id)
    }
    val out: DataFrame = r.route match {
      case "lex" =>
        val idx = ClusterArtifacts.postingsIndex(spark, dir)
        TextQueries.attachSnippets(spark, dir,
            graft.ops.TextSearch.bm25TopKIndexed(spark, idx, terms, TextQueries.Bm25K), terms)
          .select(col("doc_id"), col("score_e12"), col("hit_pos"), col("snippet"))
          .orderBy(col("score_e12").desc, col("doc_id").asc)
          .limit(20)
      case "hybrid" =>
        val idx = ClusterArtifacts.postingsIndex(spark, dir)
        val lex = graft.ops.TextSearch.bm25TopKIndexed(spark, idx, terms, 100)
        TextQueries.attachSnippets(spark, dir,
            SimilarityQueries.rrfFusionIvfProbe(spark, ClusterArtifacts.ivfIndex(spark, dir),
              lex, probe._1, 3, Some(probe._2), Nil), terms)
          .orderBy(col("rrf_e6").desc, col("doc_id").asc)
          .limit(20)
      case "similar" =>
        import spark.implicits._
        val ivf = ClusterArtifacts.ivfIndex(spark, dir)
        val k = param(r.query, "k").get.toInt
        val top = graft.ops.Similarity.ivfExactTopKMany(
          spark.read.parquet(s"$ivf/index"), spark.read.parquet(s"$ivf/centroids"),
          Seq((0L, probe._1)).toDF("query_id", "q"), k = k + 1, nProbe = 3)
        top.filter(col("id") =!= probe._2)
          .withColumn("rank", row_number().over(
            Window.orderBy(col("cosine").desc, col("id").asc)).cast("long"))
          .filter(col("rank") <= k)
          .select(col("id"), col("rank"), col("cosine"))
    }
    out.toJSON.collect().mkString("[", ",", "]")
  }

  // ------------------------------------------------------------------- run

  def run(c: Ctx): Unit = {
    val spark = c.spark
    val dir = c.data
    val reqs = loadRequests(c.args("requests"))
    val svc = GraftService.start(spark, 0)
    try {
      // build-once serving indexes are part of set-up
      def build(name: String)(f: => String): Unit = {
        val t0 = System.nanoTime()
        f
        c.res.metrics(s"queries.${name}_ms") = (System.nanoTime() - t0) / 1e6
      }
      build("postings_build")(ClusterArtifacts.postingsIndex(spark, dir))
      build("ivf_build")(ClusterArtifacts.ivfIndex(spark, dir))
      // so is the first request of each route, which warms its path
      val cl = new Client(svc.port, dir, c.trace)
      val cold = Routes.zipWithIndex.map { case (rt, i) =>
        cl.send(reqs.find(_.route == rt).get, -1L - i) }
      c.res.metrics("setup_s") = Main.uptimeS
      val cores = Runtime.getRuntime.availableProcessors
      // one client: the latency of a request that waits for no other one.
      // Traced runs alternate route cycles with tracing off and on: the
      // untraced ones are the tracing-overhead baseline
      val single = closedLoop(c, svc.port, reqs, 1, 0, c.seconds / 2, 2 * CycleLength, 0L,
        toggle = c.trace.requested)
      val (base, c1) = single.partition(d => c.trace.requested && (d.id / CycleLength) % 2 == 0)
      c.trace.start()
      // one client per core, continuing the request file: the throughput.
      // With one serving thread a request's latency here is mostly its wait
      // behind the other clients' requests, in an order the server picks
      val c4 = closedLoop(c, svc.port, reqs, cores, single.size, c.seconds / 2, 3 * CycleLength,
        1000000L)
      val all = cold ++ single ++ c4
      c.res.attempted += all.size
      val bad = all.filter(d => d.status != 200)
      c.res.failed += bad.size
      bad.take(3).foreach(d => c.res.failures += s"${d.req.query} -> ${d.status}: ${d.body.take(200)}")
      def lat(ds: Seq[Done]) = ds.filter(_.status == 200).map(_.ms)
      c.res.metrics("p50_ms") = Main.median(lat(c1))
      val c4ok = c4.filter(_.status == 200)
      val c4span = (c4ok.map(d => d.start + d.ms).max - c4ok.map(_.start).min) / 1e3
      c.res.metrics("rate_per_s") = c4ok.size / c4span
      c.res.metrics("serve.c1_requests") = c1.size.toDouble
      c.res.metrics("serve.c4_requests") = c4.size.toDouble
      if (base.nonEmpty) c.res.metrics("trace.overhead_pct") =
        100.0 * (Main.median(lat(c1)) / Main.median(lat(base)) - 1.0)

      // correctness: identical requests must answer identically, and a
      // sample of distinct requests per route must equal the direct call
      val byKey = all.filter(_.status == 200).groupBy(_.req.query)
      byKey.foreach { case (q, ds) =>
        c.res.check(ds.map(_.body).distinct.size == 1, s"$q answered differently across requests")
      }
      val sample = Routes.flatMap(rt => byKey.keys.filter(q => all.exists(d =>
        d.req.query == q && d.req.route == rt)).toSeq.sorted
        .take(if (c.trace.enabled) 3 else 1).map(q => Req(rt, q)))
      val directMs = mutable.Map.empty[String, mutable.ArrayBuffer[Double]]
      sample.foreach { r =>
        val t0 = System.nanoTime()
        val body = c.trace.span(s"direct.${r.route}")(direct(c, r))
        directMs.getOrElseUpdate(r.route, mutable.ArrayBuffer.empty) += (System.nanoTime() - t0) / 1e6
        val http = byKey(r.query).head.body
        val got = if (c.args.flag("alter") && r == sample.head) http.reverse else http
        c.res.check(got == body, s"${r.query}: HTTP response differs from the direct call")
      }
      if (c.trace.enabled) layers(c, c1, c4, directMs.map { case (k, v) => k -> v.toSeq }.toMap)
    } finally svc.close()
  }

  /** service.<route>.* from the single-client phase, where each request's
    * server-side jobs fall inside its own client span. */
  def layers(c: Ctx, c1: Seq[Done], c4: Seq[Done],
      directMs: Map[String, Seq[Double]]): Unit = {
    val work = c.trace.work(_.startsWith("service."))
    val spans = c.trace.spans.asScala.filter(s => s.name.startsWith("service.") && s.req < 1000000L)
    Routes.foreach { rt =>
      val ss = spans.filter(_.name == s"service.$rt").toSeq
      val http = c1.filter(d => d.req.route == rt && d.status == 200).map(_.ms)
      val httpP50 = if (http.isEmpty) Double.NaN else Main.median(http)
      val dP50 = directMs.get(rt).filter(_.nonEmpty).map(Main.median).getOrElse(Double.NaN)
      def med(f: Span => Double) = if (ss.isEmpty) Double.NaN else Main.median(ss.map(f))
      c.res.metrics(s"service.$rt.p50_ms") = httpP50
      c.res.metrics(s"service.$rt.direct_ms") = dP50
      c.res.metrics(s"service.$rt.overhead_ms") = httpP50 - dP50
      c.res.metrics(s"service.$rt.jobs_per_req") = med(s => work.get(s.id).map(_.jobs.toDouble).getOrElse(0.0))
      c.res.metrics(s"service.$rt.planning_ms") =
        if (ss.isEmpty) Double.NaN else ss.map(s => work.get(s.id).map(_.planningMs).getOrElse(0.0)).sum / ss.size
      c.res.metrics(s"service.$rt.driver_gap_ms") = med(s => c.trace.driverGapMs(s, work.get(s.id)))
    }
    val c4ok = c4.filter(_.status == 200).map(_.ms)
    val c1ok = c1.filter(_.status == 200).map(_.ms)
    c.res.metrics("service.c4_p50_ms") = Main.median(c4ok)
    c.res.metrics("service.c4_p90_ms") = Main.percentile(c4ok, 90)
    c.res.metrics("service.queue_wait_ms") = Main.median(c4ok) - Main.median(c1ok)
  }
}
