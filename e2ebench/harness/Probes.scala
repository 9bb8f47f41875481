package graft.e2ebench

import java.nio.file.{Files, Paths, StandardCopyOption}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.ops.Dedup
import graft.pipeline.{Consolidate, ContentResolver, Enrichers, StandardEnrichers}
import graft.queries.ClusterArtifacts
import graft.sources.{Tables, Warc}

/** Layer probes of a traced run: each module's public function timed alone
  * on a materialized input from this run's own generated data, so every
  * traced run reports every layer. Streaming and service layers come from
  * the workload when it exercises them, otherwise from a small probe run
  * (three ingest ticks; three requests per route). */
object Probes {
  private def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  def run(c: Ctx): Unit = {
    val spark = c.spark
    val dir = c.data
    import spark.implicits._
    c.trace.span("sources.documents_scan")(noop(Tables.documents(spark, dir)))
    // WARC parsing is a pure function over segment bytes; time it in-process
    val segs = Ingest.manifest(c.args("landing")).map(t =>
      Files.readAllBytes(Paths.get(c.args("landing"), t.dir, t.segment)))
    c.trace.span("sources.warc_parse") {
      segs.zipWithIndex.foreach { case (b, i) => Warc.parseAll(s"seg$i", b).size }
    }

    val events = Tables.documents(spark, dir).select(
      lit(graft.model.Command.Create).as("command"), col("doc_id").as("id"),
      lit(1L).as("timestamp"), lit(0L).as("seq"), col("doc_id").cast("string").as("name"),
      struct(col("text").as("path"), lit("inline").as("createdBy")).as("representation"),
      lit(null).cast("struct<values:map<string,string>,createdBy:string>").as("meta"))
      .as[graft.model.DataRecordEvent].localCheckpoint(true)
    c.trace.span("pipeline.consolidate")(noop(Consolidate.batch(events).toDF()))
    val records = Consolidate.batch(events).localCheckpoint(true)
    c.trace.span("pipeline.enrich")(noop(
      Enrichers.enrich(records, StandardEnrichers.all(ContentResolver.default)).toDF()))

    val docs = Tables.documents(spark, dir).select(col("doc_id"), col("text")).localCheckpoint(true)
    c.trace.span("ops.minhash_index")(noop(Dedup.minhashIndex(docs, "doc_id", "text")))
    val sims = Dedup.simhashTable(docs, "doc_id", "text").localCheckpoint(true)
    c.trace.span("ops.simhash_pairs")(noop(Dedup.simhashNearDupPairs(sims, maxHamming = 7, maxDegree = 4)))
    val pairs = Dedup.simhashNearDupPairs(sims, maxHamming = 7, maxDegree = 4).localCheckpoint(true)
    c.trace.span("ops.connected_components")(noop(Dedup.connectedComponents(pairs)))

    // build-once serving indexes: the serve workload built (and timed) them
    // in set-up; elsewhere build them on a copy of the corpus (a new key)
    val served = c.args("workload") == "serve-search"
    val probeDir = if (served) dir else {
      val d = Paths.get(c.work, "probe_corpus")
      Files.createDirectories(d)
      Seq("documents.parquet", "embeddings.parquet").foreach(f =>
        Files.copy(Paths.get(dir, f), d.resolve(f), StandardCopyOption.REPLACE_EXISTING))
      c.trace.span("queries.postings_build")(ClusterArtifacts.postingsIndex(spark, d.toString))
      c.trace.span("queries.ivf_build")(ClusterArtifacts.ivfIndex(spark, d.toString))
      d.toString
    }
    if (!served) serviceProbe(c.copy(args = Args(c.args.m + ("data" -> probeDir))))
    if (c.args("workload") != "ingest-stream") {
      val ticks = Ingest.manifest(c.args("landing")).take(3)
      Ingest.pipeline(c, ticks, 500.0, "probe", () => ())
    }

    val work = c.trace.work()
    val spans = c.trace.spans.asScala.toSeq
    Seq("sources.documents_scan", "sources.warc_parse", "pipeline.consolidate",
      "pipeline.enrich", "ops.minhash_index", "ops.simhash_pairs",
      "ops.connected_components", "queries.postings_build", "queries.ivf_build")
      .filterNot(n => c.res.metrics.contains(s"${n}_ms")).foreach { n =>
      val s = spans.filter(_.name == n).minBy(_.start)
      c.res.metrics(s"${n}_ms") = s.wallMs
      if (n.startsWith("ops."))
        c.res.metrics(s"$n.jobs") = work.get(s.id).map(_.jobs.toDouble).getOrElse(0.0)
    }
  }

  /** Three requests per route against a facade on the probe corpus. */
  private def serviceProbe(c: Ctx): Unit = {
    val svc = graft.service.GraftService.start(c.spark, 0)
    try {
      val reqs = Serve.loadRequests(c.args("requests"))
      val sample = Serve.Routes.flatMap(rt => reqs.filter(_.route == rt).take(3))
      val cl = new Serve.Client(svc.port, c.args("data"), c.trace)
      val done = sample.zipWithIndex.map { case (r, i) => cl.send(r, 1L + i) }
      val cores = Runtime.getRuntime.availableProcessors
      val burst = Serve.closedLoop(c, svc.port, reqs, cores, 0, 0.0, 2 * Serve.CycleLength,
        1000000L)
      c.res.check((done ++ burst).forall(_.status == 200), "service probe: a request failed")
      // one direct call per route keeps the traced run well inside its time limit
      val directMs = sample.groupBy(_.route).map { case (rt, rs) =>
        val t0 = System.nanoTime()
        c.trace.span(s"direct.$rt")(Serve.direct(c, rs.head))
        rt -> Seq((System.nanoTime() - t0) / 1e6)
      }
      Serve.layers(c, done, burst, directMs)
    } finally svc.close()
  }
}
