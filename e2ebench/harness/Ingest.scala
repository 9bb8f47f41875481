package graft.e2ebench

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener, StreamingQueryProgress}

import graft.sources.DirectoryIngest
import graft.streaming.Streaming

/** ingest-stream: an open-loop generator lands staged ticks (one WARC
  * segment plus one `.txt` file per good document) on a fixed schedule
  * into two landing zones. Four standing queries tail them: the reference's
  * product shape over the `.txt` zone (directory scan → event fold →
  * enrichers → `dataRecords` changelog) and the crawl deployment's dedup,
  * postings and frontier sinks over the WARC zone, each with its own
  * checkpoint. A document is fresh once the slowest of the four holds it. */
object Ingest {
  final case class Tick(dir: String, segment: String, good: Seq[Long], corrupt: Seq[Long])
  final case class Batch(id: Long, endMs: Double, triggerMs: Double, addBatchMs: Double,
      inputRows: Long, stateRows: Long, stateBytes: Long)

  val Sinks: Seq[String] = Seq("records", "dedup", "postings", "frontier")

  def manifest(landing: String): Seq[Tick] = {
    import org.json4s._
    import org.json4s.jackson.JsonMethods
    implicit val fmt: Formats = DefaultFormats
    val src = scala.io.Source.fromFile(s"$landing/manifest.json", "UTF-8")
    try (JsonMethods.parse(src.mkString) \ "ticks").extract[Seq[Tick]] finally src.close()
  }

  /** Progress of every standing query, keyed by sink name. */
  final class Progress(names: () => Map[java.util.UUID, String]) extends StreamingQueryListener {
    val batches = new ConcurrentLinkedQueue[(String, Batch)]()
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p: StreamingQueryProgress = e.progress
      val d = p.durationMs.asScala
      val trig = d.get("triggerExecution").map(_.toDouble).getOrElse(0.0)
      val st = p.stateOperators
      names().get(p.id).foreach { n =>
        batches.add(n -> Batch(p.batchId,
          java.time.Instant.parse(p.timestamp).toEpochMilli + trig, trig,
          d.get("addBatch").map(_.toDouble).getOrElse(0.0), p.numInputRows,
          st.map(_.numRowsTotal).sum, st.map(_.memoryUsedBytes).sum))
      }
    }
    def of(sink: String): Seq[Batch] =
      batches.asScala.collect { case (`sink`, b) => b }.toSeq.sortBy(_.id)
  }

  /** File name → batch id, from the file source's log in a checkpoint. */
  def fileBatches(checkpoint: String): Map[String, Long] = {
    import org.json4s._
    import org.json4s.jackson.JsonMethods
    val dir = Paths.get(checkpoint, "sources", "0")
    if (!Files.isDirectory(dir)) return Map.empty
    Files.list(dir).iterator().asScala.filterNot(_.getFileName.toString.startsWith("."))
      .flatMap(f => Files.readAllLines(f).asScala.drop(1))
      .flatMap { l =>
        val j = JsonMethods.parse(l)
        (j \ "path", j \ "batchId") match {
          case (JString(p), JInt(b)) => Some(p.split('/').last -> b.toLong)
          case _ => None
        }
      }.toMap
  }

  final case class Outcome(freshMs: Seq[Double], rate: Double)

  /** Start the four queries, land tick 0 as warm-up, then the remaining
    * ticks every `intervalMs`; drain, stop, check and measure. */
  def pipeline(c: Ctx, ticks: Seq[Tick], intervalMs: Double, tag: String,
      onReady: () => Unit): Outcome = {
    val spark = c.spark
    val root = s"${c.work}/$tag"
    val landing = c.args("landing")
    val txtZone = s"$root/zone_txt"
    val warcZone = s"$root/zone_warc"
    val pending = s"$root/pending"
    Seq(txtZone, warcZone, pending).foreach(d => Files.createDirectories(Paths.get(d)))
    // stage every tick's files on the landing filesystem so that landing is
    // one rename per file
    val staged: Seq[Seq[(Path, Path)]] = ticks.map { t =>
      val files = Files.list(Paths.get(landing, t.dir)).iterator().asScala.toSeq.sortBy(_.toString)
      files.map { f =>
        val name = f.getFileName.toString
        val zone = if (name.endsWith(".txt")) txtZone else warcZone
        val tmp = Paths.get(pending, s"${t.dir}-$name")
        Files.copy(f, tmp, StandardCopyOption.REPLACE_EXISTING)
        tmp -> Paths.get(zone, name)
      }
    }
    def land(i: Int): Unit = staged(i).foreach { case (from, to) =>
      Files.move(from, to, StandardCopyOption.ATOMIC_MOVE)
    }

    val queryNames = new java.util.concurrent.ConcurrentHashMap[java.util.UUID, String]()
    val progress = new Progress(() => queryNames.asScala.toMap)
    spark.streams.addListener(progress)
    val idExpr = regexp_extract(col("target_uri"), "/doc/([0-9]+)$", 1)
    val ck = (s: String) => Some(s"$root/ckpt_$s")
    val queries: Seq[(String, StreamingQuery)] = Seq(
      "records" -> c.trace.span("streaming.start.records") {
        spark.conf.set("spark.sql.streaming.checkpointLocation", s"$root/ckpt_root")
        Streaming.dataRecords(Streaming.enriched(
          Streaming.consolidate(DirectoryIngest.asEvents(
            DirectoryIngest.scanStream(spark, txtZone))),
          graft.pipeline.StandardEnrichers.all(graft.pipeline.ContentResolver.default)),
          s"records_$tag")
      },
      "dedup" -> c.trace.span("streaming.start.dedup")(Streaming.crawlDedupSink(spark, warcZone,
        s"$root/dedup_idx", s"$root/matches", idExpr = idExpr, checkpointDir = ck("dedup"))),
      "postings" -> c.trace.span("streaming.start.postings")(Streaming.crawlPostingsSink(spark,
        warcZone, s"$root/postings_idx", idExpr = idExpr, checkpointDir = ck("postings"))),
      "frontier" -> c.trace.span("streaming.start.frontier")(Streaming.crawlFrontierSink(spark,
        warcZone, s"$root/frontier_idx", s"$root/frontier", checkpointDir = ck("frontier"))))
    queries.foreach { case (n, q) => queryNames.put(q.id, n) }
    val ckpt = Map("records" -> s"$root/ckpt_root/records_$tag") ++
      Seq("dedup", "postings", "frontier").map(s => s -> s"$root/ckpt_$s")

    val due = mutable.ArrayBuffer.empty[Double]
    val late = mutable.ArrayBuffer.empty[Double]
    try {
      val w0 = c.trace.now()
      land(0); due += w0
      queries.foreach(_._2.processAllAvailable())
      onReady()
      val t0 = c.trace.now() + intervalMs
      val traceTicks = c.trace.requested && tag == "ingest"
      for (i <- 1 until ticks.size) {
        // traced runs alternate ticks with tracing off and on: the untraced
        // ones are the tracing-overhead baseline
        if (traceTicks) { if (i % 2 == 1) c.trace.stop() else c.trace.start() }
        val d = t0 + (i - 1) * intervalMs
        val wait = d - c.trace.now()
        if (wait > 0) Thread.sleep(wait.toLong, ((wait % 1) * 1e6).toInt)
        late += math.max(0.0, c.trace.now() - d)
        c.trace.span("generator.land")(land(i))
        due += d
      }
      if (traceTicks) c.trace.start()
      queries.foreach(_._2.processAllAvailable())
      // progress events arrive through the listener bus; wait until every
      // batch that took a file has reported
      def reported = Sinks.forall { s =>
        val last = fileBatches(ckpt(s)).values.maxOption.getOrElse(-1L)
        progress.of(s).exists(_.id >= last)
      }
      val waitUntil = System.nanoTime() + 30e9.toLong
      while (!reported && System.nanoTime() < waitUntil) Thread.sleep(50)
      queries.foreach(_._2.stop())
      queries.foreach(_._2.awaitTermination(30000))
      spark.streams.removeListener(progress)

      // correctness: the four sinks hold exactly the landed good documents
      import spark.implicits._
      val good = ticks.flatMap(_.good).toSet
      val corrupt = ticks.flatMap(_.corrupt).toSet
      val held: Map[String, Set[Long]] = Map(
        "records" -> spark.table(s"records_$tag").select(col("id")).as[Long].collect().toSet,
        "dedup" -> spark.read.parquet(s"$root/dedup_idx").select(col("id")).as[Long].collect().toSet,
        "postings" -> spark.read.parquet(s"$root/postings_idx/postings")
          .select(col("doc_id")).distinct().as[Long].collect().toSet,
        "frontier" -> spark.read.parquet(s"$root/frontier")
          .select(regexp_extract(col("canon"), "/doc/([0-9]+)$", 1).cast("long"))
          .as[Long].collect().toSet)
      Sinks.foreach { s =>
        val ids = if (c.args.flag("alter") && s == "records") held(s) - good.min else held(s)
        c.res.check(ids == good, s"$tag/$s holds ${ids.size} docs, landed ${good.size}: " +
          s"missing ${(good -- ids).take(5)}, extra ${(ids -- good).take(5)}")
        c.res.check((ids & corrupt).isEmpty, s"$tag/$s holds corrupt records ${(ids & corrupt).take(5)}")
      }
      c.res.attempted += ticks.map(t => t.good.size + t.corrupt.size).sum
      c.res.failed += queries.count(_._2.exception.isDefined)

      // freshness: due time → end of the batch after which every sink holds the doc
      val fb = Sinks.map(s => s -> fileBatches(ckpt(s))).toMap
      val ends = Sinks.map(s => s -> progress.of(s).map(b => b.id -> b.endMs).toMap).toMap
      def heldAt(sink: String, file: String): Double =
        fb(sink).get(file).flatMap(ends(sink).get).getOrElse(Double.NaN)
      val fresh = for {
        i <- 1 until ticks.size
        t = ticks(i)
        id <- t.good
      } yield Seq(heldAt("records", s"$id.txt"), heldAt("dedup", t.segment),
        heldAt("postings", t.segment), heldAt("frontier", t.segment)).max - due(i)
      c.res.check(fresh.forall(f => !f.isNaN), s"$tag: a landed file has no batch in some sink")
      val ok = fresh.filterNot(_.isNaN)
      val lastTick = ticks.size - 1
      val lagEnd = ticks(lastTick).good.map { id =>
        Seq(heldAt("records", s"$id.txt"), heldAt("dedup", ticks(lastTick).segment),
          heldAt("postings", ticks(lastTick).segment),
          heldAt("frontier", ticks(lastTick).segment)).max - due(lastTick)
      }.max
      val timedDocs = ticks.drop(1).map(_.good.size).sum
      val drained = due(lastTick) + lagEnd
      val rate = timedDocs / ((drained - due(1)) / 1e3)
      if (c.trace.enabled) layers(c, progress, root)
      c.res.metrics("streaming.lag_end_ms") = lagEnd
      c.res.metrics("generator.late_ms") = if (late.isEmpty) 0.0 else late.max
      if (traceTicks) {
        val byTick = (1 until ticks.size).flatMap(i => ticks(i).good.map(_ => i)).zip(fresh)
        val (off, on) = byTick.partition(_._1 % 2 == 1)
        c.res.metrics("trace.overhead_pct") =
          100.0 * (Main.median(on.map(_._2)) / Main.median(off.map(_._2)) - 1.0)
      }
      Outcome(ok, rate)
    } finally queries.foreach { case (_, q) => if (q.isActive) q.stop() }
  }

  /** streaming.<sink>.* from the progress events of batches that read input. */
  def layers(c: Ctx, p: Progress, root: String): Unit = {
    val indexDirs = Map("records" -> "", "dedup" -> "dedup_idx",
      "postings" -> "postings_idx/postings", "frontier" -> "frontier_idx")
    Sinks.foreach { s =>
      val bs = p.of(s).filter(_.inputRows > 0)
      def med(f: Batch => Double) = if (bs.isEmpty) 0.0 else Main.median(bs.map(f))
      c.res.metrics(s"streaming.$s.batches") = bs.size.toDouble
      c.res.metrics(s"streaming.$s.batch_p50_ms") = med(_.triggerMs)
      c.res.metrics(s"streaming.$s.batch_max_ms") = if (bs.isEmpty) 0.0 else bs.map(_.triggerMs).max
      c.res.metrics(s"streaming.$s.add_batch_ms") = med(_.addBatchMs)
      c.res.metrics(s"streaming.$s.overhead_ms") = med(b => b.triggerMs - b.addBatchMs)
      val idx = Paths.get(root, indexDirs(s))
      if (s != "records")
        c.res.metrics(s"streaming.$s.index_parts") =
          if (!Files.isDirectory(idx)) 0.0
          else Files.list(idx).iterator().asScala.count(_.getFileName.toString.startsWith("batch_run=")).toDouble
    }
    val last = p.of("records").lastOption
    c.res.metrics("streaming.records.state_rows") = last.map(_.stateRows.toDouble).getOrElse(0.0)
    c.res.metrics("streaming.records.state_mb") = last.map(_.stateBytes / 1048576.0).getOrElse(0.0)
  }

  def run(c: Ctx): Unit = {
    val all = manifest(c.args("landing"))
    val perTick = all.head.good.size + all.head.corrupt.size
    val intervalMs = perTick * 1000.0 / c.args.double("rate")
    val n = 1 + math.max(2, (c.seconds * 1000 / intervalMs).toInt)
    require(all.size >= n, s"landing holds ${all.size} ticks, the run needs $n")
    val o = pipeline(c, all.take(n), intervalMs, "ingest",
      () => c.res.metrics("setup_s") = Main.uptimeS)
    c.res.metrics("p50_ms") = Main.median(o.freshMs)
    c.res.metrics("rate_per_s") = o.rate
  }
}
