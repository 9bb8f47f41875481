package graft.e2ebench

import scala.collection.mutable

import graft.sources.Tables

/** curate-batch: the nightly corpus-curation job. Runs a fixed set of
  * registry queries through `SparkEntry.queries`. The first pass, in the
  * fresh session, writes each query's output as parquet (with its oracle
  * SQL, for the runner's DuckDB comparison), as the nightly job would, and
  * ends set-up; warm passes then repeat the set into a noop sink until
  * `seconds` are used, two passes at least. */
object Curate {
  val Queries: Seq[String] = Seq(
    "q8_content_dedup", "q12_minhash_neardup", "q151_crawl_curation")

  def run(c: Ctx): Unit = {
    val spark = c.spark
    val dir = c.data
    val queries = graft.SparkEntry.queries
    // input load doubles as the warm-up of the scan path
    val nDocs = Tables.documents(spark, dir).count()
    Tables.embeddings(spark, dir).count()

    val out = s"${c.work}/outputs"

    /** One pass over the query set; wall ms per query (NaN = failed). */
    def pass(idx: Int): Seq[Double] = Queries.map { q =>
      c.res.attempted += 1
      val t0 = System.nanoTime()
      try {
        c.trace.span(s"queries.$q", req = idx) {
          val w = queries(q)(spark, dir).write.mode("overwrite")
          if (idx == 0) w.parquet(s"$out/$q") else w.format("noop").save()
        }
        (System.nanoTime() - t0) / 1e6
      } catch {
        case e: Exception =>
          c.res.failed += 1
          c.res.failures += s"$q failed: $e"
          Double.NaN
      }
    }

    // the first pass pays codegen and the build-once artifacts, as a
    // nightly job does on every run
    pass(0)
    c.res.metrics("setup_s") = Main.uptimeS
    // two warm passes at least; traced runs alternate untraced and traced
    // ones, the untraced ones being the tracing-overhead baseline
    val deadline = System.nanoTime() + (c.seconds * 1e9).toLong
    val warm = mutable.ArrayBuffer.empty[Seq[Double]]
    val untraced = mutable.ArrayBuffer.empty[Seq[Double]]
    do {
      if (c.trace.requested && warm.size == untraced.size) {
        c.trace.stop()
        untraced += pass(-1)
        c.trace.start()
      }
      warm += pass(warm.size + 1)
    } while (System.nanoTime() < deadline || warm.size + untraced.size < 2)
    val perQuery = warm.flatten.filterNot(_.isNaN).toSeq
    c.res.metrics("p50_ms") = Main.median(perQuery)
    c.res.metrics("rate_per_s") = nDocs / (Main.median(warm.map(_.sum).toSeq) / 1e3)
    c.res.metrics("curate.warm_passes") = warm.size.toDouble
    if (untraced.nonEmpty) c.res.metrics("trace.overhead_pct") =
      100.0 * (Main.median(perQuery) / Main.median(untraced.flatten.filterNot(_.isNaN).toSeq) - 1.0)

    val oracle = graft.SparkEntry.oracleSql
    val w = new java.io.PrintWriter(s"$out/oracle_sql.json", "UTF-8")
    try w.print(Queries.map { q =>
      val sql = oracle.getOrElse(q, sys.error(s"$q has no oracle SQL"))
      s""""$q":${org.json4s.jackson.JsonMethods.compact(org.json4s.JString(sql))}"""
    }.mkString("{", ",", "}"))
    finally w.close()
  }

  /** Per-query driver rounds and time split, medians over the warm passes:
    * jobs, shuffle MB, share of the pass, share of the query's wall with no
    * task running (planning, scheduling, driver collects) and task time per
    * wall ms (parallelism achieved). All 0 on workloads that run none. */
  def perQueryLayers(c: Ctx): Unit = {
    val work = c.trace.work()
    val warmSpans = c.trace.spans.toArray(Array.empty[Span])
      .filter(s => s.name.startsWith("queries.q") && s.req > 0)
    val passWall = warmSpans.groupBy(_.req).values.map(_.map(_.wallMs).sum).toSeq
    val meanPass = if (passWall.isEmpty) 1.0 else passWall.sum / passWall.size
    Queries.foreach { q =>
      val ss = warmSpans.filter(_.name == s"queries.$q").toSeq
      val ws = ss.map(s => work.get(s.id))
      def med(f: (Span, Option[SpanWork]) => Double): Double =
        if (ss.isEmpty) 0.0 else Main.median(ss.zip(ws).map(f.tupled))
      val key = q.takeWhile(_ != '_')
      c.res.metrics(s"queries.$key.jobs") = med((_, w) => w.map(_.jobs.toDouble).getOrElse(0.0))
      c.res.metrics(s"queries.$key.shuffle_mb") =
        med((_, w) => w.map(_.shuffleBytes / 1048576.0).getOrElse(0.0))
      c.res.metrics(s"queries.$key.wall_share") = 100.0 * med((s, _) => s.wallMs) / meanPass
      c.res.metrics(s"queries.$key.gap_share") =
        med((s, w) => 100.0 * c.trace.driverGapMs(s, w) / s.wallMs)
      c.res.metrics(s"queries.$key.parallelism") =
        med((s, w) => w.map(_.taskMs).getOrElse(0.0) / s.wallMs)
    }
  }
}
