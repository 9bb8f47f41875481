package graft.e2ebench

import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** Arguments the runner passes: `--workload`, `--data` (corpus dir),
  * `--landing` (staged ingest ticks), `--requests` (serve request file),
  * `--work` (scratch dir of this run), `--out` (result JSON), `--seconds`,
  * `--trace 0|1`, `--rate` (ingest docs/s), `--alter 0|1` (self-test:
  * alter one output so the correctness check must fail). */
final case class Args(m: Map[String, String]) {
  def apply(k: String): String = m.getOrElse(k, sys.error(s"missing --$k"))
  def double(k: String): Double = apply(k).toDouble
  def flag(k: String): Boolean = m.get(k).contains("1")
}

/** Everything one run reports: metrics, operation counts and check
  * failures. */
final class Result {
  val metrics = mutable.LinkedHashMap.empty[String, Double]
  val failures = mutable.ArrayBuffer.empty[String]
  var attempted = 0L
  var failed = 0L
  def check(ok: Boolean, what: => String): Unit = if (!ok) failures += what
}

final case class Ctx(spark: SparkSession, args: Args, trace: Trace, res: Result) {
  val seconds: Double = args.double("seconds")
  val work: String = args("work")
  val data: String = args("data")
}

object Main {
  def percentile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of no samples")
    val s = xs.sorted
    val r = p / 100.0 * (s.size - 1)
    val lo = math.floor(r).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (r - lo)
  }
  def median(xs: Seq[Double]): Double = percentile(xs, 50)

  /** Seconds since this JVM started. */
  def uptimeS: Double = ManagementFactory.getRuntimeMXBean.getUptime / 1e3

  def gcMs: Double = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(_.getCollectionTime.toDouble).sum

  /** Heap still in use after full collections, MB: what the run retains
    * (state stores, memory sinks, cached blocks), unlike the resident peak,
    * which follows when the collector happened to run. */
  def liveHeapMb: Double = {
    for (_ <- 1 to 3) { System.gc(); Thread.sleep(300) }
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }

  /** Peak resident set of this JVM (VmHWM), MB. */
  def peakRssMb: Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(Double.NaN)
    finally src.close()
  }

  def loadAvg: Double = {
    val src = scala.io.Source.fromFile("/proc/loadavg")
    try src.getLines().next().split(" ")(0).toDouble finally src.close()
  }

  def session(cores: Int, work: String): SparkSession = {
    val s = graft.GraftSession.tune(
      SparkSession.builder().master(s"local[$cores]").appName("e2ebench"),
      shufflePartitions = math.max(4, cores))
      .config("spark.local.dir", s"$work/spark-local")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    graft.GraftSession.ensureRuntimeConfs(s)
    s
  }

  def parse(argv: Array[String]): Args =
    Args(argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") =>
      k.drop(2) -> v }.toMap)

  private def jnum(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.math.BigDecimal.valueOf(d).toPlainString

  private def jstr(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => " "
      case c => c.toString
    } + "\""

  def writeResult(path: String, r: Result, env: Seq[(String, String)]): Unit = {
    val metrics = r.metrics.map { case (k, v) => s"${jstr(k)}:${jnum(v)}" }.mkString(",")
    val fails = r.failures.map(jstr).mkString(",")
    val envJ = env.map { case (k, v) => s"${jstr(k)}:$v" }.mkString(",")
    val json = s"""{"attempted":${r.attempted},"failed":${r.failed},""" +
      s""""metrics":{$metrics},"failures":[$fails],"env":{$envJ}}"""
    java.nio.file.Files.write(java.nio.file.Paths.get(path),
      json.getBytes(java.nio.charset.StandardCharsets.UTF_8))
  }

  def main(argv: Array[String]): Unit = {
    val args = parse(argv)
    val cores = Runtime.getRuntime.availableProcessors
    val loadStart = loadAvg
    val spark = session(cores, args("work"))
    val res = new Result
    val trace = new Trace(spark, args.flag("trace"))
    val ctx = Ctx(spark, args, trace, res)
    val gc0 = gcMs
    try {
      args("workload") match {
        case "curate-batch" => Curate.run(ctx)
        case "serve-search" => Serve.run(ctx)
        case "ingest-stream" => Ingest.run(ctx)
        case w => sys.error(s"unknown workload $w")
      }
      res.metrics("heap_live_mb") = liveHeapMb
      if (trace.requested) {
        trace.start()
        Probes.run(ctx)
        Curate.perQueryLayers(ctx)
      }
    } catch {
      case e: Throwable =>
        res.failures += s"workload aborted: $e"
        e.printStackTrace()
    }
    if (trace.requested) {
      res.metrics("jvm.peak_rss_mb") = peakRssMb
      res.metrics("jvm.gc_ms") = gcMs - gc0
      val plans = trace.planningMsAll
      res.metrics("plans.planning_ms") = if (plans.isEmpty) 0.0 else plans.sum / plans.size
      res.metrics("plans.executions") = plans.size.toDouble
      trace.writeSpans(s"${args("work")}/spans.jsonl")
    }
    val rt = ManagementFactory.getRuntimeMXBean
    val env = Seq(
      "nproc" -> cores.toString,
      "heap_max_mb" -> jnum(Runtime.getRuntime.maxMemory / 1048576.0),
      "loadavg_start" -> jnum(loadStart),
      "loadavg_end" -> jnum(loadAvg),
      "jvm_flags" -> jstr(rt.getInputArguments.asScala.filterNot(_.startsWith("--add-opens"))
        .mkString(" ")),
      "java_version" -> jstr(System.getProperty("java.version")),
      "spark_version" -> jstr(spark.version))
    writeResult(args("out"), res, env)
    spark.stop()
    System.exit(0) // client and server threads must not keep the JVM up
  }
}
