package graft
import org.apache.spark.sql.SparkSession
import graft.queries.QueryDef
import java.lang.management.ManagementFactory
import scala.jdk.CollectionConverters._

object Bench {

  /** JVM environment snapshot. The round-2 driver bench came in ~10x over
    * identical local runs with a bimodal per-query pattern (codegen-heavy
    * queries 10-50x slower, scan-shaped queries unaffected) — the signature
    * of a JIT code-cache / heap / core-count mismatch in the benching JVM,
    * not of the plans. Emitting the actual JVM configuration into the bench
    * JSON makes the next such discrepancy diagnosable from the artifact
    * alone.
    */
  private def envDiag(spark: SparkSession): (String, String) = {
    val rt = Runtime.getRuntime
    val args = ManagementFactory.getRuntimeMXBean.getInputArguments.asScala
    val codeCacheMax = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(p => p.getName.contains("CodeHeap") || p.getName.contains("Code Cache"))
      .map(p => Option(p.getUsage).map(_.getMax).getOrElse(0L)).sum
    val gcMs = ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).sum
    val master = spark.sparkContext.master
    val json =
      s""""env":{"master":"$master","maxHeapMb":${rt.maxMemory / (1 << 20)},""" +
      s""""codeCacheMb":${codeCacheMax / (1 << 20)},"cores":${rt.availableProcessors},""" +
      f""""gcMs":$gcMs,"loadavgStart":$loadAvgAtStart,"loadavg":$loadAvg,"calibSec":$calibSec%.3f}"""
    val human = s"master=$master heap=${rt.maxMemory / (1 << 20)}m " +
      s"codeCache=${codeCacheMax / (1 << 20)}m cores=${rt.availableProcessors} " +
      f"gcMs=$gcMs loadavgStart=$loadAvgAtStart loadavgEnd=$loadAvg calibSec=$calibSec%.3f " +
      s"jvmArgs=${args.filter(a => a.startsWith("-X") || a.startsWith("-Xmx")).mkString(" ")}"
    (json, human)
  }

  /** Fixed CALIBRATION probe — the same data-independent Spark job every
    * round (xxhash64-sum over 400M generated rows, best of 2, measured
    * after warmup), so cross-round trend reads can normalize out BOX
    * drift: round 9's quiet box got uniformly ~1.5× slower across a
    * mid-round reboot and the headline total was unreadable without
    * within-round forensics. A query total divided by calibSec is
    * box-invariant up to scheduler noise. */
  @volatile private var calibSec: Double = -1.0
  private def calibrate(spark: SparkSession): Unit =
    calibSec = (1 to 2).map { _ =>
      val t0 = System.nanoTime()
      // bit_xor, not sum: ANSI mode overflows on summing full-range longs
      spark.range(400000000L).selectExpr("bit_xor(xxhash64(id))").collect()
      (System.nanoTime() - t0) / 1e9
    }.min

  /** Load average sampled BEFORE any query runs (re-sampled after the
    * quiet-gate wait in main). The end-of-run loadavg is dominated by the
    * bench's own local[32] load (an idle box still ends near ~5), so only
    * the start sample distinguishes "another process was competing" from
    * "the bench used the machine it was given". Round-5's apparent 32%
    * regression was exactly this misreading. */
  @volatile private var loadAvgAtStart: Double = loadAvg

  /** 1-minute system load average — a bench JVM on an otherwise-idle
    * 32-core box should see ≲32 once warm; a value far above that means
    * ANOTHER process was competing for the machine during the run and the
    * timings measure contention, not the plans. */
  private def loadAvg: Double =
    try scala.io.Source.fromFile("/proc/loadavg").getLines().next()
      .split(" ").head.toDouble
    catch { case _: Throwable => -1.0 }

  /** Run validity: `contended` = loadBusy || heapMismatch. The round-6
    * official artifact ran with a 91 GiB heap on a loadavg-3.9 box and
    * recorded 7-80x blow-ups that evaporated on a quiet re-run, so a run
    * whose machine was busy at start or whose JVM deviates from the tuned
    * 8 GiB heap is flagged. The two causes are reported apart: every
    * official capture since r07 was contended on heap size alone. */
  def loadBusy(loadAvgStart: Double): Boolean = loadAvgStart > 1.0
  def heapMismatch(heapMb: Long): Boolean = math.abs(heapMb - 8192L) > 512

  /** Only a full-registry, full-machine run at the benchmark scale may take
    * the repo's next `BENCH_local_r<N>.json` slot. Off-scale iteration runs
    * (sf0.001/sf0.01), partial `SPARK_GRAFT_ONLY` runs and runs narrower
    * than the machine keep their full JSON under /tmp: each kind once
    * replaced or took a committed artifact (round 6, round 14, and an
    * 8-core scaling capture as BENCH_local_r15.json). */
  def ledgerDir(sfDir: String, only: Option[Set[String]], cpus: Int, cores: Int): java.io.File =
    if (sfDir.stripSuffix("/").endsWith("sf0.1") && only.isEmpty && cpus >= cores)
      new java.io.File("/root/repo")
    else new java.io.File("/tmp")

  def measure(spark: SparkSession, sfDir: String, picked: Seq[QueryDef]): Seq[Runner.Timing] =
    picked.map(q => Runner.time(spark, q.name)(q.run(spark, sfDir)))

  def main(args: Array[String]): Unit = {
    val sfDir = Runner.sfDir
    // QUIET GATE (round-10 lesson: the checked-in driver bench shipped
    // from a loadavg-8.1 box and inflated tail queries 3-8×): rather than
    // only stamping contended=true after the fact, WAIT — bounded — for
    // the machine to go quiet before measuring anything. A run that
    // starts anyway after the wait budget still carries the honest
    // contended flag, so a quiet artifact is never overwritten silently
    // by a worse one without the flag saying so.
    val quietLimit = sys.env.getOrElse("SPARK_GRAFT_QUIET_LIMIT", "1.0").toDouble
    val quietWaitMs = sys.env.getOrElse("SPARK_GRAFT_QUIET_WAIT_SEC", "600").toLong * 1000L
    val waitT0 = System.currentTimeMillis()
    while (loadAvg > quietLimit &&
        System.currentTimeMillis() - waitT0 < quietWaitMs) {
      System.err.println(f"[bench] box busy: loadavg=$loadAvg%.2f > " +
        f"$quietLimit%.1f — waiting for quiet " +
        s"(${(System.currentTimeMillis() - waitT0) / 1000}s of ${quietWaitMs / 1000}s budget)")
      Thread.sleep(15000L)
    }
    loadAvgAtStart = loadAvg // the sample the contended flag judges
    val spark = Runner.session()
    // calibrate BEFORE the startup banner so no env line ever shows
    // the -1 sentinel
    calibrate(spark)
    System.err.println(s"[bench] ${envDiag(spark)._2}")
    val results = measure(spark, sfDir, Runner.selected())
    // The official run keeps only the TAIL of stdout (2,000 chars); for
    // three rounds the single long JSON line lost its FRONT (metric/value
    // and the first queries) to that window. Three-part fix:
    //   1. the full JSON is WRITTEN to BENCH_local_r<N>.json (see
    //      ledgerDir), so the judge always has complete data;
    //   2. stdout line 1 is the full JSON with "queries" FIRST, so if the
    //      front is truncated the surviving tail still carries total+env;
    //   3. the LAST stdout line is a short self-contained summary object
    //      (always inside any tail window, parseable alone).
    val qs = results.map(t => "\"" + t.name + "\":" + f"${t.warm}%.3f")
      .mkString("{", ",", "}")
    // failed queries carry -1 in "queries" and are excluded from the total
    val total = results.map(_.warm).filter(_ >= 0).sum
    val (envJson0, envHuman) = envDiag(spark)
    val heapMb = Runtime.getRuntime.maxMemory / (1 << 20)
    val (busy, mismatch) = (loadBusy(loadAvgAtStart), heapMismatch(heapMb))
    val contended = busy || mismatch
    if (contended) System.err.println(
      f"[bench] WARNING contended/mistuned run: loadavgStart=$loadAvgAtStart%.2f " +
      s"(want <1), heapMb=$heapMb (want ~8192) — timings measure " +
      "contention, not plans; re-run on a quiet box before comparing")
    val envJson = envJson0.dropRight(1) +
      s""","contended":$contended,"loadBusy":$busy,"heapMismatch":$mismatch}"""
    val errors = results.flatMap(t => t.error.map(t.name -> _))
    val errJson = if (errors.isEmpty) ""
      else errors.map { case (k, e) => "\"" + k + "\":\"" + e + "\"" }
        .mkString(""","errors":{""", ",", "}")
    System.err.println(s"[bench] end $envHuman contended=$contended")
    val localFile = try {
      val repo = ledgerDir(sfDir, Runner.only, Runner.cpus, Runtime.getRuntime.availableProcessors)
      val prior = Option(repo.listFiles).getOrElse(Array.empty[java.io.File])
        .flatMap(f => "^BENCH_r0*(\\d+)\\.json$".r.findFirstMatchIn(f.getName)
          .map(_.group(1).toInt))
      val next = if (prior.isEmpty) 1 else prior.max + 1
      val f0 = new java.io.File(repo, s"BENCH_local_r$next.json")
      // A contended capture must NEVER replace a quiet one (rounds 11+12:
      // the close-out run clobbered the committed quiet artifact with a
      // loadavg-7 capture whose per-query numbers were unusable). If the
      // target already holds a contended:false run and THIS run is
      // contended, divert to a suffixed file — the quiet artifact stays.
      val f =
        if (contended && f0.exists() &&
            java.nio.file.Files.readString(f0.toPath).contains("\"contended\":false"))
          new java.io.File(repo, s"BENCH_local_r${next}_contended.json")
        else f0
      if (f ne f0) System.err.println(
        s"[bench] refusing to overwrite quiet $f0 with a contended run; writing $f")
      java.nio.file.Files.writeString(f.toPath,
        f"""{"metric":"total","value":$total%.3f,"unit":"sec","queries":$qs$errJson,$envJson,"sf":"$sfDir"}%n""")
      f.toString
    } catch { case _: Throwable => "" } // read-only checkout: stdout still carries everything
    println(f"""{"queries":$qs$errJson,"metric":"total","value":$total%.3f,"unit":"sec",$envJson,"sf":"$sfDir"}""")
    println(f"""{"metric":"total","value":$total%.3f,"unit":"sec",$envJson,"sf":"$sfDir","queries_file":"$localFile"}""")
    spark.stop()
  }
}
