package graft

import org.apache.spark.sql.SparkSession

/** Session configuration shared by Verify, Bench, tests and library users.
  *
  * Everything here is sized for the driver's `local[32]` harness but chosen
  * so the same settings generalize to a multi-executor cluster:
  *   - AQE on: runtime coalescing / skew-join splitting replaces hand-tuned
  *     partition counts at 100 TB.
  *   - `nanosAsLong`: the `events` table carries parquet TIMESTAMP(NANOS),
  *     which Spark's vectorized reader does not support natively; reading it
  *     as a nanosecond Long keeps event-time arithmetic exact (no µs
  *     truncation), which the sessionization and interval-join operators
  *     rely on for determinism.
  *   - Generated code is compiled once per JVM, not once per query run.
  *     `spark.sql.codegen.cache.maxEntries` = [[CodegenCacheEntries]] sizes
  *     Spark's JVM-wide LRU cache of compiled classes. Its default of 100
  *     is smaller than one cold q151 (133 compiles at sf0.001), and the
  *     curate loop q8 + q12 + q151 compiles about 185, so at 100 every
  *     warm pass recompiled all of them (179 per pass). 1024 holds the
  *     loop and the three serving routes (lexical 89, hybrid 51, `/similar`
  *     about 10 classes on a cold corpus) several times over; a class
  *     compiled for the driver and again for the tasks takes two entries.
  *     A retained class costs about 22 KB of heap (the curate loop's 192
  *     classes held 4.1 MB on the benchmark's 2,000-document corpus), so a
  *     full cache holds about 22 MB. The conf is static: Spark reads it
  *     once per JVM, when its codegen cache is first initialized, from
  *     the session active on the compiling thread ([[initCodegenCache]]).
  *     [[ensureRuntimeConfs]] cannot apply it to a session built
  *     elsewhere, which keeps 100.
  *   - `spark.sql.codegen.useIdInClassName` = false: every whole-stage
  *     class is named `GeneratedIterator`, not after its stage id. AQE
  *     numbers the stages of a query in the order they are planned, which
  *     varies from run to run, so identical code under another number
  *     missed the cache; the stage id stays in the generated source's
  *     comment.
  */
object GraftSession {

  /** Generated classes the JVM-wide codegen cache keeps (see the object doc). */
  val CodegenCacheEntries = 1024

  /** Apply the standard graft tuning to an existing builder. */
  def tune(b: SparkSession.Builder, shufflePartitions: Int = 32): SparkSession.Builder =
    b.config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      // AQE is disabled INSIDE cached plans unless this is on, so every
      // persist() in the iterative kernels (PageRank/HITS/CC edge and
      // node tables) froze the full spark.sql.shuffle.partitions count
      // into the cache, and every downstream stage paid one task per
      // frozen partition per iteration. With it on, AQE right-sizes the
      // cached plan's output by bytes — the scale-adaptive behavior this
      // session already asks for everywhere else (measured: directed
      // PageRank 2.9 s → 0.9 s at sf0.1; only partitioning changes,
      // never values).
      .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.parquet.filterPushdown", "true")
      .config("spark.sql.codegen.cache.maxEntries", CodegenCacheEntries.toString)
      .config("spark.sql.codegen.useIdInClassName", "false")
      .config("spark.serializer", "org.apache.spark.serializer.KryoSerializer")
      .config("spark.ui.enabled", "false")
      // Straggler mitigation for CLUSTER deployments: speculative
      // re-launch of the slowest quartile. NOTE: a no-op under local[N]
      // (TaskSchedulerImpl only starts the speculation thread when
      // !isLocal), so it cannot mask local measurements; on a real
      // cluster it engages. All graft tasks are either pure or idempotent
      // side-effect writers, so duplicate attempts are safe.
      .config("spark.speculation", "true")
      .config("spark.speculation.multiplier", "3")
      .config("spark.speculation.quantile", "0.75")
      // bucketed-table layouts (sources.Bucketing) need a writable
      // warehouse; keep it out of the working tree
      .config("spark.sql.warehouse.dir",
        s"${System.getProperty("java.io.tmpdir")}/graft_warehouse")

  /** Standalone session for tests / ad-hoc runs. */
  def local(threads: Int = 4): SparkSession = {
    val s = tune(
      SparkSession.builder().master(s"local[$threads]").appName("graft"),
      shufflePartitions = math.max(4, threads)
    ).getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    initCodegenCache(s)
    s
  }

  /** Spark sizes the codegen cache from `SQLConf.get` on the thread that
    * first compiles generated code, and a thread with no active session
    * reads Spark's defaults there: when a JVM's first compile was an
    * encoder built on an HTTP serving thread, the tuned session kept 100
    * entries. Initializing the cache here, with `spark` active, gives it
    * the session's size; once the JVM has compiled, it changes nothing. */
  def initCodegenCache(spark: SparkSession): Unit = {
    val prev = SparkSession.getActiveSession
    SparkSession.setActiveSession(spark)
    try Class.forName("org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator$")
    finally prev.fold(SparkSession.clearActiveSession())(SparkSession.setActiveSession)
  }

  /** Defensive runtime re-apply for sessions we did not build (the driver
    * may hand `SparkEntry.queries` a vanilla session). All of these confs
    * are runtime-settable SQLConfs; the static codegen cache size of
    * [[tune]] is not among them.
    */
  def ensureRuntimeConfs(spark: SparkSession): SparkSession = {
    initCodegenCache(spark)
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    // see tune(): one class name for every whole-stage codegen stage
    spark.conf.set("spark.sql.codegen.useIdInClassName", "false")
    // see tune(): lets AQE right-size cached-plan output partitioning
    spark.conf.set(
      "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
    // Iterative operators (connected components, PageRank) materialize a
    // per-round checkpoint, and eager checkpoints keep whatever partition
    // count the shuffle produced — AQE coalescing does not reach across
    // the checkpoint boundary. On a vanilla session the 200-partition
    // default made the 3-iteration PageRank ~11× slower (40 s vs 3.6 s at
    // sf0.1 on 32 cores: per-task overhead × tiny partitions × rounds).
    // Resize only if still at Spark's literal default so an explicitly
    // tuned session keeps its choice.
    if (spark.conf.get("spark.sql.shuffle.partitions") == "200")
      spark.conf.set("spark.sql.shuffle.partitions",
        math.max(4, Runtime.getRuntime.availableProcessors).toString)
    // Optimizer upgrade for plain `max_by`: rewrite to the hash-aggregable
    // native argmax (see graft.plans.RewriteMaxBy). extraOptimizations is
    // runtime-mutable, so vanilla sessions get it too; guard against
    // double registration on repeated ensure calls.
    //
    // API NOTE (session-wide side effect): this mutates the optimizer of
    // the WHOLE session, including queries a library user runs outside
    // graft — semantics are preserved (same winners modulo max_by's
    // documented tie nondeterminism; -0.0/0.0 orderings tie exactly like
    // Spark SQL comparison, see ArgMaxByOrd.cmp), but a user who wants a
    // pristine optimizer can set spark.graft.rewriteMaxBy=false before
    // the first graft call.
    val rewriteEnabled = spark.conf
      .getOption("spark.graft.rewriteMaxBy").forall(_.toBoolean)
    if (rewriteEnabled &&
        !spark.experimental.extraOptimizations.contains(graft.plans.RewriteMaxBy))
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations :+ graft.plans.RewriteMaxBy
    val boundedLevEnabled = spark.conf
      .getOption("spark.graft.rewriteBoundedLev").forall(_.toBoolean)
    if (boundedLevEnabled && !spark.experimental.extraOptimizations
        .contains(graft.plans.RewriteBoundedLevenshtein))
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations :+ graft.plans.RewriteBoundedLevenshtein
    spark
  }
}
