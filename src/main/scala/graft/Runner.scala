package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.queries.{QueryDef, Registry}

/** The rules every graft main shares — Bench, Profile, Verify, PlanDump
  * and ScaleProbe each keep only their own output:
  *   - session: `local[SPARK_GRAFT_CPUS]` (every core by default),
  *     `shufflePartitions = cpus`, WARN logging, one warm-up job;
  *   - selection: `SPARK_GRAFT_ONLY=q12,q13b` over the registry, in name
  *     order (absent = every query);
  *   - timing: two noop-sink reps per query, see [[time]].
  * Running every main through one session rule means the committed plan
  * dumps show the plans that get benched.
  */
object Runner {

  /** Every core by default: the benchmark machine runs local[32], and a small
    * constant fallback would silently bench a quarter of the machine if
    * the variable is ever absent. */
  def cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  def sfDir: String = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

  def only: Option[Set[String]] = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").toSet)

  /** The runtime confs are applied once here, so queries may be called
    * through `QueryDef.run` directly; the warm-up job keeps classloading
    * and codegen compiler startup out of the first measured query. */
  def session(): SparkSession = {
    val spark = GraftSession.tune(
      SparkSession.builder().master(s"local[$cpus]"), shufflePartitions = cpus
    ).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    GraftSession.ensureRuntimeConfs(spark)
    spark.range(1000000).selectExpr("sum(id)").collect()
    spark
  }

  def selected(only: Option[Set[String]] = only): Seq[QueryDef] =
    Registry.all.filter(q => only.forall(_.contains(q.name))).sortBy(_.name)

  /** Seconds per query: `cold` is the first rep, `warm` the faster good
    * rep. A failed rep reads -1, never its (tiny) time-to-failure — a
    * naive parser read those as real times once. `error` is the first
    * failure's exception class. */
  final case class Timing(name: String, cold: Double, warm: Double, error: Option[String])

  /** Runs `query` twice into a noop sink. Not `count()`: that lets
    * Catalyst prune every unused projection column and under-measures
    * narrow compute-heavy queries; the noop write computes every column
    * like Verify does. Two reps because this container shows stochastic
    * multi-× single-task stalls unrelated to the plan. A throw costs this
    * query its times, never the caller's loop. */
  def time(spark: SparkSession, name: String)(query: => DataFrame): Timing = {
    System.err.println(s"[runner] start $name")
    var error = Option.empty[String]
    val reps = (1 to 2).map { _ =>
      val t0 = System.nanoTime()
      val ok =
        try { query.write.format("noop").mode("overwrite").save(); true }
        catch {
          case e: Throwable =>
            System.err.println(s"[runner] FAILED $name: ${e.getClass.getSimpleName}: ${e.getMessage}")
            error = error.orElse(Some(e.getClass.getSimpleName))
            false
        }
      val dt = (System.nanoTime() - t0) / 1e9
      // Each rep replans from the query function, so nothing reuses a
      // prior rep's cached frames or localCheckpoint blocks. Release both
      // eagerly: clearCache never reaches the RDD-level MEMORY_AND_DISK
      // blocks, which otherwise wait for a JVM GC, and across 232 queries
      // the stale blocks squeeze the memory the live query executes in.
      spark.catalog.clearCache()
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(false))
      if (ok) dt else -1.0
    }
    val t = Timing(name, reps.head, reps.filter(_ >= 0).minOption.getOrElse(-1.0), error)
    System.err.println(f"[runner] done $name in ${t.warm}%.1fs (cold ${t.cold}%.1fs)")
    t
  }
}
