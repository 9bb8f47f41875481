package graft

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import java.util.concurrent.atomic.AtomicLong

/** Measurement harness for the optimization rounds (guide §1): times the
  * selected queries under the runner's noop-sink rule and additionally
  * reports, per query, the scheduler shape of the second rep — jobs,
  * stages, tasks, cumulative task time and shuffle bytes — from a
  * SparkListener. A query whose wall time is 2 s on 2 s of task time
  * across 40 stages is paying scheduling rounds, not compute; one with
  * 60 s of task time in 3 stages needs a plan change. `compiles` counts
  * the generated classes Janino compiled during the rep: a warm rep reuses
  * the first rep's classes from the codegen cache, so anything above 0
  * there is a cache that thrashes or code that differs between reps.
  * Usage:
  *   SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 \
  *   SPARK_GRAFT_ONLY=q47_pagerank,q212_authority_quality \
  *   tools/run_graft.sh graft.Profile
  */
object Profile {
  private class Counters extends SparkListener {
    val jobs, stages, tasks, taskMs, gcMs, shufR, shufW = new AtomicLong
    // the compile histogram is JVM-wide, so the counter is its change
    private var compiles0 = 0L
    def compiles: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount - compiles0
    def reset(): Unit = {
      Seq(jobs, stages, tasks, taskMs, gcMs, shufR, shufW).foreach(_.set(0))
      compiles0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    }
    override def onJobStart(j: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    override def onStageCompleted(s: SparkListenerStageCompleted): Unit = stages.incrementAndGet()
    override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
      tasks.incrementAndGet()
      val m = t.taskMetrics
      if (m != null) {
        taskMs.addAndGet(m.executorRunTime)
        gcMs.addAndGet(m.jvmGCTime)
        shufR.addAndGet(m.shuffleReadMetrics.totalBytesRead)
        shufW.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      }
    }
  }

  def main(args: Array[String]): Unit = {
    val spark = Runner.session()
    val c = new Counters
    spark.sparkContext.addSparkListener(c)
    Runner.selected().foreach { q =>
      // reset at the start of every rep, so the counters end holding rep 2
      val t = Runner.time(spark, q.name) { c.reset(); q.run(spark, Runner.sfDir) }
      println(t.error.fold(
        f"${q.name}%-28s wall=${t.warm}%7.2fs jobs=${c.jobs.get}%3d stages=${c.stages.get}%4d " +
        f"tasks=${c.tasks.get}%5d compiles=${c.compiles}%4d taskTime=${c.taskMs.get / 1000.0}%8.2fs " +
        f"gc=${c.gcMs.get / 1000.0}%5.2fs shufR=${c.shufR.get / 1e6}%9.1fMB " +
        f"shufW=${c.shufW.get / 1e6}%9.1fMB (first=${t.cold}%7.2fs)"
      )(e => f"${q.name}%-28s FAILED $e"))
    }
    spark.stop()
  }
}
