package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared session: one local SparkSession per JVM across suites. */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.session
  def sf(path: String = "sf0.001"): String = s"/root/testdata/$path"

  /** Pre-action snapshot of registered persistent RDD ids — pair with
    * [[assertNoLeakedBlocks]] so a block leaked by an EARLIER suite (the
    * session is JVM-shared) is not misattributed to this test. */
  def snapshotBlocks(): Set[Int] = spark.sparkContext.getPersistentRDDs.keySet.toSet

  /** Session-lifetime cache postcondition: after an operator's action
    * completes and its result frame is dropped, no persisted RDD blocks
    * NEWLY REGISTERED since `baseline` may remain. Explicit persists must
    * be unpersisted by the operator itself (the Graph/bigramLm lesson);
    * eager localCheckpoint blocks are released by the ContextCleaner once
    * unreferenced, which GC forces here. Zero-cost on the (common)
    * already-clean path. */
  def assertNoLeakedBlocks(clue: String, baseline: Set[Int] = Set.empty,
      timeoutMs: Long = 30000): Unit = {
    val sc = spark.sparkContext
    def leaked = sc.getPersistentRDDs.filter(kv => !baseline.contains(kv._1))
    val deadline = System.currentTimeMillis + timeoutMs
    while (leaked.nonEmpty && System.currentTimeMillis < deadline) {
      System.gc()
      Thread.sleep(100)
    }
    val left = leaked
    assert(left.isEmpty, s"$clue leaked ${left.size} persisted RDD(s): " +
      left.values.take(5).map(_.toString).mkString("; "))
  }

  /** Spark jobs started while `body` runs, streaming micro-batches
    * excluded. The listener bus delivers events in order, so a marker job
    * run before and after `body` fences the count: once the marker's
    * start event arrives, every job started before it has been counted. */
  def jobsOf(body: => Unit): Int = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val markKey = "graft.test.jobMark"
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    @volatile var mark: (String, java.util.concurrent.CountDownLatch) = null
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val m = Option(e.properties).map(_.getProperty(markKey)).orNull
        if (m != null) { val cur = mark; if (cur != null && cur._1 == m) cur._2.countDown() }
        // micro-batches of a stream another suite left running are not ours
        else if (Option(e.properties).forall(_.getProperty("sql.streaming.queryId") == null))
          jobs.incrementAndGet()
      }
    }
    def settle(): Unit = {
      val token = java.util.UUID.randomUUID().toString
      val latch = new java.util.concurrent.CountDownLatch(1)
      mark = (token, latch)
      val sc = spark.sparkContext
      sc.setLocalProperty(markKey, token)
      try sc.parallelize(Seq(0), 1).count() finally sc.setLocalProperty(markKey, null)
      assert(latch.await(30, java.util.concurrent.TimeUnit.SECONDS), "listener bus did not drain")
    }
    spark.sparkContext.addSparkListener(listener)
    try { settle(); val j0 = jobs.get; body; settle(); jobs.get - j0 }
    finally spark.sparkContext.removeSparkListener(listener)
  }

  /** Generated classes Janino compiled while `body` runs, i.e. misses of
    * the JVM-wide codegen cache. The count is JVM-wide, so a stream
    * another suite left running would add its own compiles. */
  def compilesOf(body: => Unit): Long = {
    import org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME
    val c0 = METRIC_COMPILATION_TIME.getCount
    body
    METRIC_COMPILATION_TIME.getCount - c0
  }
}

object SparkSpec {
  lazy val session: SparkSession = {
    val s = GraftSession.local(threads = 8)
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}
