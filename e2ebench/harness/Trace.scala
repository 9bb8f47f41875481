package graft.e2ebench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue, CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed call the benchmark made into a module. Times are epoch ms with
  * a nanosecond-derived fraction, so they line up with Spark's listener
  * event times. `req` groups the spans of one request (0 = none). */
final case class Span(id: Long, name: String, parent: Long, req: Long,
    start: Double, end: Double) {
  def wallMs: Double = end - start
}

/** What Spark did on behalf of one span: jobs, task time, the intervals in
  * which its tasks ran, shuffle bytes written and planning time. */
final class SpanWork {
  var jobs = 0
  var taskMs = 0.0
  var shuffleBytes = 0L
  var planningMs = 0.0
  val taskIntervals = mutable.ArrayBuffer.empty[(Double, Double)]
}

/** In-memory span recorder plus Spark's public listeners.
  *
  * A span sets the local property `graft.e2ebench.span` on the calling
  * thread, so every job Spark submits for that call (including jobs from
  * broadcast and subquery threads, which inherit local properties) carries
  * the span id. Jobs that carry none (the HTTP facade's serving thread)
  * are attributed by time window to `windowed` spans instead. Nothing is
  * recorded before `start()`; a traced run calls it after an untraced
  * stretch of the same workload, so the two give the tracing overhead. */
final class Trace(spark: SparkSession, val requested: Boolean) {
  private val SpanKey = "graft.e2ebench.span"
  private val ExecKey = "spark.sql.execution.id"
  private val MarkKey = "graft.e2ebench.mark"
  private val ids = new AtomicLong(0)
  private val epochNs0 = System.currentTimeMillis() * 1e6 - System.nanoTime()
  val spans = new ConcurrentLinkedQueue[Span]()
  private val stack = ThreadLocal.withInitial[List[Long]](() => Nil)

  // listener-side state (listener bus thread + the reporting thread)
  private val stageJob = new ConcurrentHashMap[Int, Int]()
  private val jobsSeen = new ConcurrentLinkedQueue[(Int, Double, Long, Long)]() // id, start, span, exec
  private val tasks = new ConcurrentLinkedQueue[(Int, Double, Double, Double, Long)]() // job, launch, finish, ms, shuffle
  private val planning = new ConcurrentLinkedQueue[(Long, Double, Double)]() // exec id, start, ms
  private val marks = new ConcurrentHashMap[String, CountDownLatch]()

  def now(): Double = (epochNs0 + System.nanoTime()) / 1e6

  /** Time `body` as a span named `name`. */
  def span[T](name: String, req: Long = 0L)(body: => T): T = {
    if (!enabled) return body
    val id = ids.incrementAndGet()
    val parent = stack.get.headOption.getOrElse(0L)
    val sc = spark.sparkContext
    val prev = sc.getLocalProperty(SpanKey)
    stack.set(id :: stack.get)
    sc.setLocalProperty(SpanKey, id.toString)
    val t0 = now()
    try body
    finally {
      spans.add(Span(id, name, parent, req, t0, now()))
      stack.set(stack.get.tail)
      sc.setLocalProperty(SpanKey, prev)
    }
  }

  private object JobListener extends SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val props = Option(e.properties)
      props.flatMap(p => Option(p.getProperty(MarkKey))) match {
        case Some(m) => Option(marks.get(m)).foreach(_.countDown())
        case None =>
          val span = props.flatMap(p => Option(p.getProperty(SpanKey))).map(_.toLong).getOrElse(0L)
          e.stageIds.foreach(s => stageJob.put(s, e.jobId))
          val exec = props.flatMap(p => Option(p.getProperty(ExecKey))).map(_.toLong).getOrElse(-1L)
          jobsSeen.add((e.jobId, e.time.toDouble, span, exec))
      }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val job = stageJob.getOrDefault(e.stageId, -1)
      val info = e.taskInfo
      val m = Option(e.taskMetrics)
      tasks.add((job, info.launchTime.toDouble, info.finishTime.toDouble,
        info.duration.toDouble, m.map(_.shuffleWriteMetrics.bytesWritten).getOrElse(0L)))
    }
  }

  private object PlanListener extends QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      val ph = qe.tracker.phases.values
      if (ph.nonEmpty)
        planning.add((qe.id, ph.map(_.startTimeMs).min.toDouble, ph.map(_.durationMs).sum.toDouble))
    }
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  @volatile private var on = false
  def enabled: Boolean = on

  /** Attach the listeners and record spans (traced runs only). */
  def start(): Unit = if (requested && !on) {
    spark.sparkContext.addSparkListener(JobListener)
    spark.listenerManager.register(PlanListener)
    on = true
  }

  /** Detach again, for an untraced stretch of a traced run, once the
    * events of the traced stretch have reached the listeners. */
  def stop(): Unit = if (on) {
    settle()
    on = false
    spark.sparkContext.removeSparkListener(JobListener)
    spark.listenerManager.unregister(PlanListener)
  }

  /** Wait until the listener bus has delivered every event posted so far:
    * run a one-task marker job and wait for its start event, which the bus
    * delivers after all earlier ones (both listeners sit on its shared
    * queue). The marker job itself is not recorded. */
  def settle(): Unit = if (enabled) {
    val token = ids.incrementAndGet().toString
    val seen = new CountDownLatch(1)
    marks.put(token, seen)
    val sc = spark.sparkContext
    val prev = sc.getLocalProperty(SpanKey)
    sc.setLocalProperty(SpanKey, null)
    sc.setLocalProperty(MarkKey, token)
    try sc.parallelize(Seq(0), 1).count()
    finally {
      sc.setLocalProperty(MarkKey, null)
      sc.setLocalProperty(SpanKey, prev)
    }
    seen.await(30, TimeUnit.SECONDS)
    marks.remove(token)
  }

  /** Per-span Spark work. Jobs without a span property are charged to the
    * `windowed` span whose interval holds the job's start (only sound when
    * such spans never overlap, e.g. one closed-loop client). */
  def work(windowed: String => Boolean = _ => false): Map[Long, SpanWork] = {
    settle()
    val out = mutable.Map.empty[Long, SpanWork]
    val win = spans.asScala.filter(s => windowed(s.name)).toSeq.sortBy(_.start)
    val winStarts = win.map(_.start).toArray
    def windowFor(t: Double): Long = {
      val i = java.util.Arrays.binarySearch(winStarts, t) match {
        case k if k >= 0 => k
        case k => -k - 2
      }
      if (i >= 0 && t <= win(i).end) win(i).id else 0L
    }
    val jobOwner = mutable.Map.empty[Int, Long]
    val execOwner = mutable.Map.empty[Long, Long]
    jobsSeen.asScala.foreach { case (job, t, span, exec) =>
      val owner = if (span != 0L) span else windowFor(t)
      jobOwner(job) = owner
      if (owner != 0L) {
        out.getOrElseUpdate(owner, new SpanWork).jobs += 1
        if (exec >= 0) execOwner.getOrElseUpdate(exec, owner)
      }
    }
    tasks.asScala.foreach { case (job, l, f, ms, sh) =>
      jobOwner.get(job).filter(_ != 0L).foreach { owner =>
        val w = out.getOrElseUpdate(owner, new SpanWork)
        w.taskMs += ms; w.shuffleBytes += sh; w.taskIntervals += ((l, f))
      }
    }
    // planning that ran no job of a known owner goes to its time window
    planning.asScala.foreach { case (exec, start, ms) =>
      execOwner.get(exec).orElse(Some(windowFor(start)).filter(_ != 0L))
        .foreach(s => out.getOrElseUpdate(s, new SpanWork).planningMs += ms)
    }
    out.toMap
  }

  /** Planning time of every SQL execution seen, span or not. */
  def planningMsAll: Seq[Double] = planning.asScala.map(_._3).toSeq

  /** Part of the span's wall time during which none of its tasks ran. */
  def driverGapMs(s: Span, w: Option[SpanWork]): Double = {
    val iv = w.map(_.taskIntervals.toSeq).getOrElse(Nil)
      .map { case (a, b) => (math.max(a, s.start), math.min(b, s.end)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var busy = 0.0
    var curA = Double.NaN; var curB = Double.NaN
    iv.foreach { case (a, b) =>
      if (curB.isNaN || a > curB) {
        if (!curB.isNaN) busy += curB - curA
        curA = a; curB = b
      } else curB = math.max(curB, b)
    }
    if (!curB.isNaN) busy += curB - curA
    math.max(0.0, s.wallMs - busy)
  }

  def writeSpans(path: String): Unit = {
    val w = new java.io.PrintWriter(path, "UTF-8")
    try spans.asScala.toSeq.sortBy(_.start).foreach { s =>
      w.println(f"""{"id":${s.id},"name":"${s.name}","parent":${s.parent},"req":${s.req},"start":${s.start}%.3f,"end":${s.end}%.3f}""")
    } finally w.close()
  }
}
