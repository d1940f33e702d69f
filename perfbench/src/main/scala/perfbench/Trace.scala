package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed call into a layer of the program. `op` is the id of the
  * root span of the operation (cycle, request, query) it belongs to;
  * `client` is the tag of the thread that opened it. */
final class Span(val id: Long, val name: String, val parent: Option[Span],
                 val session: SparkSession, val client: String) {
  val op: Long = parent.map(_.op).getOrElse(id)
  val startNs: Long = System.nanoTime()
  val startMs: Long = System.currentTimeMillis()
  @volatile var endNs: Long = 0L
  @volatile var endMs: Long = 0L
  def ms: Double = (endNs - startNs) / 1e6
}

/** Everything the listeners saw for one Spark job. */
final class JobRec(val id: Int, val span: Long, val client: String, val submitMs: Long) {
  @volatile var endMs: Long = -1L
  var stages, tasks = 0
  var firstLaunchMs = Long.MaxValue
  var runMs, cpuNs, gcMs, shuffleWrite, spill = 0L
  var inBytes, inRecords, outBytes, outRecords = 0L
}

/** Spans recorded by the benchmark around each call into the program,
  * plus a SparkListener and a QueryExecutionListener that attribute
  * Spark's own accounting to them.
  *
  * A job is attributed to the span that submitted it through the
  * thread-local Spark local property `perfbench.span`, which Spark
  * copies into every job's properties (and child threads inherit).
  * Each benchmark thread also carries a fixed tag, `perfbench.client`,
  * set once when the thread starts; reconciliation uses it and the
  * listener's job times to check the span attribution independently.
  * Catalyst phase times arrive asynchronously per QueryExecution; they
  * are attributed after the run to the innermost span of the same
  * session whose interval contains the phase start. */
object Trace {
  val Prop = "perfbench.span"
  val ClientProp = "perfbench.client"
  @volatile private var on = false
  private val ids = new AtomicLong
  private val current = new ThreadLocal[Span]
  val spans = new ConcurrentLinkedQueue[Span]
  val jobs = new java.util.concurrent.ConcurrentHashMap[Int, JobRec]
  private val stageJob = new java.util.concurrent.ConcurrentHashMap[Int, JobRec]
  /** (session, phase start ms, phase ms) for every Catalyst phase. */
  val phases = new ConcurrentLinkedQueue[(SparkSession, Long, Double)]

  /** Attach the listeners to `spark`'s context and start recording;
    * the calling thread is the client `main`. */
  def start(spark: SparkSession): Unit = {
    spark.sparkContext.addSparkListener(JobListener)
    client(spark, "main")
    on = true
  }

  /** Tag the calling thread (and threads it starts later) as `name`. */
  def client(spark: SparkSession, name: String): Unit =
    spark.sparkContext.setLocalProperty(ClientProp, name)

  /** Register the Catalyst listener on a session (listener managers
    * are per session; `newSession` starts with an empty one). */
  def watch(spark: SparkSession): SparkSession = {
    spark.listenerManager.register(PhaseListener)
    spark
  }

  /** Stopwatch wall of each operation, by root span id (traced only). */
  val walls = new java.util.concurrent.ConcurrentHashMap[Long, Double]

  /** Run one foreground operation under a root span; returns its result
    * and its wall time in ms, measured outside the span. */
  def op[T](name: String, spark: SparkSession)(body: => T): (T, Double) = {
    var root = -1L
    val t0 = System.nanoTime()
    val r = span(name, spark) { if (on) root = current.get.id; body }
    val ms = (System.nanoTime() - t0) / 1e6
    if (root >= 0) walls.put(root, ms)
    (r, ms)
  }

  def span[T](name: String, spark: SparkSession)(body: => T): T =
    if (!on) body
    else {
      val parent = Option(current.get)
      val sc = spark.sparkContext
      val s = new Span(ids.incrementAndGet(), name, parent, spark, sc.getLocalProperty(ClientProp))
      val prev = sc.getLocalProperty(Prop)
      sc.setLocalProperty(Prop, s.id.toString)
      current.set(s)
      try body
      finally {
        s.endNs = System.nanoTime()
        s.endMs = System.currentTimeMillis()
        current.set(parent.orNull)
        sc.setLocalProperty(Prop, prev)
        spans.add(s)
      }
    }

  /** Stop recording and wait until the listener bus has delivered every
    * event posted so far. */
  def drain(spark: SparkSession): Unit = {
    on = false
    val deadline = System.currentTimeMillis() + 10000
    while (jobs.values.asScala.exists(_.endMs < 0) && System.currentTimeMillis() < deadline)
      Thread.sleep(20)
    Thread.sleep(200)
    spark.sparkContext.removeSparkListener(JobListener)
  }

  private object JobListener extends SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val props = Option(e.properties)
      val span = props.flatMap(p => Option(p.getProperty(Prop))).map(_.toLong).getOrElse(-1L)
      val j = new JobRec(e.jobId, span, props.map(_.getProperty(ClientProp)).orNull, e.time)
      jobs.put(e.jobId, j)
      e.stageIds.foreach(s => stageJob.putIfAbsent(s, j))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobs.get(e.jobId)).foreach(_.endMs = e.time)
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      Option(stageJob.get(e.stageInfo.stageId)).foreach(j => j.synchronized(j.stages += 1))
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      Option(stageJob.get(e.stageId)).foreach { j =>
        j.synchronized {
          j.tasks += 1
          j.firstLaunchMs = math.min(j.firstLaunchMs, e.taskInfo.launchTime)
          val m = e.taskMetrics
          if (m != null) {
            j.runMs += m.executorRunTime
            j.cpuNs += m.executorCpuTime
            j.gcMs += m.jvmGCTime
            j.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
            j.spill += m.memoryBytesSpilled + m.diskBytesSpilled
            j.inBytes += m.inputMetrics.bytesRead
            j.inRecords += m.inputMetrics.recordsRead
            j.outBytes += m.outputMetrics.bytesWritten
            j.outRecords += m.outputMetrics.recordsWritten
          }
        }
      }
  }

  private object PhaseListener extends QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      if (on) qe.tracker.phases.values.foreach { p =>
        phases.add((qe.sparkSession, p.startTimeMs, p.durationMs.toDouble))
      }
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  }

  /** Per-span accounting, built once after `drain`. */
  final class Acct {
    var jobs, stages, tasks = 0
    var catalystMs, runMs, cpuMs, gcMs, schedWaitMs = 0.0
    var shuffleWrite, spill, inBytes, inRecords, outBytes, outRecords = 0L
    var selfMs, outsideMs = 0.0
  }

  /** Union length of intervals, in ms. */
  private def unionMs(iv: Seq[(Long, Long)]): Double = {
    var total = 0L; var curS = Long.MinValue; var curE = Long.MinValue
    iv.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) { if (curE > curS) total += curE - curS; curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    if (curE > curS) total += curE - curS
    total.toDouble
  }

  /** Accounting for every recorded span: Spark work attributed to it,
    * its self time (duration minus child spans), and its time outside
    * any of its own jobs. */
  def account(): Map[Long, (Span, Acct)] = {
    val all = spans.asScala.toSeq
    val children = all.filter(_.parent.isDefined).groupBy(_.parent.get.id)
    val acct = all.map(s => s.id -> new Acct).toMap
    val jobsBySpan = jobs.values.asScala.toSeq.filter(j => acct.contains(j.span)).groupBy(_.span)
    // Catalyst phases: innermost span of the same session containing the start.
    val bySession = all.groupBy(s => System.identityHashCode(s.session))
    phases.asScala.foreach { case (sess, t, ms) =>
      bySession.getOrElse(System.identityHashCode(sess), Nil)
        .filter(s => s.session eq sess)
        .filter(s => s.startMs <= t && t <= s.endMs)
        .sortBy(-_.startNs).headOption
        .foreach(s => acct(s.id).catalystMs += ms)
    }
    all.foreach { s =>
      val a = acct(s.id)
      val js = jobsBySpan.getOrElse(s.id, Nil)
      js.foreach { j =>
        a.jobs += 1; a.stages += j.stages; a.tasks += j.tasks
        a.runMs += j.runMs; a.cpuMs += j.cpuNs / 1e6; a.gcMs += j.gcMs
        a.shuffleWrite += j.shuffleWrite; a.spill += j.spill
        a.inBytes += j.inBytes; a.inRecords += j.inRecords
        a.outBytes += j.outBytes; a.outRecords += j.outRecords
        if (j.firstLaunchMs != Long.MaxValue) a.schedWaitMs += math.max(0L, j.firstLaunchMs - j.submitMs)
      }
      val kids = children.getOrElse(s.id, Nil)
      a.selfMs = s.ms - unionMs(kids.map(k => (k.startNs, k.endNs))) / 1e6
      // job intervals clipped to this span's self time (child spans cut out)
      val iv = js.map(j => (j.submitMs, if (j.endMs < 0) s.endMs else j.endMs))
      val inside = iv.map { case (b, e) => (math.max(b, s.startMs), math.min(e, s.endMs)) }
        .filter { case (b, e) => e > b }
      val ownJobMs = unionMs(inside) - kids.map { k =>
        unionMs(inside.map { case (b, e) => (math.max(b, k.startMs), math.min(e, k.endMs)) }
          .filter { case (b, e) => e > b })
      }.sum
      a.outsideMs = math.max(0.0, a.selfMs - ownJobMs)
    }
    all.map(s => s.id -> (s, acct(s.id))).toMap
  }

  /** Whether job `j` is attributed to the span that, by the listener's
    * clock and the submitting thread's tag alone, must have submitted
    * it: a span of the same client whose interval holds the job's
    * submit time and whose child spans do not. A job the span property
    * failed to tag, tagged with a stale span (a thread that inherited
    * the property from an earlier operation), or tagged with the parent
    * of the span that ran it, fails this. Times are whole ms, so a job
    * on a child's boundary ms may belong to either. */
  def attributedRight(j: JobRec, byId: Map[Long, Span], children: Map[Long, Seq[Span]]): Boolean =
    byId.get(j.span).exists { s =>
      s.client == j.client && s.startMs <= j.submitMs && j.submitMs <= s.endMs &&
        !children.getOrElse(s.id, Nil).exists(k => k.startMs < j.submitMs && j.submitMs < k.endMs)
    }
}
