package perfbench

import scala.jdk.CollectionConverters._

import Trace.Acct

/** Turns the recorded spans into per-layer metrics. Every figure is a
  * per-operation value (per cycle, per request, per pass) summarised
  * over the operations of the traced phase, so it does not depend on
  * how many operations fit into the measured time. */
object Layers {

  /** One operation: its root span, the stopwatch wall, every span
    * under it with its accounting, and its reconciliation: the jobs
    * attributed to the wrong span, and the job time in error (those
    * jobs' time plus attributed job time outside its span), ms. */
  final case class Op(root: Span, wallMs: Double, spans: Seq[(Span, Acct)],
                      misattributed: Int, errMs: Double) {
    def named(n: String): Seq[Acct] = spans.collect { case (s, a) if s.name == n => a }
    def sum(f: Acct => Double): Double = spans.map(x => f(x._2)).sum
    def sumOf(n: String)(f: Acct => Double): Double = named(n).map(f).sum
    def reconciled: Boolean = misattributed == 0 && errMs <= toleranceMs(wallMs)
  }

  def ops(): Seq[Op] = {
    val acct = Trace.account()
    val byOp = acct.values.toSeq.groupBy(_._1.op)
    val byId = acct.map { case (id, (s, _)) => id -> s }
    val children = byId.values.toSeq.filter(_.parent.isDefined).groupBy(_.parent.get.id)
    val jobs = Trace.jobs.values.asScala.toSeq
    Trace.walls.asScala.toSeq.flatMap { case (rootId, wall) =>
      acct.get(rootId).map { case (root, _) =>
        val spans = byOp(rootId)
        val ids = spans.map(_._1.id).toSet
        // the op's jobs by attribution, and by the listener's clock and
        // the submitting thread's tag alone
        val mine = jobs.filter(j => ids.contains(j.span) ||
          (j.client == root.client && root.startMs < j.submitMs && j.submitMs < root.endMs))
        val wrong = mine.filterNot(j => Trace.attributedRight(j, byId, children))
        val leak = mine.filter(j => ids.contains(j.span)).map { j =>
          val s = byId(j.span)
          math.max(0L, j.endMs - s.endMs) + math.max(0L, s.startMs - j.submitMs)
        }.sum
        Op(root, wall, spans, wrong.size,
          wrong.map(j => math.max(1L, j.endMs - j.submitMs)).sum.toDouble + leak)
      }
    }.sortBy(_.root.startNs)
  }

  /** Reconciliation tolerance for one operation, ms: the listener's
    * event times and the spans' clock are both whole milliseconds, and
    * the listener stamps a job's end when it processes the event. */
  def toleranceMs(wallMs: Double): Double = 5.0 + 0.02 * wallMs

  /** The engine-wide figures every workload reports, summarised over
    * `groups` (each group is one operation, or the operations of one
    * pass) with `agg`. */
  def spark(into: Main.Phase, groups: Seq[Seq[Op]], agg: Iterable[Double] => Double): Unit = {
    def m(k: String, f: Acct => Double): Unit =
      into.layer(k) = agg(groups.map(g => g.map(_.sum(f)).sum))
    m("spark.jobs", _.jobs)
    m("spark.stages", _.stages)
    m("spark.tasks", _.tasks)
    m("spark.executor_run_ms", _.runMs)
    m("spark.executor_cpu_ms", _.cpuMs)
    m("spark.gc_ms", _.gcMs)
    m("spark.shuffle_write_bytes", _.shuffleWrite.toDouble)
    m("spark.spill_bytes", _.spill.toDouble)
    m("spark.catalyst_ms", _.catalystMs)
    m("spark.outside_jobs_ms", _.outsideMs)
  }

  /** The tracer's own figures, over every traced operation `all` (the
    * foreground ones and those beside them). */
  def trace(into: Main.Phase, all: Seq[Op]): Unit = {
    into.layer("trace.reconcile_p50_err_ms") = Stats.median(all.map(_.errMs))
    into.layer("trace.reconciled_share") =
      if (all.isEmpty) 0.0 else all.count(_.reconciled).toDouble / all.size
    into.layer("trace.misattributed_jobs") = all.map(_.misattributed).sum.toDouble
    val recorded = Trace.spans.asScala.map(_.id).toSet
    into.layer("trace.unattributed_jobs") =
      Trace.jobs.values.asScala.count(j => !recorded.contains(j.span)).toDouble
  }
}
