package perfbench

import java.nio.file.Path
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.{col, lit}

import graft.operators.ReportUpsert

/** Serving beside commits: reader clients of a reports table while one
  * writer commits to it, for a fixed time.
  *
  * Each reader client, in its own session, runs the reference's two
  * reads the way a user of them does, closed loop: list the dates
  * catalog, then look up one listed period by `(begin_date, end_date)`,
  * picked with a bias to recent days (the days back from the newest
  * are exponential with mean `RecentDays`), and again. The writer, in
  * its own session too, commits one batch of upload files after
  * another through `dailyReports` and `mergeIntoOcc`, back to back, so
  * no commit rate is assumed: it is the most write load one writer puts
  * beside the readers. Each write adds the periods of new days. */
final class Serve(spark: SparkSession, table: String, writes: Seq[Path], seed: Long,
                  transactions: (SparkSession, Path) => DataFrame) {
  import Serve._
  val lookupMs = new ConcurrentLinkedQueue[Double]
  val catalogMs = new ConcurrentLinkedQueue[Double]
  val commitMs = new ConcurrentLinkedQueue[Double]
  val committed = new ConcurrentLinkedQueue[Int]
  val attempted = new AtomicLong
  val failed = new AtomicLong
  /** Every read, for the snapshot check: (kind, version visible at
    * start, result). */
  val reads = new ConcurrentLinkedQueue[(String, Int, String)]
  @volatile private var running = false
  var measuredSec = 0.0

  private def attempt[T](what: String)(body: => T): Option[T] = {
    attempted.incrementAndGet()
    try Some(body)
    catch {
      case e: Exception =>
        failed.incrementAndGet()
        System.err.println(s"[perfbench] $what failed: $e")
        None
    }
  }

  private def reader(c: Int): Unit = {
    Trace.client(spark, s"reader-$c")
    val s = Trace.watch(spark.newSession())
    val rnd = new scala.util.Random(seed * 31 + c)
    def read[T](kind: String)(body: DataFrame => (T, String)): Option[T] = attempt(s"$kind read") {
      val before = ReportUpsert.occVersion(table)
      val ((value, shown), ms) = Trace.op(kind, s) {
        val snap = Trace.span("resolve", s)(ReportUpsert.readOcc(s, table).get)
        Trace.span("exec", s)(body(snap))
      }
      (if (kind == "lookup") lookupMs else catalogMs).add(ms)
      reads.add((kind, before, shown))
      value
    }
    while (running)
      read("catalog") { df => val k = catalogOf(df); (k, catalogKey(k)) }
        .filter(_.nonEmpty)
        .foreach { keys =>
          val back = math.min(keys.size - 1, (-math.log(1 - rnd.nextDouble()) * RecentDays).toInt)
          val key = keys(keys.size - 1 - back)
          read("lookup") { df => ((), s"${key._1}/${key._2}=" + lookupOf(df, key)) }
        }
  }

  private def writer(): Unit = {
    Trace.client(spark, "writer")
    val s = Trace.watch(spark.newSession())
    writes.iterator.zipWithIndex.takeWhile(_ => running).foreach { case (batch, k) =>
      attempt("serve commit") {
        val (v, ms) = Trace.op("write", s) {
          Trace.span("commit", s) {
            ReportUpsert.mergeIntoOcc(table, ReportUpsert.dailyReports(transactions(s, batch), s"w$k"))
          }
        }
        commitMs.add(ms)
        committed.add(v)
      }
    }
  }

  /** Serve for `seconds`; operations in flight when time is up finish. */
  def run(seconds: Double): Unit = {
    running = true
    val threads = (0 until Clients).map(c => new Thread(() => reader(c), s"perfbench-reader-$c")) :+
      new Thread(() => writer(), "perfbench-writer")
    val t0 = System.nanoTime()
    threads.foreach(_.start())
    Thread.sleep((seconds * 1000).toLong)
    running = false
    threads.foreach(_.join())
    measuredSec = (System.nanoTime() - t0) / 1e9
  }

  /** The writer's versions go up by 1 per commit from the set-up's
    * version 0, and every read equals what one committed version
    * holds, a version no older than the one visible when it started. */
  def check(reader: SparkSession): Seq[String] = {
    val versions = committed.asScala.toSeq
    val order =
      if (versions == (1 to versions.size)) Nil
      else Seq(s"serve writer committed versions ${versions.mkString(",")}, not 1, 2, ...")
    val last = ReportUpsert.occVersion(table)
    val snaps = (0 to last).map { v =>
      val rows = ReportUpsert.readOccAt(reader, table, v).get.collect().toSeq
      val byKey = rows.groupBy(r => (r.getDate(r.fieldIndex("begin_date")), r.getDate(r.fieldIndex("end_date"))))
      val keys = byKey.keys.toSeq.sortBy(_.toString)
      (catalogKey(keys), keys.map(k => s"${k._1}/${k._2}=" + byKey(k).map(rowString).sorted.mkString("\n")).toSet)
    }
    val bad = reads.asScala.toSeq.filterNot { case (kind, from, got) =>
      (math.max(0, from) to last).exists { v =>
        if (kind == "catalog") snaps(v)._1 == got else snaps(v)._2.contains(got)
      }
    }
    order ++ bad.take(3).map { case (kind, from, got) =>
      s"$kind read matches no committed version >= v$from: ${got.take(200)}"
    } ++ (if (bad.isEmpty) Nil else Seq(s"${bad.size} of ${reads.size} reads match no committed snapshot"))
  }

  /** Read and commit latencies, into `ph`. */
  def report(ph: Main.Phase): Unit = {
    val lk = lookupMs.asScala.toSeq
    val ct = catalogMs.asScala.toSeq
    val cm = commitMs.asScala.toSeq
    ph.name("lookup_p50_ms", Stats.median(lk), "ms", lk.size)
    ph.name("lookup_p95_ms", Stats.quantile(lk, 0.95), "ms", lk.size)
    ph.name("catalog_p50_ms", Stats.median(ct), "ms", ct.size)
    ph.name("catalog_p95_ms", Stats.quantile(ct, 0.95), "ms", ct.size)
    ph.name("serve_rps", (lk.size + ct.size) / measuredSec, "1/s", lk.size + ct.size)
    ph.name("commit_p50_s", Stats.median(cm) / 1000, "s", cm.size)
  }

  /** The serve-layer split over the traced reader requests. */
  def layers(ph: Main.Phase, ops: Seq[Layers.Op]): Unit = {
    val reqs = ops.filter(o => o.root.name == "lookup" || o.root.name == "catalog")
    def med(f: Layers.Op => Double): Double = Stats.median(reqs.map(f))
    val l = ph.layer
    l("serve.resolve_ms") = med(_.sumOf("resolve")(_.selfMs))
    l("serve.exec_ms") = med(_.sumOf("exec")(_.selfMs))
    l("serve.jobs_per_req") = med(_.sum(_.jobs))
    l("serve.tasks_per_req") = med(_.sum(_.tasks))
    l("serve.catalyst_ms") = med(_.sum(_.catalystMs))
    l("serve.sched_wait_ms") = Stats.quantile(reqs.map(_.sum(_.schedWaitMs)), 0.95)
  }
}

object Serve {
  val Clients = 2
  /** Mean of how many days back from the newest period a lookup goes. */
  val RecentDays = 30.0

  private def rowString(r: Row): String = r.toSeq.mkString("|")

  private def catalogOf(df: DataFrame): Seq[(java.sql.Date, java.sql.Date)] =
    df.select(col("begin_date"), col("end_date")).distinct().collect()
      .map(r => (r.getDate(0), r.getDate(1))).sortBy(_.toString).toSeq

  private def catalogKey(keys: Seq[(java.sql.Date, java.sql.Date)]): String =
    keys.map { case (b, e) => s"$b/$e" }.mkString(",")

  private def lookupOf(df: DataFrame, key: (java.sql.Date, java.sql.Date)): String =
    df.filter(col("begin_date") === lit(key._1) && col("end_date") === lit(key._2))
      .collect().map(rowString).sorted.mkString("\n")
}
