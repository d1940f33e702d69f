package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, lit}

import graft.operators.{ReportUpsert, SpendingReport}
import graft.sources.UploadSource

/** The product path: the cron job, cycles back to back in a closed
  * loop with nothing else running, then serving beside commits.
  *
  * A cycle lands one batch of upload files, then rebuilds the period
  * report over every upload landed so far and upserts it:
  * `uploadSummaries` -> `transactionsFromSummaries` -> `enriched` ->
  * `mergeIntoOcc`. It ends when `occVersion` sees the committed
  * version. Cycles run in rounds of `batches` cycles over a fresh
  * landing directory and a fresh table, so every round does the same
  * work and the median over whole rounds does not depend on how many
  * rounds fit into the measured time.
  *
  * The serving part (`Serve`) reads a reports table of about 1,000
  * daily periods, committed in the set-up from `dailyReports` over
  * generated uploads, while a writer commits new days to it. */
final class Etl(workDir: String, seed: Long, minRounds: Int) extends Main.Workload {
  import Etl._
  private val inputs = Paths.get(workDir, "etl")
  private val batches = listDirs(inputs.resolve("batches"))
  private val runs = Paths.get(workDir, "etl-run")
  private var rounds = 0
  /** Every measured round: landing dir, table, committed versions. */
  private val toCheck = mutable.ArrayBuffer.empty[(Path, Path, Seq[Int])]
  /** Per round, per cycle: committed version and the table rows at it. */
  private val observed = mutable.ArrayBuffer.empty[String]
  /** The served table, as the last set-up committed it. */
  private var servedTable: String = null
  private var serve: Serve = null
  private var servedSetup = "null"

  private def listDirs(p: Path): Seq[Path] =
    Files.list(p).iterator.asScala.toSeq.filter(Files.isDirectory(_)).sortBy(_.toString)

  /** The upload -> report composition of `Smoke.uploadsProbe`: the
    * category map becomes the transactions, the vendor is a constant. */
  private def transactions(spark: SparkSession, landed: Path): DataFrame = {
    val summaries = UploadSource.uploadSummaries(spark, landed.toString)
    UploadSource.transactionsFromSummaries(summaries, "spending_per_category")
      .withColumnRenamed("key", "category")
      .withColumn("vendor", lit("acme"))
      .select("txn_date", "category", "vendor", "amount")
  }

  private def land(batch: Path, landed: Path): Int = {
    Files.createDirectories(landed)
    val files = Files.list(batch).iterator.asScala.toSeq
    files.foreach(f => Files.createLink(landed.resolve(f.getFileName), f))
    Files.list(landed).iterator.asScala.size
  }

  /** One cycle; returns the committed version, commit attempts and the
    * number of files landed. */
  private def cycle(spark: SparkSession, batch: Path, landed: Path, table: Path): (Int, Int, Int) = {
    val files = Trace.span("land", spark)(land(batch, landed))
    val tx = Trace.span("sources", spark)(transactions(spark, landed))
    val report = Trace.span("report", spark)(SpendingReport.enriched(tx))
    var attempts = 0
    val v = Trace.span("commit", spark) {
      ReportUpsert.mergeIntoOcc(table.toString, report, beforeCommit = _ => attempts += 1)
    }
    Trace.span("visible", spark) {
      val seen = ReportUpsert.occVersion(table.toString)
      if (seen < v) throw new IllegalStateException(s"committed v$v but occVersion sees v$seen")
    }
    (v, attempts, files)
  }

  /** One round of cycles, into `ph`; commit attempts and files landed
    * per cycle into `layer`. */
  private def round(spark: SparkSession, dir: Path, ph: Main.Phase, bs: Seq[Path],
                    layer: mutable.ArrayBuffer[(Int, Int)]): Unit = {
    val landed = dir.resolve("landed")
    val table = dir.resolve("reports")
    val versions = mutable.ArrayBuffer.empty[Int]
    bs.foreach { b =>
      ph.attempted += 1
      val c0 = Sys.cpuMs
      try {
        val ((v, attempts, files), ms) = Trace.op("cycle", spark)(cycle(spark, b, landed, table))
        ph.opMs += ms
        ph.opCpuMs += Sys.cpuMs - c0
        versions += v
        layer += ((attempts, files))
      } catch {
        case e: Exception =>
          ph.failed += 1
          System.err.println(s"[perfbench] cycle failed: $e")
          versions += -1
      }
    }
    toCheck += ((landed, table, versions.toSeq))
  }

  /** A round on small batches of another seed stream, in its own
    * directory: the first cycle of a JVM costs several times the CPU of
    * later ones, and cycle time still falls over the next rounds (JIT
    * and generated code). A cycle's code paths, not its size, warm the
    * JVM, so small batches warm it about as well as full ones. */
  def warmup(spark: SparkSession): Unit = {
    round(spark, runs.resolve("warm"), new Main.Phase, listDirs(inputs.resolve("warm")),
      mutable.ArrayBuffer.empty)
    toCheck.clear()
  }

  /** A fresh session reads the set-up uploads (one per day over about
    * 1,000 days) and commits their `dailyReports` to a fresh reports
    * table: the table the serving part reads. */
  def setup(spark: SparkSession, rep: Int): Unit = {
    val s = spark.newSession()
    val table = runs.resolve(s"setup$rep").resolve("reports").toString
    ReportUpsert.mergeIntoOcc(table,
      ReportUpsert.dailyReports(transactions(s, inputs.resolve("serve").resolve("setup")), "setup"))
    servedTable = table
  }

  /** A set-up takes under 2 s and is still warming, so the median is
    * taken over more of them than the default. */
  override def setupReps: Int = 5

  def measure(spark: SparkSession, seconds: Double, traced: Boolean): Main.Phase = {
    val ph = new Main.Phase
    val cycles = new Main.Phase
    val layer = mutable.ArrayBuffer.empty[(Int, Int)]
    def mean(xs: Iterable[Double]): Double = xs.sum / xs.size
    val t0 = System.nanoTime()
    do {
      rounds += 1
      val (done, failed) = (cycles.opMs.size, cycles.failed)
      round(spark, runs.resolve(f"r$rounds%03d"), cycles, batches, layer)
      // the op sample is a whole round's mean cycle: the cycles of a
      // round differ in size, the rounds are alike
      if (cycles.failed == failed) {
        ph.opMs += mean(cycles.opMs.drop(done))
        ph.opCpuMs += mean(cycles.opCpuMs.drop(done))
      }
    } while ((System.nanoTime() - t0) / 1e9 < seconds || rounds < minRounds)
    ph.measuredSec = (System.nanoTime() - t0) / 1e9
    ph.attempted = cycles.attempted
    ph.failed = cycles.failed
    val n = cycles.opMs.size
    ph.name("etl_cycle_s", Stats.median(cycles.opMs) / 1000, "s", n)
    ph.name("etl_cycle_cpu_s", Stats.median(cycles.opCpuMs) / 1000, "s", n)

    serve = new Serve(spark, servedTable, listDirs(inputs.resolve("serve").resolve("writes")),
      seed, transactions)
    serve.run(seconds * ServeShare)
    serve.report(ph)
    ph.attempted += serve.attempted.get
    ph.failed += serve.failed.get
    ph.name("error_rate", ph.failed.toDouble / ph.attempted, "ratio", ph.attempted.toInt)
    if (traced) {
      Trace.drain(spark)
      val all = Layers.ops()
      serve.layers(ph, all)
      val ops = all.filter(_.root.name == "cycle")
      def med(f: Layers.Op => Double): Double = Stats.median(ops.map(f))
      val l = ph.layer
      l("sources.list_ms") = med(_.sumOf("sources")(_.selfMs))
      l("sources.files") = Stats.median(layer.map(_._2.toDouble))
      l("sources.input_bytes") = med(o => o.sumOf("report")(_.inBytes.toDouble))
      l("sources.records_read") = med(o => o.sumOf("report")(_.inRecords.toDouble))
      l("report.ms") = med(_.sumOf("report")(_.selfMs))
      l("report.jobs") = med(_.sumOf("report")(_.jobs))
      l("report.stages") = med(_.sumOf("report")(_.stages))
      l("report.tasks") = med(_.sumOf("report")(_.tasks))
      l("report.catalyst_ms") = med(_.sumOf("report")(_.catalystMs))
      l("report.exec_cpu_ms") = med(_.sumOf("report")(_.cpuMs))
      l("report.shuffle_bytes") = med(_.sumOf("report")(_.shuffleWrite.toDouble))
      l("report.outside_jobs_ms") = med(_.sumOf("report")(_.outsideMs))
      l("commit.ms") = med(_.sumOf("commit")(_.selfMs))
      l("commit.jobs") = med(_.sumOf("commit")(_.jobs))
      l("commit.bytes_written") = med(_.sumOf("commit")(_.outBytes.toDouble))
      l("commit.rows_written") = med(_.sumOf("commit")(_.outRecords.toDouble))
      val attempts = layer.map(_._1).sum.toDouble
      l("commit.attempts") = attempts / math.max(1, layer.size)
      l("commit.conflict_ratio") = if (attempts == 0) 0.0 else (attempts - layer.size) / attempts
      Layers.spark(ph, ops.map(Seq(_)), Stats.median)
      Layers.trace(ph, all)
    }
    ph
  }

  def check(spark: SparkSession): Seq[String] = {
    val failures = mutable.ArrayBuffer.empty[String]
    failures ++= serve.check(spark)
    servedSetup = servedAtSetup(spark)
    toCheck.zipWithIndex.foreach { case ((landed, table, versions), r) =>
      val committed = versions.filter(_ >= 0)
      if (committed != committed.indices)
        failures += s"round $r: versions ${versions.mkString(",")} do not go up by 1 per cycle from 0"
      val kept = UploadSource.uploadSummaries(spark, landed.toString).count()
      val landedFiles = Files.list(landed).iterator.asScala.size
      val perCycle = versions.zipWithIndex.filter(_._1 >= 0).map { case (v, c) =>
        val rows = ReportUpsert.readOccAt(spark, table.toString, v).get
          .select(col("begin_date").cast("string"), col("end_date").cast("string"),
            col("total_transactions"), col("total_spent"))
          .collect().map(r => s"""["${r.getString(0)}","${r.getString(1)}",${r.getLong(2)},"${r.getDouble(3)}"]""")
        s"""{"cycle":$c,"version":$v,"rows":${rows.mkString("[", ",", "]")}}"""
      }
      observed += s"""{"kept":$kept,"landed":$landedFiles,"cycles":${perCycle.mkString("[", ",", "]")}}"""
    }
    failures.toSeq
  }

  /** The served table as the set-up committed it (version 0): rows,
    * transactions and the exact sum of `total_spent`, for `run.py` to
    * compare with the generator's ground truth. */
  private def servedAtSetup(spark: SparkSession): String = {
    val rows = ReportUpsert.readOccAt(spark, servedTable, 0).get
      .select(col("total_transactions"), col("total_spent")).collect()
    val spent = rows.map(r => BigDecimal(r.getDouble(1).toString)).sum
    s"""{"rows":${rows.length},"transactions":${rows.map(_.getLong(0)).sum},"total_spent":"$spent"}"""
  }

  override def extra: Seq[(String, String)] = Seq(
    "etl_rounds" -> observed.mkString("[", ",", "]"),
    "served_setup" -> servedSetup)
}

object Etl {
  /** Measured rounds, at least: a slow host must not measure fewer, and
    * so colder, rounds than a fast one. */
  val MinRounds = 2
  /** The serving part runs for this share of the measured seconds. */
  val ServeShare = 0.5
}
