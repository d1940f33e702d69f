package graft

import java.nio.file.{Files, Path}
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.lit

import graft.operators.SpendingReport
import graft.sources.UploadSource

/** The report as the cron cycle runs it: uploads land in one directory
  * and every cycle rebuilds the report over all of them, in one
  * long-lived session. */
class ReportCycleSpec extends SparkSpec {

  private def land(dir: Path, id: Int, day: String, cats: (String, Double)*): Unit = {
    val m = cats.map { case (k, v) => s""""$k": $v""" }.mkString("{", ", ", "}")
    Files.writeString(dir.resolve(s"upload_$id.json"),
      s"""{"upload_id": $id, "begin_date": "$day", "end_date": "$day", """ +
        s""""total_spent": ${cats.map(_._2).sum}, "total_transactions": ${cats.size}, """ +
        s""""spending_per_category": $m, "spending_per_vendor": {"acme": 0}}""")
  }

  /** The upload -> transactions composition of the cycle: the category
    * map becomes the transactions, the vendor is a constant. */
  private def transactions(dir: Path): DataFrame =
    UploadSource.transactionsFromSummaries(
        UploadSource.uploadSummaries(spark, dir.toString), "spending_per_category")
      .withColumnRenamed("key", "category")
      .withColumn("vendor", lit("acme"))
      .select("txn_date", "category", "vendor", "amount")

  private def landed(): Path = {
    val dir = Files.createTempDirectory("graft_landing")
    land(dir, 1, "2024-01-01", "food" -> 10.0, "rent" -> 100.0)
    land(dir, 2, "2024-01-02", "food" -> 20.0, "toys" -> 5.0)
    dir
  }

  test("enriched over an appended landing dir sees the new rows and caches nothing") {
    spark.catalog.clearCache()
    val dir = landed()
    val first = SpendingReport.enriched(transactions(dir))
      .select("total_transactions", "total_spent", "id").head()
    assert(first.getLong(0) == 4L && first.getDouble(1) == 135.0)
    land(dir, 3, "2024-01-03", "food" -> 1.5, "gym" -> 2.5)
    val second = SpendingReport.enriched(transactions(dir))
      .select("total_transactions", "total_spent", "id").head()
    assert(second.getLong(0) == 6L && second.getDouble(1) == 139.0,
      s"second report must count the appended upload, got $second")
    assert(second.getString(2) != first.getString(2))
    val cache = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sharedState.cacheManager
    assert(cache.isEmpty, "enriched must leave no entry in the session cache")
  }

  test("enriched runs a bounded number of Spark jobs") {
    val dir = landed()
    val tx = transactions(dir)
    val sc = spark.sparkContext
    val tag = s"report-budget-${System.nanoTime()}"
    val started = new AtomicInteger
    val running = ConcurrentHashMap.newKeySet[Int]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (e.properties != null && e.properties.getProperty("graft.spec") == tag) {
          started.incrementAndGet(); running.add(e.jobId)
        }
      override def onJobEnd(e: SparkListenerJobEnd): Unit = running.remove(e.jobId)
    }
    sc.addSparkListener(listener)
    sc.setLocalProperty("graft.spec", tag)
    try SpendingReport.enriched(tx)
    finally sc.setLocalProperty("graft.spec", null)
    // listener events arrive asynchronously: wait until every tagged
    // job has ended and the count holds still
    var (last, stable, waited) = (-1, 0, 0)
    while ((stable < 3 || !running.isEmpty) && waited < 100) {
      Thread.sleep(100); waited += 1
      if (started.get == last) stable += 1 else { stable = 0; last = started.get }
    }
    sc.removeSparkListener(listener)
    // Measured: 13 jobs. Adaptive execution runs each shuffle stage as
    // its own job: the cells (map stage + checkpoint) 2, the date
    // scalars 2, the report row 8 (three map stages off the cells, one
    // per axis after its fold, two broadcast sides, the checkpoint), the
    // collect of the summary fields 1. The report it replaced ran 61.
    val budget = 13
    assert(started.get > 0 && started.get <= budget,
      s"enriched ran ${started.get} jobs, budget $budget")
  }
}
