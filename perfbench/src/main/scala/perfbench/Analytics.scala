package perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.{SparkEntry, Tables}

/** Cold analytics: `SparkEntry.queries` in a fresh session (so the
  * session-scoped index memo starts empty), each query materialized
  * through the `noop` sink. Passes repeat, each in a new session, until
  * the measured time is used up.
  *
  * The index list holds the queries that train quantizers or build
  * memoized indexes; the plain list has neither. A trainer or index
  * change should move the first and leave the second alone. */
final class Analytics(workDir: String) extends Main.Workload {
  import Analytics._
  private val tables = Paths.get(workDir, "analytics", "tables").toString
  private val warm = Paths.get(workDir, "analytics", "warm").toString
  private val out = Paths.get(workDir, "analytics", "out")
  private var lastPass: Seq[(String, DataFrame)] = Nil

  private def materialize(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  /** None beyond the set-up: the queries' own code paths stay cold, as
    * in a fresh analytics session. */
  def warmup(spark: SparkSession): Unit = ()

  /** A fresh session over tables of another seed: a scan of every table
    * and a grouped aggregate over each fact table, so the reader,
    * codegen and shuffle paths are warm but no query of the lists has
    * run and the measured tables are untouched. */
  def setup(spark: SparkSession, rep: Int): Unit = {
    val s = spark.newSession()
    Seq("region", "nation", "customer", "supplier", "part", "orders", "lineitem",
      "documents", "embeddings").foreach(t => materialize(Tables.table(s, warm, t)))
    materialize(Tables.lineitem(s, warm).groupBy("l_returnflag").count())
    materialize(Tables.documents(s, warm).groupBy("source").count())
    materialize(Tables.events(s, warm).groupBy("event_type").count())
  }

  def measure(spark: SparkSession, seconds: Double, traced: Boolean): Main.Phase = {
    val ph = new Main.Phase
    val index, plain, builds, hits, buildS = mutable.ArrayBuffer.empty[Double]
    val perQuery = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
    val t0 = System.nanoTime()
    do {
      val s = Trace.watch(spark.newSession())
      val m0 = Memo.snapshot()
      val c0 = Sys.cpuMs
      val times = (IndexList ++ PlainList).map { q =>
        ph.attempted += 1
        try {
          val (df, ms) = Trace.op("query", s) {
            val df = Trace.span("build", s)(SparkEntry.queries(q)(s, tables))
            Trace.span("exec", s)(materialize(df))
            df
          }
          lastPass = lastPass.filterNot(_._1 == q) :+ (q -> df)
          q -> ms
        } catch {
          case e: Exception =>
            ph.failed += 1
            System.err.println(s"[perfbench] $q failed: $e")
            q -> 0.0
        }
      }.toMap
      times.foreach { case (q, ms) => perQuery.getOrElseUpdate(q, mutable.ArrayBuffer.empty) += ms }
      val m1 = Memo.snapshot()
      index += IndexList.map(times).sum
      plain += PlainList.map(times).sum
      ph.opMs += index.last + plain.last
      ph.opCpuMs += Sys.cpuMs - c0
      builds += m1.builds - m0.builds
      hits += m1.hits - m0.hits
      buildS += m1.buildSecs - m0.buildSecs
    } while ((System.nanoTime() - t0) / 1e9 < seconds)
    ph.measuredSec = (System.nanoTime() - t0) / 1e9
    val n = ph.opMs.size
    ph.name("analytics_s", Stats.median(ph.opMs) / 1000, "s", n)
    ph.name("analytics_index_s", Stats.median(index) / 1000, "s", n)
    ph.name("analytics_plain_s", Stats.median(plain) / 1000, "s", n)
    ph.name("error_rate", ph.failed.toDouble / ph.attempted, "ratio", ph.attempted.toInt)
    (IndexList ++ PlainList).foreach(q => ph.name(s"$q.ms", Stats.median(perQuery(q)), "ms", n))
    if (traced) {
      Trace.drain(spark)
      val passes = Layers.ops().filter(_.root.name == "query")
        .groupBy(o => System.identityHashCode(o.root.session)).values.toSeq
      def med(f: Seq[Layers.Op] => Double): Double = Stats.median(passes.map(f))
      val l = ph.layer
      l("analytics.build_ms") = med(_.map(_.sumOf("build")(_.selfMs)).sum)
      l("analytics.exec_ms") = med(_.map(_.sumOf("exec")(_.selfMs)).sum)
      l("analytics.jobs") = med(_.map(_.sum(_.jobs)).sum)
      l("analytics.tasks_per_stage") = med(p => p.map(_.sum(_.tasks)).sum / math.max(1.0, p.map(_.sum(_.stages)).sum))
      l("analytics.shuffle_bytes") = med(_.map(_.sum(_.shuffleWrite.toDouble)).sum)
      l("memo.build_s") = Stats.median(buildS)
      l("memo.builds") = Stats.median(builds)
      l("memo.hits") = Stats.median(hits)
      Layers.spark(ph, passes, Stats.median)
      Layers.trace(ph, passes.flatten)
    }
    ph
  }

  /** Writes the last pass's results, one file per query, and the oracle
    * SQL, in the layout `tools/compare_oracle.py` reads. */
  def check(spark: SparkSession): Seq[String] = {
    Files.createDirectories(out)
    lastPass.foreach { case (q, df) =>
      df.coalesce(1).write.mode("overwrite").parquet(out.resolve(q).toString)
    }
    val sql = (IndexList ++ PlainList).map(q => graft.Json.str(q) + ":" + graft.Json.str(SparkEntry.oracleSql(q)))
    Files.writeString(out.resolve("oracle_sql.json"), sql.mkString("{", ",", "}"))
    Nil
  }
}

object Analytics {
  /** Queries that train quantizers or build memoized indexes. */
  val IndexList = Seq("q_kmeans", "q_rq_topk", "q_cc_incremental")
  /** No memo, no training. */
  val PlainList = Seq("q_category_totals", "q_tpch_q21", "q_salted_join")

  /** Read-only view of the program's session index memo, whose
    * counters are package-private; read by reflection so the benchmark
    * needs no access the program does not grant. */
  final case class Memo(builds: Double, hits: Double, buildSecs: Double)
  object Memo {
    private lazy val module: Option[AnyRef] =
      try Some(Class.forName("graft.functions.IndexMemo$").getField("MODULE$").get(null))
      catch { case _: Throwable => None }

    private def call(name: String): Option[AnyRef] = module.flatMap { m =>
      try Some(m.getClass.getMethod(name).invoke(m)) catch { case _: Throwable => None }
    }

    private def entries: Double = module.flatMap { m =>
      m.getClass.getDeclaredFields.find(_.getName.endsWith("entries")).map { f =>
        f.setAccessible(true)
        f.get(m).asInstanceOf[List[_]].size.toDouble
      }
    }.getOrElse(Double.NaN)

    def snapshot(): Memo = {
      val hits = call("hits").map(_.asInstanceOf[java.lang.Long].doubleValue).getOrElse(Double.NaN)
      val evictions = call("evictions").map(_.asInstanceOf[java.lang.Long].doubleValue).getOrElse(0.0)
      val secs = call("buildSecs").map(_.asInstanceOf[Map[String, Double]].values.sum).getOrElse(Double.NaN)
      Memo(entries + evictions, hits, secs)
    }
  }
}
