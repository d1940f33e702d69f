package graft

import java.sql.Date
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.{col, sum}
import graft.operators.SpendingReport

/** Per-operator semantics from SURVEY.md §2 over tiny literal frames,
  * including the reference's documented failure modes
  * (/root/reference/README.md:37-38,210-214): heterogeneous key sets
  * across files, zero-imputation in mean and pct-change, the ascending
  * "top-5" quirk, and the zero/missing-predecessor pct-change edges. */
class SpendingReportSpec extends SparkSpec {
  import spark.implicits._

  private def d(s: String) = Date.valueOf(s)

  /** Three "files" (days) with identical, overlapping, and disjoint
    * category sets; includes 0-amount and appearing/disappearing keys. */
  private def tx: DataFrame = Seq(
    ("2024-01-01", "food", "v1", 10.0),
    ("2024-01-01", "rent", "v1", 100.0),
    ("2024-01-02", "food", "v2", 20.0),   // rent absent on day 2
    ("2024-01-02", "toys", "v2", 5.0),    // toys appears
    ("2024-01-03", "food", "v1", 0.0),    // 0-amount day for food
    ("2024-01-03", "toys", "v3", 10.0)
  ).toDF("dt", "category", "vendor", "amount")
    .selectExpr("to_date(dt) AS txn_date", "category", "vendor", "amount")

  test("globalSummary: sums, count, date range (A1-A4)") {
    val r = SpendingReport.globalSummary(tx).head()
    assert(r.getDouble(0) == 145.0)
    assert(r.getLong(1) == 6L)
    assert(r.getDate(2) == d("2024-01-01"))
    assert(r.getDate(3) == d("2024-01-03"))
  }

  test("keyTotals: per-key sums with ascending rank (A5/O1)") {
    val m = SpendingReport.keyTotals(tx, "category").collect()
      .map(r => r.getString(0) -> (r.getDouble(1), r.getLong(2))).toMap
    assert(m("food") == (30.0, 2L))   // rank 2: toys(15) < food(30) < rent(100)
    assert(m("toys") == (15.0, 1L))
    assert(m("rent") == (100.0, 3L))
  }

  test("paretoContribution: desc order, exact cumulative sums, share hits 1.0") {
    // totals: rent 100, food 30, toys 15 (grand 145)
    val rows = SpendingReport.paretoContribution(tx, "category").collect()
      .map(r => r.getString(0) ->
        ((r.getDouble(1), r.getDouble(2), r.getDouble(3)))).toMap
    assert(rows("rent") == ((100.0, 100.0, 100.0 / 145.0)))
    assert(rows("food") == ((30.0, 130.0, 130.0 / 145.0)))
    assert(rows("toys") == ((15.0, 145.0, 1.0)), "last key's share must be exactly 1.0")
    // distributed prefix sums equal a plain single-window reference
    val many = (1 to 200).map(i => ("2024-01-01", s"c$i", "v", i.toDouble))
      .toDF("dt", "category", "vendor", "amount")
      .selectExpr("to_date(dt) AS txn_date", "category", "vendor", "amount")
    val dist = SpendingReport.paretoContribution(many, "category").collect()
      .map(r => (r.getString(0), r.getDouble(1), r.getDouble(2), r.getDouble(3))).toSet
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("total").desc, col("category").asc)
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    val ref = many.groupBy(col("category"))
      .agg(sum(col("amount").cast("decimal(14,2)")).as("total"))
      .withColumn("cum", sum(col("total")).over(w))
      .select(col("category"), col("total").cast("double"),
        col("cum").cast("double"),
        col("cum").cast("double") / org.apache.spark.sql.functions.lit(200 * 201 / 2.0))
      .collect().map(r => (r.getString(0), r.getDouble(1), r.getDouble(2), r.getDouble(3))).toSet
    assert(dist == ref, "range-partitioned prefix sums must equal the single-window reference")
  }

  test("giniConcentration: 0 for equal totals, 1-1/n when one key holds all") {
    def g(rows: (String, Double)*): (Long, Double) = {
      val t = rows.zipWithIndex.map { case ((k, a), i) => ("2024-01-01", k, s"v$i", a) }
        .toDF("dt", "category", "vendor", "amount")
        .selectExpr("to_date(dt) AS txn_date", "category", "vendor", "amount")
      val r = SpendingReport.giniConcentration(t, "category").head()
      (r.getLong(0), r.getDouble(1))
    }
    assert(g(("a", 10.0), ("b", 10.0), ("c", 10.0)) == ((3L, 0.0)),
      "perfect equality is exactly 0 (decimal numerator cancels, no FP residue)")
    assert(g(("a", 0.0), ("b", 0.0), ("c", 30.0)) == ((3L, 2.0 / 3.0)),
      "one holder reaches the n-key maximum 1 - 1/n")
  }

  test("zeroImputedMean divides by ALL file dates, not per-key count (A9)") {
    val m = SpendingReport.zeroImputedMean(tx, "category").collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(m("rent") == 100.0 / 3)   // NOT 100.0 (avg over 1 occurrence)
    assert(m("food") == 10.0)
    assert(m("toys") == 5.0)
  }

  test("pctChangeLatest: imputed-0 predecessor and 0->x edges (W1/W2)") {
    val m = SpendingReport.pctChangeLatest(tx, "category").collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    // food: day2=20 -> day3=0 : (0-20)/20 = -1
    assert(m("food") == -1.0)
    // toys: day2=5 -> day3=10 : +1
    assert(m("toys") == 1.0)
    // rent: day2 imputed 0 -> day3 imputed 0: 0-predecessor -> 0.0
    assert(m("rent") == 0.0)
  }

  test("pctChangeLatest pandasInf mode pins all three 0-predecessor edges") {
    // gym appears only on the last day (0 -> 7: pandas +inf), refund is
    // negative on the last day (0 -> -3: pandas -inf); food is x -> 0
    // (-1.0 in both modes) and rent is 0 -> 0 (NaN, zeroed by fillna in
    // both modes).
    val tx2 = tx.union(Seq(
      ("2024-01-03", "gym", "v1", 7.0),
      ("2024-01-03", "refund", "v1", -3.0)
    ).toDF("dt", "category", "vendor", "amount")
      .selectExpr("to_date(dt) AS txn_date", "category", "vendor", "amount"))
    val pandas = SpendingReport.pctChangeLatest(tx2, "category", pandasInf = true)
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(pandas("gym") == Double.PositiveInfinity)    // 0 -> x
    assert(pandas("refund") == Double.NegativeInfinity) // 0 -> -x
    assert(pandas("food") == -1.0)                      // x -> 0
    assert(pandas("rent") == 0.0)                       // 0 -> 0 (NaN -> fillna)
    val dflt = SpendingReport.pctChangeLatest(tx2, "category")
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(dflt("gym") == 0.0 && dflt("refund") == 0.0) // engine default: finite
    assert(dflt("food") == -1.0 && dflt("rent") == 0.0)
  }

  test("single-file input: all pct_change are 0 (leading-row fill)") {
    val one = tx.filter($"txn_date" === lit(d("2024-01-01")))
    val vals = SpendingReport.pctChangeLatest(one, "category")
      .collect().map(_.getDouble(1)).toSet
    assert(vals == Set(0.0))
  }

  test("exact-moment variance agrees with Spark's var_samp to FP tolerance") {
    val sf = "/root/testdata/sf0.001"
    val ours = SparkEntry.queries("q_spend_stats")(spark, sf).collect()
      .map(r => r.getString(0) -> (r.getAs[Double]("mean_amount"), r.getAs[Double]("var_amount"))).toMap
    val builtin = Tables.transactions(spark, sf).groupBy($"category")
      .agg(org.apache.spark.sql.functions.avg($"amount").as("m"),
           org.apache.spark.sql.functions.var_samp($"amount").as("v"))
      .collect().map(r => r.getString(0) -> (r.getDouble(1), r.getDouble(2))).toMap
    assert(ours.keySet == builtin.keySet)
    ours.foreach { case (cat, (m, v)) =>
      val (bm, bv) = builtin(cat)
      assert(math.abs(m - bm) < 1e-9 * math.max(1.0, math.abs(bm)), s"$cat mean: $m vs $bm")
      assert(math.abs(v - bv) < 1e-6 * math.max(1.0, math.abs(bv)), s"$cat var: $v vs $bv")
    }
  }

  test("approx_percentile rank-bound flags all pass (gated against literal-1 oracle)") {
    val sf = "/root/testdata/sf0.001"
    val rows = SparkEntry.queries("q_approx_percentiles")(spark, sf).collect()
    assert(rows.nonEmpty)
    // the ok-flags encode the sketch's documented rank guarantee
    // (count(< v) <= (p+δ)n AND count(<= v) >= (p-δ)n, δ = 0.005);
    // the DuckDB oracle hashes them against literal 1s per category
    rows.foreach { r =>
      val cat = r.getAs[String]("category")
      assert(r.getAs[Long]("n") > 0, s"$cat: empty group")
      Seq("ok25", "ok50", "ok75").foreach(c =>
        assert(r.getAs[Long](c) == 1L, s"$cat: $c rank bound violated"))
    }
  }

  test("top5Asc returns the LOWEST-total keys (O3 as-implemented quirk)") {
    val vendors = SpendingReport.top5Asc(tx, "vendor").collect().map(_.getString(0))
    // v3(10) < v2(25) < v1(110): ascending, so v3 first
    assert(vendors.head == "v3")
    assert(vendors.toSeq == Seq("v3", "v2", "v1"))
  }

  test("report assembles one row; details drops begin/end/fi_summary (P2)") {
    val r = SpendingReport.report(tx)
    assert(r.count() == 1)
    val details = r.select("details").head().getString(0)
    assert(details.contains("\"total_spent\""))
    assert(!details.contains("begin_date"))
    // the VARIANT twin extracts typed values without re-parsing
    assert(r.schema("details_variant").dataType
      .isInstanceOf[org.apache.spark.sql.types.VariantType])
    val vSpent = r.selectExpr("variant_get(details_variant, '$.total_spent', 'double')")
      .head().getDouble(0)
    assert(vSpent == 145.0)
    val enriched = SpendingReport.enriched(tx)
    assert(enriched.select("fi_summary").head().getString(0).nonEmpty)
  }

  private def txOf(rows: (String, String, String, Double)*): DataFrame =
    rows.toDF("dt", "category", "vendor", "amount")
      .selectExpr("to_date(dt) AS txn_date", "category", "vendor", "amount")

  private val reportLists = Seq("spending_per_category", "pct_change_category",
    "avg_category", "spending_per_vendor", "pct_change_vendor", "avg_vendor", "top_5_vendors")

  /** Every report field but the id and date stamps, with the ordered
    * (key, value) lists as Scala pairs. */
  private def reportFields(t: DataFrame): Map[String, Any] = {
    val r = SpendingReport.report(t).collect()
    assert(r.length == 1)
    def seq[T](c: String) = r(0).getSeq[T](r(0).fieldIndex(c))
    def kv(c: String) = seq[Row](c).map(x => (x.getString(0), x.getDouble(1)))
    Map("total_spent" -> r(0).get(0), "total_transactions" -> r(0).getLong(1),
      "dates" -> (Option(r(0).getDate(2)).map(_.toString) -> Option(r(0).getDate(3)).map(_.toString)),
      "unique_categories" -> seq[String]("unique_categories"),
      "n_categories" -> r(0).getAs[Long]("n_categories"),
      "unique_vendors" -> seq[String]("unique_vendors"),
      "n_vendors" -> r(0).getAs[Long]("n_vendors")) ++ reportLists.map(c => c -> kv(c))
  }

  test("report parity: 0->x and x->0 predecessors, zero-imputed means") {
    // latest 01-03 vs predecessor 01-02: food 20->0, toys 5->10, rent
    // 0->0; vendors v1 0->0, v2 25->0, v3 0->10
    assert(reportFields(tx) == Map(
      "total_spent" -> 145.0, "total_transactions" -> 6L,
      "dates" -> (Some("2024-01-01") -> Some("2024-01-03")),
      "unique_categories" -> Seq("food", "rent", "toys"), "n_categories" -> 3L,
      "unique_vendors" -> Seq("v1", "v2", "v3"), "n_vendors" -> 3L,
      "spending_per_category" -> Seq("toys" -> 15.0, "food" -> 30.0, "rent" -> 100.0),
      "pct_change_category" -> Seq("food" -> -1.0, "rent" -> 0.0, "toys" -> 1.0),
      "avg_category" -> Seq("food" -> 10.0, "rent" -> 100.0 / 3, "toys" -> 5.0),
      "spending_per_vendor" -> Seq("v3" -> 10.0, "v2" -> 25.0, "v1" -> 110.0),
      "pct_change_vendor" -> Seq("v1" -> 0.0, "v2" -> -1.0, "v3" -> 0.0),
      "avg_vendor" -> Seq("v1" -> 110.0 / 3, "v2" -> 25.0 / 3, "v3" -> 10.0 / 3),
      "top_5_vendors" -> Seq("v3" -> 10.0, "v2" -> 25.0, "v1" -> 110.0)))
    val pandas = SpendingReport.pctChangeLatest(tx, "vendor", pandasInf = true)
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(pandas == Map("v1" -> 0.0, "v2" -> -1.0, "v3" -> Double.PositiveInfinity))
  }

  test("report parity: single date, tied totals, more than 5 vendors") {
    // one date: every pct_change is the leading row's 0; b and a tie at
    // 10 and sort by name; top-5 are the 5 LOWEST of 7 vendors
    val f = reportFields(txOf(
      ("2024-01-05", "b", "v1", 7.0), ("2024-01-05", "b", "v2", 3.0),
      ("2024-01-05", "a", "v3", 5.0), ("2024-01-05", "a", "v4", 4.0),
      ("2024-01-05", "a", "v5", 1.0), ("2024-01-05", "c", "v6", 2.0),
      ("2024-01-05", "c", "v7", 6.0)))
    assert(f("spending_per_category") == Seq("c" -> 8.0, "a" -> 10.0, "b" -> 10.0))
    assert(f("pct_change_category") == Seq("a" -> 0.0, "b" -> 0.0, "c" -> 0.0))
    assert(f("avg_category") == Seq("a" -> 10.0, "b" -> 10.0, "c" -> 8.0))
    assert(f("spending_per_vendor") == Seq("v5" -> 1.0, "v6" -> 2.0, "v2" -> 3.0,
      "v4" -> 4.0, "v3" -> 5.0, "v7" -> 6.0, "v1" -> 7.0))
    assert(f("top_5_vendors") == Seq("v5" -> 1.0, "v6" -> 2.0, "v2" -> 3.0,
      "v4" -> 4.0, "v3" -> 5.0))
    assert(f("pct_change_vendor") == (1 to 7).map(i => s"v$i" -> 0.0))
    assert(f("n_vendors") == 7L && f("total_transactions") == 7L && f("total_spent") == 28.0)
    assert(f("dates") == (Some("2024-01-05") -> Some("2024-01-05")))
  }

  test("report parity: empty input still yields the one row") {
    assert(reportFields(txOf()) == Map(
      "total_spent" -> null, "total_transactions" -> 0L, "dates" -> (None -> None),
      "unique_categories" -> Nil, "n_categories" -> 0L,
      "unique_vendors" -> Nil, "n_vendors" -> 0L) ++ reportLists.map(_ -> Nil))
  }

  test("unpivot round-trips the pivot (dense grid preserved)") {
    val cats = Seq("food", "rent", "toys")
    val wide = SpendingReport.pivotWide(tx, "category", cats)
    val long = SpendingReport.unpivotWide(wide, "category", cats)
      .collect().map(r => (r.getDate(0).toString, r.getString(1)) -> r.getDouble(2)).toMap
    // dense: every (date, category) cell exists, absent cells are 0
    assert(long.size == 9)  // 3 dates x 3 categories
    assert(long(("2024-01-01", "food")) == 10.0)
    assert(long(("2024-01-02", "rent")) == 0.0)  // zero-filled cell survives
    assert(long(("2024-01-03", "toys")) == 10.0)
  }

  test("aggregates are partition-count invariant (scale sanity)") {
    val many = tx.repartition(13)
    val a = SpendingReport.keyTotals(tx, "category").collect()
      .map(r => (r.getString(0), r.getDouble(1), r.getLong(2))).sortBy(_._1)
    val b = SpendingReport.keyTotals(many, "category").collect()
      .map(r => (r.getString(0), r.getDouble(1), r.getLong(2))).sortBy(_._1)
    assert(a.sameElements(b))
  }

  test("trimmedMean: per-key quantile band, inclusive bounds, degenerate key") {
    // "a": 1..20 -> p05 = 1 + 0.05*19 (the FP double, not exact 1.95),
    // p95 = 19.05, keeps 2..19 (mean 10.5)
    // "b": constant 5s -> lo = hi = 5, everything kept (inclusive bounds)
    val rows = (1 to 20).map(i => ("2024-01-01", "a", "v", i.toDouble)) ++
      Seq(("2024-01-01", "b", "v", 5.0), ("2024-01-02", "b", "v", 5.0))
    val df = rows.toDF("dt", "category", "vendor", "amount")
      .selectExpr("to_date(dt) AS txn_date", "category", "vendor", "amount")
    val out = SpendingReport.trimmedMean(df).collect()
      .map(r => r.getString(0) -> ((r.getDouble(1), r.getDouble(2),
        r.getLong(3), r.getDouble(4)))).toMap
    assert(out("a") == ((1.0 + 0.05 * 19, 19.05, 18L, 10.5)))
    assert(out("b") == ((5.0, 5.0, 2L, 5.0)))
    intercept[IllegalArgumentException](
      SpendingReport.trimmedMean(df, loQ = 0.9, hiQ = 0.1))
  }

  test("madByKey: hand-computed median absolute deviation") {
    // "a": 1..5 -> med 3, |x-3| = {2,1,0,1,2} -> mad 1; "b": {7} -> mad 0
    val rows = (1 to 5).map(i => ("2024-01-01", "a", "v", i.toDouble)) :+
      (("2024-01-01", "b", "v", 7.0))
    val df = rows.toDF("dt", "category", "vendor", "amount")
      .selectExpr("to_date(dt) AS txn_date", "category", "vendor", "amount")
    val out = SpendingReport.madByKey(df).collect()
      .map(r => r.getString(0) -> ((r.getDouble(1), r.getDouble(2), r.getLong(3))))
      .toMap
    assert(out("a") == ((3.0, 1.0, 5L)))
    assert(out("b") == ((7.0, 0.0, 1L)))
  }

  private def lit(x: Date) = org.apache.spark.sql.functions.lit(x)
}
