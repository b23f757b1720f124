package graft.dq

import graft.TestSpark
import org.scalatest.funsuite.AnyFunSuite

class DqEngineSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def results(df: org.apache.spark.sql.DataFrame, tests: DqTests,
      fecha: Option[String] = None): Map[String, DqResult] =
    DqEngine.run(spark, df,
        DqConfig(tableName = "t", fecha = fecha, tests = tests), "2024-01-01")
      .collect().map(r => r.test_name -> r).toMap

  test("completeness counts null, empty string and NaN as missing (dq_sql_notes.md:81-84)") {
    val df = Seq(
      ("a", Some(1.0)), ("", Some(2.0)), (null, Some(Double.NaN)), ("d", None))
      .toDF("s", "x")
    val r = results(df, DqTests(completeness = Seq("s", "x")))
    assert(r("completeness_s").failed_records == 2) // "" and null
    assert(r("completeness_x").failed_records == 2) // NaN and null
    assert(r("completeness_s").status == "FAIL")
    assert(r("completeness_s").failure_rate == 0.5)
    assert(r("completeness_s").total_records == 4)
  }

  test("empty slice yields failure_rate 0 (dq_sql_notes.md:94)") {
    val df = Seq(("a", 1.0)).toDF("s", "x").filter($"x" > 99)
    val r = results(df, DqTests(completeness = Seq("s")))
    assert(r("completeness_s").total_records == 0)
    assert(r("completeness_s").failed_records == 0)
    assert(r("completeness_s").failure_rate == 0.0)
    assert(r("completeness_s").status == "PASS")
  }

  test("uniqueness counts duplicate groups (dq_sql_notes.md:114-129)") {
    val df = Seq((1, "a"), (1, "b"), (2, "a"), (2, "a"), (3, "c")).toDF("k", "v")
    val r = results(df, DqTests(uniqueness = Seq(Seq("k"), Seq("k", "v"))))
    assert(r("uniqueness_k").failed_records == 2) // keys 1 and 2 duplicated
    assert(r("uniqueness_k_v").failed_records == 1) // only (2,a)
    assert(r("uniqueness_k").status == "FAIL")
  }

  test("format rules: implemented + declared-but-unimplemented set (SURVEY.md §2.6)") {
    val df = Seq(
      ("USD", 1.5, "Acme", "12345678901", "a@b.com", "+56 2 2345 6789"),
      ("usd", -1.0, "", "123", "not-an-email", "abc"))
      .toDF("currency", "rate", "name", "rut", "email", "phone")
    val r = results(df, DqTests(format = Seq(
      "currency" -> "length_3", "rate" -> "positive", "name" -> "not_empty",
      "rut" -> "numeric_11", "email" -> "email_format", "phone" -> "phone_format")))
    assert(r("format_currency_length_3").failed_records == 1)
    assert(r("format_rate_positive").failed_records == 1)
    assert(r("format_name_not_empty").failed_records == 1)
    assert(r("format_rut_numeric_11").failed_records == 1)
    assert(r("format_email_email_format").failed_records == 1)
    assert(r("format_phone_phone_format").failed_records == 1)
  }

  test("range: null fails; min-only and max-only bounds (dq_sql_notes.md:191-201)") {
    val df = Seq(Some(0.5), Some(5.0), None, Some(-3.0)).toDF("x")
    val all = DqEngine.run(spark, df, DqConfig(tableName = "t", tests =
      DqTests(range = Seq("x" -> RangeBounds(Some(0.0), Some(1.0))))), "d").collect()
    assert(all.head.failed_records == 3) // 5.0 out, null fails, -3 out
    val minOnly = DqEngine.run(spark, df, DqConfig(tableName = "t", tests =
      DqTests(range = Seq("x" -> RangeBounds(Some(0.0), None)))), "d").collect()
    assert(minOnly.head.failed_records == 2) // null + -3
    val maxOnly = DqEngine.run(spark, df, DqConfig(tableName = "t", tests =
      DqTests(range = Seq("x" -> RangeBounds(None, Some(1.0))))), "d").collect()
    assert(maxOnly.head.failed_records == 2) // null + 5.0
  }

  test("custom SQL: row-local fuses, correlated falls back, expected_result honored") {
    val df = Seq((1, 10.0), (2, -5.0), (3, 20.0)).toDF("id", "v")
    val r = results(df, DqTests(customSql = Seq(
      CustomSqlTest("positive_v", "v > 0"),
      CustomSqlTest("expected_one", "v > 15", expectedResult = 2))))
    assert(r("custom_positive_v").failed_records == 1)
    assert(r("custom_positive_v").status == "FAIL")
    // failed=2 (10.0 and -5.0 fail v>15) == expectedResult → PASS
    assert(r("custom_expected_one").failed_records == 2)
    assert(r("custom_expected_one").status == "PASS")
  }

  test("custom_select: full SELECT over other registered tables, reference flagship shape") {
    Seq((1, "USD"), (2, "EUR"), (3, "XXX")).toDF("tid", "currency")
      .createOrReplaceTempView("dq_spec_tx")
    Seq("USD", "EUR").toDF("code").createOrReplaceTempView("dq_spec_codes")
    val df = Seq((1, "USD")).toDF("tid", "currency")
    val r = results(df, DqTests(customSelect = Seq(
      CustomSelectTest("unknown_currency",
        """SELECT t.tid FROM dq_spec_tx t
           WHERE NOT EXISTS (SELECT 1 FROM dq_spec_codes c WHERE c.code = t.currency)"""),
      CustomSelectTest("known_count", "SELECT tid FROM dq_spec_tx WHERE currency = 'XXX'",
        expectedResult = 1))))
    assert(r("custom_unknown_currency").failed_records == 1) // tid 3
    assert(r("custom_unknown_currency").status == "FAIL")
    assert(r("custom_unknown_currency").test_category == "custom_select")
    assert(r("custom_known_count").status == "PASS") // 1 == expected 1
  }

  test("custom_select validator rejects non-SELECT and multi-statement SQL") {
    val df = Seq((1, "a")).toDF("id", "s")
    intercept[IllegalArgumentException] {
      results(df, DqTests(customSelect = Seq(
        CustomSelectTest("bad", "DELETE FROM t"))))
    }
    intercept[IllegalArgumentException] {
      results(df, DqTests(customSelect = Seq(
        CustomSelectTest("bad2", "SELECT 1; SELECT 2"))))
    }
  }

  test("concurrent runs don't cross-contaminate custom-SQL temp views") {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration.Duration
    import scala.concurrent.ExecutionContext.Implicits.global
    // temp_table-qualified references don't resolve against the bare df,
    // so these conditions take the unfusable spark.sql path (per-run view,
    // reference contract preserved through the temp_table alias)
    val futures = (0 until 4).map { i =>
      Future {
        val df = Seq.tabulate(10)(j => (j, i)).toDF("id", "tag")
        results(df, DqTests(customSql = Seq(
          CustomSqlTest("tag_check", s"temp_table.tag = $i AND temp_table.id < 9"))))
      }
    }
    val all = Await.result(Future.sequence(futures), Duration.Inf)
    all.foreach { r =>
      // with a shared fixed view name another run's df could be read
      // instead (wrong tag → all 10 rows fail); per-run views see 1
      assert(r("custom_tag_check").failed_records == 1)
    }
  }

  test("fecha filter slices by date column (dq_sql_notes.md:75)") {
    val df = Seq(
      (java.sql.Date.valueOf("2024-01-01"), "a"),
      (java.sql.Date.valueOf("2024-01-02"), null))
      .toDF("fecha", "s")
    val r = results(df, DqTests(completeness = Seq("s")), fecha = Some("2024-01-01"))
    assert(r("completeness_s").total_records == 1)
    assert(r("completeness_s").failed_records == 0)
  }

  test("classify applies thresholds and critical columns (example_templates.yaml:51-54)") {
    val th = QualityThresholds(completenessThreshold = 95.0, maxFailureRate = 5.0,
      criticalColumns = Seq("rut"))
    def res(cat: String, col: Option[String], rate: Double, status: String) =
      DqResult("d", "t", cat, status, 0, 0, rate, column_name = col)
    val rows = Seq(
      (res("format", None, 0.5, "PASS"), "OK"),
      (res("format", Some("rut"), 0.001, "FAIL"), "CRITICAL"),
      (res("format", Some("x"), 0.01, "FAIL"), "WARNING"),
      (res("format", Some("x"), 0.10, "FAIL"), "CRITICAL"),
      (res("completeness", Some("x"), 0.10, "FAIL"), "CRITICAL"),
      // a table-level result has no column: never critical by name
      (res("custom_sql", None, 0.01, "FAIL"), "WARNING"))
    val alerts = rows.map(_._1).toDS()
      .select(DqEngine.classificationColumn(th)).as[String].collect().toSeq
    assert(alerts == rows.map(_._2))
  }

  test("all rule kinds come back in config category order; the run's temp view is dropped") {
    def dqViews = spark.catalog.listTables().collect().map(_.name).filter(_.startsWith("graft_dq_"))
    Seq(3, 4).toDF("id").createOrReplaceTempView("dq_spec_order_ref")
    val df = Seq((1, "a", 10.0), (1, "b", -1.0), (2, "a", 5.0), (3, "a", 7.0), (4, null, 1.0))
      .toDF("id", "s", "v")
    val tests = DqTests(
      completeness = Seq("s"),
      range = Seq("v" -> RangeBounds(Some(0.0), None)),
      uniqueness = Seq(Seq("id"), Seq("s")),
      customSql = Seq(
        CustomSqlTest("v_small", "temp_table.v < 8"),
        CustomSqlTest("id_low", "temp_table.id <= 3", expectedResult = 1)),
      customSelect = Seq(CustomSelectTest("ref_hit",
        "SELECT r.id FROM dq_spec_order_ref r WHERE r.id IN (1, 3)")))
    val rows = DqEngine.run(spark, df, DqConfig(tableName = "t", tests = tests), "d").collect()
    assert(rows.map(r => (r.test_name, r.test_category, r.failed_records, r.status)).toSeq == Seq(
      ("completeness_s", "completeness", 1L, "FAIL"),
      ("range_v", "range", 1L, "FAIL"),
      ("uniqueness_id", "uniqueness", 1L, "FAIL"), // id 1 twice
      ("uniqueness_s", "uniqueness", 1L, "FAIL"), // 'a' three times; null once
      ("custom_v_small", "custom", 1L, "FAIL"), // 10.0
      ("custom_id_low", "custom", 1L, "PASS"), // id 4, expected 1
      ("custom_ref_hit", "custom_select", 1L, "FAIL"))) // id 3
    assert(rows.forall(_.total_records == 5L))
    assert(dqViews.isEmpty, dqViews.mkString(","))
    // a statement that throws still drops the view
    intercept[Exception] {
      DqEngine.run(spark, df, DqConfig(tableName = "t", tests = DqTests(
        uniqueness = Seq(Seq("id")),
        customSql = Seq(CustomSqlTest("boom", "temp_table.id / 0 > 1")))), "d").collect()
    }
    assert(dqViews.isEmpty, dqViews.mkString(","))
    spark.catalog.dropTempView("dq_spec_order_ref")
  }
}
