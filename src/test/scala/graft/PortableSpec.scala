package graft

import graft.functions.Portable._
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Portable-primitive parity with the reference's escaping/formatting
  * (etl_job.py:762-844) and the JVM/Spark hash60 twin. */
class PortableSpec extends SparkSpec {
  import spark.implicits._

  private def evalStr(c: Column, v: String): String =
    Seq(v).toDF("v").select(c.as("r")).head().getString(0)
  private def evalDouble(c: Column, v: Double): String =
    Seq(v).toDF("v").select(c.as("r")).head().getString(0)

  test("tsvEscape: backslash first, then tab, then newline (R3)") {
    assert(evalStr(tsvEscape(col("v")), "a\\b\tc\nd") == "a\\\\b\\tc\\nd")
    assert(evalStr(tsvEscape(col("v")), "plain") == "plain")
    // already-escaped input must not double-unescape: \t literal 2-char
    assert(evalStr(tsvEscape(col("v")), "x\\ty") == "x\\\\ty")
  }

  test("chArray: ClickHouse array literal with quote escaping (R3)") {
    val df = Seq(Seq("a'b", "c", "d\te")).toDF("v")
    val r = df.select(chArray(col("v")).as("r")).head().getString(0)
    assert(r == "['a\\'b','c','d\\te']")
    val empty = Seq(Seq.empty[String]).toDF("v")
      .select(chArray(col("v")).as("r")).head().getString(0)
    assert(empty == "[]")
  }

  test("formatFloat matches the reference's _format_float (R4)") {
    // expectations generated from the reference implementation
    // (etl_job.py:810-844) run under CPython
    val cases = Seq(
      6.55 -> "6.55", 5.0 -> "5", 0.0001 -> "0.0001",
      1e-7 -> "0.0000001", 1.23e20 -> "123000000000000000000",
      -0.0 -> "-0", 1234567.25 -> "1234567.25", 0.1 -> "0.1",
      123456789012345.6 -> "123456789012346",
      1e15 -> "1000000000000000",
      2.5 -> "2.5", -3.75 -> "-3.75", 1e-5 -> "0.00001")
    cases.foreach { case (v, expected) =>
      assert(evalDouble(formatFloat(col("v")), v) == expected,
        s"formatFloat($v)")
    }
    assert(evalDouble(formatFloat(col("v")), Double.NaN) == "nan")
    assert(evalDouble(formatFloat(col("v")), Double.PositiveInfinity) == "inf")
    assert(evalDouble(formatFloat(col("v")), Double.NegativeInfinity) == "-inf")
  }

  test("formatFloat renders the exact binary value, correctly rounded, " +
      "like CPython (no shortest-repr padding, no double rounding)") {
    // expectations from CPython: f"{v:.15g}", "%.15f" when that is
    // scientific, trailing zeros and point stripped
    val cases = Seq(
      6.02214076e+23 -> "602214075999999987023872",
      556.4543226524335 -> "556.454322652433",
      (0.1 + 0.2) -> "0.3",
      1e16 -> "10000000000000000",
      -2.5e+21 -> "-2500000000000000000000",
      999999999999999.9 -> "999999999999999.875",
      9.999999999999999e-05 -> "0.0001",
      12345678.12345679 -> "12345678.1234568",
      -1e-20 -> "-0", 5e-324 -> "0")
    cases.foreach { case (v, expected) =>
      assert(graft.functions.FloatFormat.formatString(v) == expected,
        s"formatString($v)")
      assert(evalDouble(formatFloat(col("v")), v) == expected,
        s"formatFloat($v)")
    }
  }

  test("centsStr / microsSecondsStr exact integer rendering") {
    assert(evalDouble(centsStr(col("v")), 12.31) == "12.31")
    assert(evalDouble(centsStr(col("v")), 0.0) == "0.00")
    assert(evalDouble(centsStr(col("v")), -1.5) == "-1.50")
    assert(evalDouble(centsStr(col("v")), 7.0) == "7.00")
    val r = Seq(1700000000123456L).toDF("v")
      .select(microsSecondsStr(col("v")).as("r")).head().getString(0)
    assert(r == "1700000000.123456")
    val r2 = Seq(5000000L).toDF("v")
      .select(microsSecondsStr(col("v")).as("r")).head().getString(0)
    assert(r2 == "5.000000")
  }

  test("hash60 (Spark) == hash60Jvm (plan-time constants)") {
    val samples = Seq("", "a", "mh_a:0", "0:63", "w:hello world", "τεστ")
    val sparkVals = samples.toDF("v")
      .select(hash60(col("v")).as("h")).collect().map(_.getLong(0))
    samples.zip(sparkVals).foreach { case (s, h) =>
      assert(hash60Jvm(s) == h, s"hash60('$s')")
      assert(h >= 0, "hash60 must be non-negative (60-bit)")
    }
  }
}
