package graft.streaming

import org.apache.spark.sql.Row
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestBase

/** The driver-side bucket id ([[CdcApply.bucketOfLiterals]]) that point
  * reads use must name the bucket the write path's [[CdcApply.bucketCol]]
  * puts the row in, for every key type: the hash is type-sensitive.
  */
class BucketIdSpec extends AnyFunSuite with SparkTestBase {

  private val n = 16

  private def check(dt: DataType, probes: Seq[(Any, Any)]): Unit = {
    val schema = StructType(Seq(StructField("k", dt)))
    probes.foreach { case (probe, stored) =>
      val inQuery = spark.createDataFrame(
          java.util.List.of(Row(stored)), schema)
        .select(CdcApply.bucketCol(Seq("k"), n)).head().getInt(0)
      val onDriver = CdcApply.bucketOfLiterals(spark,
        Seq(CdcApply.keyLit(Some(schema), "k", probe)), n)
      assert(onDriver == inQuery, s"$dt: probe $probe, stored $stored")
    }
  }

  test("driver-side bucket id equals the query's for long, int, " +
      "string, decimal and date keys") {
    check(LongType, Seq(7L -> 7L, 7 -> 7L, -1L -> -1L,
      Long.MaxValue -> Long.MaxValue))
    check(IntegerType, Seq(7 -> 7, 7L -> 7, Int.MinValue -> Int.MinValue))
    check(StringType, Seq("a" -> "a", "" -> "", "世界😀" -> "世界😀",
      42 -> "42"))
    check(DecimalType(10, 3), Seq(
      new java.math.BigDecimal("12.345") -> new java.math.BigDecimal("12.345"),
      "-0.5" -> new java.math.BigDecimal("-0.500"),
      3 -> new java.math.BigDecimal("3.000")))
    check(DateType, Seq(
      "2024-02-29" -> java.sql.Date.valueOf("2024-02-29"),
      java.time.LocalDate.of(1970, 1, 1) ->
        java.sql.Date.valueOf("1970-01-01")))
  }

  test("a timestamp probe of a date key casts in the session time zone") {
    val schema = StructType(Seq(StructField("k", DateType)))
    val prior = spark.conf.get("spark.sql.session.timeZone")
    // 03:00 UTC is still the previous day in Los Angeles
    val ts = java.sql.Timestamp.from(java.time.Instant.parse(
      "2024-03-01T03:00:00Z"))
    def both: (Int, Int) = (
      CdcApply.bucketOfLiterals(spark,
        Seq(CdcApply.keyLit(Some(schema), "k", ts)), n),
      spark.range(1).select(org.apache.spark.sql.functions.lit(ts)
          .cast(DateType).as("k"))
        .select(CdcApply.bucketCol(Seq("k"), n)).head().getInt(0))
    try {
      spark.conf.set("spark.sql.session.timeZone", "America/Los_Angeles")
      val (la, laQuery) = both
      assert(la == laQuery)
      spark.conf.set("spark.sql.session.timeZone", "UTC")
      val (utc, utcQuery) = both
      assert(utc == utcQuery)
      assert(la == spark.createDataFrame(
          java.util.List.of(Row(java.sql.Date.valueOf("2024-02-29"))), schema)
        .select(CdcApply.bucketCol(Seq("k"), n)).head().getInt(0))
    } finally spark.conf.set("spark.sql.session.timeZone", prior)
  }

  test("multi-column keys hash in bucket-column order") {
    val schema = StructType(Seq(StructField("a", LongType),
      StructField("b", StringType), StructField("c", DateType)))
    val inQuery = spark.createDataFrame(java.util.List.of(
        Row(5L, "x", java.sql.Date.valueOf("2020-01-02"))), schema)
      .select(CdcApply.bucketCol(Seq("c", "a", "b"), n)).head().getInt(0)
    val keys = Seq("c" -> "2020-01-02", "a" -> 5, "b" -> "x")
    assert(CdcApply.bucketOfLiterals(spark, keys.map { case (k, v) =>
      CdcApply.keyLit(Some(schema), k, v) }, n) == inQuery)
  }
}
