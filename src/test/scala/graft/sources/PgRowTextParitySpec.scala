package graft.sources

import java.time.{Instant, LocalDate}

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession

/** [[PgRowText]] renders every type the ETL frames carry exactly as
  * Spark's `cast(string)` (atomic types) and `to_json` (arrays) do — the
  * text the parquet and JDBC sinks land — so moving the Postgres sink
  * onto the DSv2 write changes no landed value. Timestamps are the one
  * deliberate difference: an ISO-8601 UTC instant instead of a
  * session-zone wall clock. No server needed.
  */
class PgRowTextParitySpec extends AnyFunSuite with SparkTestSession {

  private val schema = StructType(Seq(
    StructField("i", IntegerType), StructField("l", LongType),
    StructField("s", ShortType), StructField("d", DoubleType),
    StructField("dec", DecimalType(38, 18)), StructField("dec2", DecimalType(38, 2)),
    StructField("b", BooleanType), StructField("dt", DateType),
    StructField("str", StringType),
    StructField("arr", ArrayType(StringType, containsNull = true))))

  private val rows = Seq(
    Row(0, 0L, 0.toShort, 0.0, new java.math.BigDecimal("0"),
      new java.math.BigDecimal("0.00"), false, LocalDate.of(2024, 2, 29),
      "", Seq.empty[String]),
    Row(-7, Long.MaxValue, Short.MinValue, -1.5,
      new java.math.BigDecimal("12.5"), new java.math.BigDecimal("-3.10"),
      true, LocalDate.of(1900, 1, 1), "tab\there \"q\" \\ ünï",
      Seq("a", null, "quote\" back\\ nl\n cr\r tab\t", "ctl\u0001\b\f\u001f", "ü😀")),
    Row(Int.MaxValue, Long.MinValue, Short.MaxValue, 1.0e20,
      new java.math.BigDecimal("-0.000000000000000001"),
      new java.math.BigDecimal("123456789012345678901234567890123456.78"),
      true, LocalDate.of(9999, 12, 31), "plain", Seq("x")),
    Row(42, 1L, 1.toShort, 1.0e-5,
      new java.math.BigDecimal("12345678901234567890.123456789012345678"),
      new java.math.BigDecimal("5.50"), false, LocalDate.of(1970, 1, 1),
      "line\nbreak", Seq("[1,2]", "{\"k\":1}")),
    Row(null, null, null, null, null, null, null, null, null, null))

  test("every ETL column type renders as cast(string) / to_json would") {
    val df = spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema)
    val width = schema.length
    val plan = df.select(schema.fieldNames.map(col).toSeq ++
      schema.fields.map { f =>
        f.dataType match {
          case _: ArrayType => to_json(col(f.name))
          case _ => col(f.name).cast("string")
        }
      }.toSeq: _*)
    val render = PgRowText.converters(schema)
    val internal = plan.queryExecution.executedPlan.executeCollect()
    assert(internal.length == rows.length)
    for ((r, n) <- internal.zipWithIndex; i <- 0 until width) {
      val want = if (r.isNullAt(width + i)) null else r.getUTF8String(width + i).toString
      assert(render(i)(r) == want, s"row $n column ${schema(i).name}")
    }
  }

  test("timestamps render as ISO-8601 UTC instants, independent of the session zone") {
    val ts = StructType(Seq(StructField("ts", TimestampType)))
    val instants = Seq("2024-07-01T12:00:00Z", "2024-02-29T23:59:59.500Z",
      "1969-12-31T23:59:59.000001Z").map(Instant.parse)
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(instants.map(Row(_)), 1), ts)
    val render = PgRowText.converters(ts)
    val got = df.queryExecution.executedPlan.executeCollect().map(render(0)(_))
    assert(got.toSeq == Seq("2024-07-01T12:00:00Z", "2024-02-29T23:59:59.500Z",
      "1969-12-31T23:59:59.000001Z"))
    // The old plan-side cast printed the session-zone wall clock with no
    // offset, which a UTC-pinned server reads as UTC.
    val ny = spark.newSession()
    ny.conf.set("spark.sql.session.timeZone", "America/New_York")
    assert(ny.createDataFrame(ny.sparkContext.parallelize(instants.take(1).map(Row(_)), 1), ts)
      .select(col("ts").cast("string")).head().getString(0) == "2024-07-01 08:00:00")
  }

  test("nested struct and map columns are rejected at plan time") {
    for (dt <- Seq[DataType](
        StructType(Seq(StructField("x", IntegerType))),
        MapType(StringType, IntegerType),
        ArrayType(ArrayType(StringType)))) {
      val err = intercept[IllegalArgumentException](
        PgRowText.validate(StructType(Seq(StructField("c", dt)))))
      assert(err.getMessage.contains("COPY text"), err.getMessage)
    }
  }
}
