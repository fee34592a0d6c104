package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import org.scalatest.funsuite.AnyFunSuite

/** The ULP claim behind the `q_correlation` oracle (`ops.Stats`), checked
  * without DuckDB. The query's exact sums are DECIMAL(38,4). Spark casts
  * one to DOUBLE by rounding its `BigDecimal` once, which is what parsing
  * the decimal's string gives (the oracle's VARCHAR route). DuckDB's
  * DECIMAL→DOUBLE divides the mantissa's double by 10⁴, a second
  * rounding, and at sf0.001 that lands one ULP off for some group.
  */
class CorrelationUlpSpec extends AnyFunSuite with SessionSuite {

  test("q_correlation's syy casts to double as its string parses, not as " +
    "its mantissa divided by 10^4") {
    val price = Exact.dec(col("l_extendedprice"))
    val df = Tables.lineitem(spark, "/root/testdata/sf0.001")
      .groupBy("l_returnflag").agg(sum(price * price).as("syy"))
      .select(col("l_returnflag"), col("syy"), col("syy").cast("double").as("d"))
    assert(df.schema("syy").dataType == DecimalType(38, 4))
    val routes = df.collect().toSeq.map { r =>
      val syy = r.getDecimal(1)
      (r.getString(0), r.getDouble(2), syy.doubleValue,
        syy.toString.toDouble, syy.unscaledValue.doubleValue / 1e4)
    }
    assert(routes.forall { case (_, cast, big, _, _) => cast == big }, routes)
    assert(routes.exists { case (_, _, big, varchar, duckdb) =>
      big == varchar && big != duckdb }, routes)
  }
}
