package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The events fixture has shipped ts in two physical forms —
  * TIMESTAMP(NANOS) (read as a raw ns BIGINT under the legacy conf)
  * and native µs timestamps (read as TIMESTAMP_NTZ). These tests pin
  * the schema-tolerant helpers in [[Tables]] so a future fixture flip
  * cannot silently break the readers again.
  */
class TablesTsSpec extends AnyFunSuite with SessionSuite {

  override protected def cpus: Int = 2

  private val us = 1700000000123456L // some µs epoch with sub-ms precision

  private def nsFrame = {
    import spark.implicits._
    Seq((1L, us * 1000L + 789L)).toDF("event_id", "ts") // ns, sub-µs tail
  }

  private def ntzFrame = {
    val df = nsFrame.select(col("event_id"),
      expr(s"timestamp_micros(${us}L)").cast("timestamp_ntz").as("ts"))
    assert(df.schema("ts").dataType ==
      org.apache.spark.sql.types.TimestampNTZType)
    df
  }

  test("tsIsRawNs discriminates the two physical forms") {
    assert(Tables.tsIsRawNs(nsFrame))
    assert(!Tables.tsIsRawNs(ntzFrame))
  }

  test("tsMicros yields the same epoch-µs long from either form") {
    val fromNs = nsFrame.select(Tables.tsMicros(nsFrame).as("us"))
      .head().getLong(0)
    val fromNtz = ntzFrame.select(Tables.tsMicros(ntzFrame).as("us"))
      .head().getLong(0)
    assert(fromNs === us)   // ns floor-truncates, matching DuckDB's read
    assert(fromNtz === us)
  }

  test("tsLiteral round-trips through parquet under the source schema") {
    for (frame <- Seq(nsFrame, ntzFrame)) {
      val lit = frame.limit(1)
        .withColumn("ts", Tables.tsLiteral(frame, us + 42L))
      // the sentinel column type must match the source frame's, so one
      // declared read schema covers original + sentinel files
      assert(lit.schema("ts").dataType == frame.schema("ts").dataType)
      val back = lit.select(Tables.tsMicros(lit).as("us")).head().getLong(0)
      assert(back === us + 42L)
    }
  }
}
