package graft

import org.scalatest.funsuite.AnyFunSuite

/** Round-14 optimization guards.
  *
  * Spread-path equivalence under a FORCED gate (r13 verdict item: the
  * driver's sf0.01 oracle never exercises `Tables.spreadForCompute`
  * because every sf0.01 file sits under the 256 KiB floor, so spread
  * correctness rested on a builder-run sf0.1 sweep). Here the floor is
  * lowered to 0 via the test-only conf, making the gate fire at spec
  * scale, and spread-eligible queries are asserted bit-equal to their
  * gate-off plans — so the driver's own `sbt test` run covers the
  * spread mechanism every round.
  */
class Round14BatchSpec extends AnyFunSuite with SessionSuite {

  private val sf = "/root/testdata/sf0.001"

  /** Collected, order-normalized rows of `name` under the given spread
    * confs (restored afterwards so other suites see the defaults).
    */
  private def rowsWith(name: String, spread: Boolean): Vector[String] =
    withConf(Tables.SpreadConfKey, spread.toString) {
      withConf(Tables.SpreadMinBytesConfKey, "0") {
        SparkEntry.queries(name)(spark, sf)
          .collect().map(_.toString).sorted.toVector
      }
    }

  for (q <- Seq("q_bootstrap_ci", "q_simhash", "q_winnow", "q_span_corruption"))
    test(s"$q is bit-equal with the spread gate forced ON at spec scale " +
      "(floor = 0) vs the gate-off plan") {
      val off = rowsWith(q, spread = false)
      val on  = rowsWith(q, spread = true)
      assert(on.nonEmpty, s"$q returned no rows — vacuous equivalence")
      assert(on === off, s"$q result changed under the forced spread gate")
    }

  test("the forced gate actually fires at spec scale: scanStarved is " +
    "true under floor 0 and false under the default floor") {
    withConf(Tables.SpreadMinBytesConfKey, "0") {
      assert(Tables.scanStarved(spark, sf, "documents"),
        "floor 0 must make the sf0.001 documents scan spread-eligible")
    }
    assert(!Tables.scanStarved(spark, sf, "documents"),
      "default floor must keep the sf0.001 documents scan un-spread " +
        "(the sf0.001 plan-shape suite depends on it)")
  }
}
