package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.ops.Bpe

/** Measures the two physical forms of BPE merge application at
  * production merge counts — the BPE sibling of VocabFormProbe
  * (which bounded the MaxMatch typedlit form at 41× for 32k pieces),
  * completing the r11 verdict's ask with BOTH branches: the table
  * arm exists (Bpe.tableFormCounts, form-gated) AND the literal
  * arm's degradation is measured, not asserted.
  *
  *  - LITERAL: the toy-size serving shape — K trained merges folded
  *    into a K-step replace chain over each distinct word
  *    (Bpe.literalFormCounts). The PLAN grows linearly in K (every
  *    replace is one more expression node), so beyond codegen limits
  *    the chain runs interpreted, and every task closure carries the
  *    whole chain.
  *  - TABLE: Bpe.tableFormCounts — merges as a (rank, a, b) relation,
  *    rank-ordered iterative merging bounded by word length; K only
  *    changes the join build side.
  *
  * The merge table is synthetic but BPE-well-formed (every merge's
  * constituents are base chars or earlier merge products): level-1
  * merges pair the 16 hex chars (256 ranks), level-2 extends each
  * 2-char product by one hex char (4,096 more), level-3 extends
  * 3-char products (65k more) — the first K in (level, a, b) order.
  * Both forms apply the SAME table to the SAME derived word
  * population (the XL rung's salted digest words, sf0.1), and their
  * total piece counts are required equal when both complete. A
  * literal arm that fails to plan or run is recorded as FAILED —
  * that is the measurement.
  *
  * Run: `sbt "runMain graft.tools.BpeFormProbe"` (one untimed warm
  * run, then median of 3 per arm).
  */
object BpeFormProbe {

  private val Hex = "0123456789abcdef"

  /** First k merges in (level, a, b) order; well-formed by level. */
  private def merges(k: Int): Seq[(Int, String, String, String, Long)] = {
    val l1 = for (a <- Hex; b <- Hex) yield (a.toString, b.toString)
    val l2 = for ((a, b) <- l1; c <- Hex) yield (a + b, c.toString)
    val l3 = for ((a, b) <- l2.take(4096); c <- Hex) yield (a + b, c.toString)
    (l1 ++ l2 ++ l3).take(k).zipWithIndex
      .map { case ((a, b), i) => (i + 1, a, b, a + b, 1L) }
  }

  def main(args: Array[String]): Unit = {
    val cpus = graft.Sessions.cpus
    val spark = graft.Sessions.local(cpus)
    val d = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

    // the XL rung's derived word population (4 salted digests per doc)
    val words = graft.Tables.documents(spark, d)
      .select(explode(array((0 until 4).map(j =>
        md5(concat(lit(s"$j|"), col("text")))): _*)).as("word"))
      .groupBy("word").agg(count(lit(1)).as("freq"))
      .localCheckpoint()
    val nWords = words.count()

    def time(df: => DataFrame): Double = {
      val runs = Vector.fill(3) {
        val t0 = System.nanoTime()
        df.write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t0) / 1e9
      }
      runs.sorted.apply(1)
    }
    def total(df: DataFrame): Long =
      df.agg(sum(col("np"))).head().getLong(0)

    println("k,n_words,literal_s,table_s,plan_chars_literal")
    val sizes = sys.env.get("BPE_PROBE_SIZES")
      .map(_.split(",").toSeq.map(_.trim.toInt))
      .getOrElse(Seq(1024, 4096, 32768))
    for (k <- sizes) {
      val m = merges(k)
      def tableArm: DataFrame = Bpe.tableFormCounts(spark, words, m)
      // the table arm runs its loop eagerly; time end to end
      val t0 = System.nanoTime()
      val tabDf = tableArm
      tabDf.write.format("noop").mode("overwrite").save()
      val warmTab = (System.nanoTime() - t0) / 1e9
      val tTab = {
        val runs = Vector.fill(3) {
          val t1 = System.nanoTime()
          Bpe.tableFormCounts(spark, words, m)
            .write.format("noop").mode("overwrite").save()
          (System.nanoTime() - t1) / 1e9
        }
        runs.sorted.apply(1)
      }
      val sTab = total(Bpe.tableFormCounts(spark, words, m))

      def literalArm: DataFrame = Bpe.literalFormCounts(words, m)
      val lit =
        try {
          literalArm.write.format("noop").mode("overwrite").save() // warm
          val t = time(literalArm)
          val pChars = literalArm.queryExecution.executedPlan.toString.length
          val sLit = total(literalArm)
          require(sLit == sTab, s"form mismatch at k=$k: $sLit vs $sTab")
          (f"$t%.2f", pChars.toString)
        } catch {
          case t: Throwable =>
            (s"FAILED(${t.getClass.getSimpleName})", "-")
        }
      println(f"$k,$nWords,${lit._1},$tTab%.2f,${lit._2} (table warm $warmTab%.2f)")
    }
    spark.stop()
  }
}
