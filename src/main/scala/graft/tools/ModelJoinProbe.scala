package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Measures the broadcast-vs-shuffle crossover of
  * [[graft.ops.Distributed.modelJoin]]'s two arms at model-shaped row
  * counts — the r11 verdict's "the 10M-row broadcast default is
  * asserted, not measured" companion to VocabFormProbe:
  *
  *  - BUILD side: a model-shaped frame — a 32-hex-char token key plus
  *    three BIGINT weights, the NB-model / tokenizer piece-count shape
  *    every modelJoin call site serves — at 10⁵ / 10⁶ / 10⁷ rows.
  *  - PROBE side: a corpus-shaped token stream (2·10⁷ rows) whose keys
  *    hit the model uniformly, generated by codegen'd range→md5 so the
  *    probe cost is identical across arms and sizes.
  *
  * Both arms run the SAME join + partial-aggregated consumption into
  * the noop sink with Spark's own auto-broadcast disabled, so the only
  * variable is the arm: the gate's broadcast hint vs the key-partitioned
  * shuffle join it degrades to above the threshold. The broadcast arm's
  * cost model is a driver collect + per-executor hash relation build;
  * the shuffle arm's is one shuffle of each side. A broadcast arm that
  * FAILS (driver/broadcast memory) is recorded as such — that is a
  * measurement too, and the reason the gate exists.
  *
  * Run: `sbt "runMain graft.tools.ModelJoinProbe"` (no fixture needed;
  * one untimed warm run, then median of 3 per arm; results → SCALE.md
  * and the default in Distributed.modelJoin).
  */
object ModelJoinProbe {

  def main(args: Array[String]): Unit = {
    val cpus = graft.Sessions.cpus
    val spark = graft.Sessions.local(cpus)
    // the arm under test must be the gate's choice, never the planner's
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")

    val probeRows = sys.env.get("MODELJOIN_PROBE_ROWS")
      .map(_.toLong).getOrElse(20000000L)

    def keyed(modelRows: Long, rows: Long): DataFrame =
      spark.range(0L, rows, 1L, cpus)
        .select(md5(concat(lit("t"),
          pmod(col("id"), lit(modelRows)).cast("string"))).as("token"),
          col("id"))

    def time(df: => DataFrame): Double = {
      val runs = Vector.fill(3) {
        val t0 = System.nanoTime()
        df.write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t0) / 1e9
      }
      runs.sorted.apply(1)
    }

    val sizes = sys.env.get("MODELJOIN_SIZES")
      .map(_.split(",").toSeq.map(_.trim.toLong))
      .getOrElse(Seq(100000L, 1000000L, 10000000L))

    println("model_rows,probe_rows,broadcast_s,shuffle_s")
    for (n <- sizes) {
      val build = keyed(n, n)
        .select(col("token"), col("id").as("w1"),
          (col("id") * 2).as("w2"), (col("id") + 7).as("w3"))
        .localCheckpoint()
      build.count()
      val probe = keyed(n, probeRows).select("token")
      def consume(j: DataFrame): DataFrame =
        j.agg(sum(col("w1")).as("s"), count(lit(1)).as("c"))
      def bcastArm: DataFrame =
        consume(probe.join(broadcast(build), Seq("token")))
      def shufArm: DataFrame =
        consume(probe.join(build, Seq("token")))
      val tShuf = {
        shufArm.write.format("noop").mode("overwrite").save() // warm
        time(shufArm)
      }
      val tBcast =
        try {
          bcastArm.write.format("noop").mode("overwrite").save() // warm
          f"${time(bcastArm)}%.2f"
        } catch {
          case t: Throwable => s"FAILED(${t.getClass.getSimpleName})"
        }
      println(f"$n,$probeRows,$tBcast,$tShuf%.2f")
    }
    spark.stop()
  }
}
