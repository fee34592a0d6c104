package graft.tools

import java.io.File

import org.apache.spark.sql.functions._

import graft.source.MailboxGen

/** One-off probe at the REFERENCE'S OWN published scale.
  *
  * The reference's headline number (its README.md:8-19) is
  * a `count(*)` via `read_pst_message` over an Enron glob of 167 PST
  * files / 1,170,000 messages in 0.564 s — answered from planning
  * statistics alone. This main reproduces that exact shape against the
  * connector: 167 archives × 7,005 messages = 1,169,835 messages, then
  * times (a) the statistics-backed count(*) and (b) a full projected
  * scan aggregate, median of 5 after warmup.
  *
  * The corpus generates once under target/ref_scale (~0.5 GB, not
  * committed); re-runs reuse it. Results are recorded in SCALE.md —
  * this is the apples-to-apples row for BASELINE.md's headline metric.
  */
object RefScaleBench {
  private val Files = 167
  private val MsgsPerFile = 7005

  def main(args: Array[String]): Unit = {
    val dir = new File("target/ref_scale")
    if (!new File(dir, s"box${Files - 1}.mbx.idx").exists()) {
      val t0 = System.nanoTime()
      (0 until Files).foreach { i =>
        MailboxGen.writeFile(new File(dir, s"box$i.mbx"),
          MailboxGen.syntheticLines(8, MsgsPerFile, i))
      }
      println(f"generated $Files files in ${(System.nanoTime() - t0) / 1e9}%.1f s")
    }

    val cpus = graft.Sessions.cpus
    val spark = graft.Sessions.local(cpus)

    val glob = new File(dir, "*.mbx").getPath
    def countQuery() = graft.source.Mailbox.messages(spark, glob)
      .agg(count(lit(1)).as("cnt"))
    // max(length(subject)) is not stats-answerable, so this measures a
    // REAL full scan (the group-by count alone would now be answered
    // from the sidecars and read nothing)
    def scanQuery() = graft.source.Mailbox.messages(spark, glob)
      .groupBy("message_class")
      .agg(count(lit(1)).as("n"), max(length(col("subject"))).as("ml"))
    // the pushed shape: per-class count + delivery min/max from the v3
    // sidecars' per-class stats — zero execution IO
    def classStatsQuery() = graft.source.Mailbox.messages(spark, glob)
      .groupBy("message_class")
      .agg(count(lit(1)).as("n"),
        min(col("message_delivery_time")).as("mn"),
        max(col("message_delivery_time")).as("mx"))
    // the reference's second published number: select * with
    // read_limit=5 in 0.012 s (plan-time GLOBAL limit, README.md:39-56)
    def limitQuery() = graft.source.Mailbox
      .messages(spark, glob, Map("read_limit" -> "5"))
      .select("node_id", "subject", "message_class")

    def time(f: () => Unit): Double = {
      val t0 = System.nanoTime(); f(); (System.nanoTime() - t0) / 1e9
    }
    def median(xs: Seq[Double]): Double = xs.sorted.apply(xs.size / 2)

    // warmup (codegen + page cache for the planning reads)
    countQuery().collect(); scanQuery().collect()

    // planning-only: force physical planning + DSv2 partition planning
    // without running a job
    val plans = (1 to 3).map(_ => time(() => {
      val df = countQuery()
      df.queryExecution.executedPlan
      ()
    }))
    println(s"plan_only_runs=[${plans.map(x => f"$x%.4f").mkString(",")}]")

    val counts = (1 to 5).map(_ => time(() => {
      val n = countQuery().collect()(0).getLong(0)
      require(n == Files.toLong * MsgsPerFile, s"bad count $n")
    }))
    val scans = (1 to 5).map(_ => time(() => scanQuery().collect()))
    classStatsQuery().collect() // warm
    val grouped = (1 to 5).map(_ => time(() => {
      require(classStatsQuery().collect().length == 6)
    }))
    limitQuery().collect() // warm
    val limits = (1 to 5).map(_ => time(() => {
      require(limitQuery().collect().length == 5)
    }))

    println(
      s"""{"metric":"ref_scale","files":$Files,"messages":${Files.toLong * MsgsPerFile},""" +
        s""""count_star_sec":${median(counts)},"count_runs":[${counts.map(x => f"$x%.4f").mkString(",")}],""" +
        s""""class_scan_sec":${median(scans)},"scan_runs":[${scans.map(x => f"$x%.4f").mkString(",")}],""" +
        s""""class_stats_pushdown_sec":${median(grouped)},"grouped_runs":[${grouped.map(x => f"$x%.4f").mkString(",")}],""" +
        s""""limit5_sec":${median(limits)},"limit_runs":[${limits.map(x => f"$x%.4f").mkString(",")}],""" +
        s""""reference_count_sec":0.564,"reference_limit5_sec":0.012}""")
    spark.stop()
  }
}
