package graft.tools

import java.nio.file.{Files, Paths}

/** Dumps `.explain("formatted")` for named registry queries to files —
  * the optimization-round evidence artifact (plans/r13/<q>_{before,after}.txt).
  *
  * Usage: runMain graft.tools.ExplainDump <outDir> <suffix> <query...>
  * e.g.   runMain graft.tools.ExplainDump plans/r13 before q_theil_sen q_setsim_join
  *
  * Uses the bench's own session ([[graft.Sessions.local]] on
  * SPARK_GRAFT_CPUS cores), so the dumped plan is the plan the bench
  * executes — not a differently-configured one.
  */
object ExplainDump {
  def main(args: Array[String]): Unit = {
    require(args.length >= 3, "usage: ExplainDump <outDir> <suffix> <query...>")
    val outDir = Paths.get(args(0))
    val suffix = args(1)
    val names  = args.drop(2).toSeq
    Files.createDirectories(outDir)
    val sf   = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = graft.Sessions.local(graft.Sessions.cpus)
    val byName = graft.SparkEntry.registry.map(q => q.name -> q).toMap
    for (n <- names) {
      val q = byName.getOrElse(n, sys.error(s"unknown query: $n"))
      val df = q.fn(spark, sf)
      val plan = df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      Files.write(outDir.resolve(s"${n}_$suffix.txt"),
        plan.getBytes("UTF-8"))
      println(s"wrote ${outDir.resolve(s"${n}_$suffix.txt")}")
    }
    spark.stop()
  }
}
