package graft

import org.apache.logging.log4j.Level
import org.apache.logging.log4j.core.config.Configurator
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.WholeStageCodegenExec

/** The one place a SparkSession is built: Bench, Verify, the tools and
  * every spec run the same session, with [[GraftExtensions]] installed.
  */
object Sessions {

  /** Cores for mains and tools: `SPARK_GRAFT_CPUS`, default 4. */
  lazy val cpus: Int = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt

  /** The bench's session on `local[cpus]`. Fails, naming both masters,
    * when a context with another master is already running: the builder
    * would otherwise reuse it and silently drop this session's static
    * confs.
    */
  def local(cpus: Int): SparkSession = {
    val master = s"local[$cpus]"
    SparkSession.getActiveSession.orElse(SparkSession.getDefaultSession)
      .map(_.sparkContext).filterNot(_.isStopped).foreach { sc =>
        if (sc.master != master) throw new IllegalStateException(
          s"a SparkContext with master ${sc.master} is running; " +
            s"cannot build a session on $master")
      }
    val spark = SparkSession.builder()
      .master(master)
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.adaptive.enabled", "true")
      // State-store async maintenance (default interval 60 s) collides
      // with short-lived streaming queries: the snapshot upload lands
      // inside a timed bench pass and shows as one ~5 s max task (the
      // q_stream_drift straggler, r11). Maintenance only compacts state
      // files, and every stream here is torn down within seconds.
      .config("spark.sql.streaming.stateStore.maintenanceInterval", "3600s")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // a stage whose generated method exceeds the JIT's huge-method limit
    // runs interpreted, and Spark says so only at INFO ("Found too long
    // generated codes ... whole-stage codegen was disabled")
    Configurator.setLevel(classOf[WholeStageCodegenExec].getName, Level.INFO)
    spark
  }
}
